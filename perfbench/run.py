#!/usr/bin/env python3
"""spark-graft benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` by
``perfbench/gen.py`` in a separate process and cached under
``.perfbench/cache``; the measured process only reads them. Each run gets
fresh directories for the table, Spark's local dir, the warehouse and
temporary files under ``.perfbench/runs`` and removes them at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans and
Spark/JVM figures, prints the per-layer table and metrics, and writes the
spans and the stage ledger to ``.perfbench/traces``. ``--warmup-curve N``
times N units instead of ``--seconds`` and writes the per-unit curve to
``perfbench/warmup/<workload>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
# Spark cores on a 4-vCPU host, for both workloads. With two HotSpot
# compiler threads (see isolate) that is five busy threads on four vCPUs;
# HotSpot's default of three made six, and five catalog seeds spread
# 0.10-0.11 instead of 0.15-0.23 on the time metrics. local[2] would fit
# four, at the cost of longer runs in a tight time budget.
CORES = 3
MIN_MEM_AVAILABLE_MB = 6 * 1024  # the JVM's largest measured peak RSS, 3.9 GB, plus headroom
MIN_DISK_FREE_MB = 2 * 1024  # inputs, lake tables, shuffle and spill files of one run
REQUIRED = ("palimpzest_spark/session.py", "palimpzest_spark/cdc/merge.py",
            "bench.py", "tools/gen_bench_data.py")

# the operation whose latency op_p50_s reports
OP_KIND = {"cdc_tail": "batch", "catalog_queries": "query"}


class PreflightError(RuntimeError):
    pass


def preflight() -> dict:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise PreflightError(f"not a spark-graft checkout (missing {', '.join(missing)})")
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    avail = mem.get("MemAvailable", 0)
    if avail < MIN_MEM_AVAILABLE_MB:
        raise PreflightError(f"only {avail} MB of RAM available, need {MIN_MEM_AVAILABLE_MB}")
    st = os.statvfs(ROOT)
    disk_free = st.f_bavail * st.f_frsize // (1 << 20)
    if disk_free < MIN_DISK_FREE_MB:
        raise PreflightError(f"only {disk_free} MB free in the checkout, need {MIN_DISK_FREE_MB}")
    # tmpfs pages are RAM that MemAvailable does not count as free, so the
    # RAM check above already covers them; recorded as a diagnostic
    return {"mem_available_mb": avail, "disk_free_mb": disk_free,
            "shm_used_mb": mem.get("Shmem", 0)}


def sha256_probe() -> float:
    """Seconds for a fixed single-thread sha256 job: a host-speed diagnostic."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict, float]:
    from perfbench.gen import cache_key

    out = os.path.join(STATE, "cache", cache_key(workload, seed))
    manifest = os.path.join(out, "manifest.json")
    t0 = time.perf_counter()
    if not os.path.exists(manifest):
        shutil.rmtree(out, ignore_errors=True)
        env = dict(os.environ, PYTHONPATH=ROOT)
        subprocess.run([sys.executable, os.path.join(BENCH_DIR, "gen.py"), "--workload",
                        workload, "--seed", str(seed), "--out", out],
                       check=True, env=env, stdout=subprocess.DEVNULL, timeout=600)
    with open(manifest) as f:
        return out, json.load(f), time.perf_counter() - t0


def isolate(run_dir: str, cores: int) -> dict:
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "PZ_SPARK_LOCAL_DIR": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    })
    for k in ("PZ_CDC_DEBUG", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-XX:CICompilerCount=2 -Djava.io.tmpdir={dirs['tmp']}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------


def e2e_metrics(workload: str, ctx, setup_s: float) -> tuple[dict, dict]:
    from perfbench import stats

    ops = [o for o in ctx.ops if o.ok]
    main = [o.seconds for o in ops if o.kind == OP_KIND[workload]]
    if workload == "cdc_tail":
        work = sum(u["events"] for u in ctx.units) / sum(u["replay_s"] for u in ctx.units)
    else:
        work = len(main) / sum(u["wall_s"] for u in ctx.units)
    values = {"setup_s": setup_s, "op_p50_s": statistics.median(main),
              "work_per_s": work,
              "unit_s": statistics.median([u["wall_s"] for u in ctx.units])}
    # With one timed unit a run holds 10-19 operations, too few for the tail
    # rule to reach above the median, and the slowest single operation is
    # too noisy across runs to carry a bound; both are diagnostics only.
    return values, {"op_samples": len(main), "op_max_s": max(main),
                    "tail_rule_percentile": stats.tail_percentile(len(main))}


def layer_metrics(workload: str, ctx, wl, tracer, ledger, jvm, jvm0: dict, jvm1: dict,
                  heap_mb: float, peak_rss_mb: float, session_s: float, e2e: dict,
                  timed_wall: float) -> dict:
    from bench import HEADLINE
    from perfbench.trace import self_times

    n_units = max(len(ctx.units), 1)
    spans = tracer.spans
    timed = next(s for s in spans if s.name == "timed")
    inside = [s for s in spans if s.start >= timed.start and s.end <= timed.end and s is not timed]
    selft = self_times(spans)
    by_id = {s.id: s for s in spans}

    def named(name, parent=None):
        return [s for s in inside if s.name == name
                and (parent is None or (s.parent is not None and by_id[s.parent].name == parent))]

    def dur(xs):
        return [s.end - s.start for s in xs]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    ops = [o for o in ctx.ops if o.ok]

    def op_p50(kind):
        return statistics.median([o.seconds for o in ops if o.kind == kind]) if any(
            o.kind == kind for o in ops) else 0.0

    reads = getattr(wl, "reads", [])  # cdc_tail's read-back notes
    merges = named("merge.merge_batch")
    merge_self = [selft[s.id] for s in merges]
    events = sum(int(s.info.get("events") or 0) for s in merges)
    writes = named("lake.write_files", "merge.merge_batch")
    m = {
        "session.start_s": session_s,
        "runner.batch_gap_s": 0.0,
        "merge.batch_s": statistics.median(dur(merges)) if merges else 0.0,
        "merge.self_s": mean(merge_self),
        "merge.delta_first_share": (sum(1 for s in merges if s.info.get("fused")) / len(merges)
                                    if merges else 0.0),
        "merge.commit_retries": sum(int(s.info.get("commit_retries") or 0) for s in merges) / n_units,
        "lake.write_files_s": mean(dur(writes)),
        "lake.commit_merge_s": mean(dur(named("lake.commit_merge"))),
        "lake.compact_s": mean(dur(named("lake.compact"))),
        "lake.compactions": len(named("lake.compact")) / n_units,
        "lake.bytes_per_event": sum(s.info.get("bytes", 0) for s in writes) / events if events else 0.0,
        "lake.files_per_batch": sum(s.info.get("files", 0) for s in writes) / len(merges) if merges else 0.0,
        "lake.read_conv_s": op_p50("point"),
        "lake.read_ts_range_s": op_p50("scan"),
        "lake.files_scanned_per_read": mean([r["files"] for r in reads if r["kind"] == "files"]),
        "lake.delta_files": mean([r["deltas"] for r in reads if r["kind"] == "files"]),
        "timetravel.table_changes_s": op_p50("changes"),
        "timetravel.changed_rows": mean([r["rows"] for r in reads if r["kind"] == "changes"]),
        "views.refresh_s": op_p50("view"),
        "views.changed_convs": mean([r["changed_convs"] for r in reads if r["kind"] == "view"]),
        "reconcile.infer_calls": len(named("reconcile.infer_payload_schema")) / n_units,
    }
    if workload == "cdc_tail":
        replays = named("runner.replay_batches")
        gap = sum(dur(replays)) - sum(o.seconds for o in ops if o.kind == "batch")
        m["runner.batch_gap_s"] = gap / max(len(merges), 1)
    for name in HEADLINE:
        xs = [o.seconds for o in ops if o.kind == "query" and o.name == name]
        m[f"query.{name}_s"] = statistics.median(xs) if xs else 0.0

    entries = [e for e in ledger.entries if e["unit"] >= 0]
    st = [s for e in entries for s in e["stages"]]
    skews = [max(s["task_run_s"]) / statistics.median(s["task_run_s"]) for s in st
             if len(s["task_run_s"]) >= 4 and statistics.median(s["task_run_s"]) > 0]
    mb = float(1 << 20)
    m.update({
        "python.arrow_rows": sum(e["python"]["rows"] for e in entries) / n_units,
        "python.arrow_mb": sum(e["python"]["bytes"] for e in entries) / mb / n_units,
        "spark.jobs": sum(e["jobs"] for e in entries) / n_units,
        "spark.tasks": sum(s["tasks"] for s in st) / n_units,
        "spark.executor_run_s": sum(s["run_s"] for s in st) / n_units,
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in st) / n_units,
        "spark.gc_s": sum(s["gc_s"] for s in st) / n_units,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / mb / n_units,
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in st) / mb / n_units,
        "spark.spill_mb": sum(s["spill_b"] for s in st) / mb / n_units,
        "spark.task_skew": max(skews) if skews else 1.0,
        "jvm.codegen_classes": (jvm1["codegen_classes"] - jvm0["codegen_classes"]) / n_units,
        "jvm.codegen_compile_s": (jvm1["codegen_compile_s"] - jvm0["codegen_compile_s"]) / n_units,
        "jvm.jit_compile_s": (jvm1["jit_s"] - jvm0["jit_s"]) / n_units,
        "jvm.gc_s": (jvm1["gc_s"] - jvm0["gc_s"]) / n_units,
        "jvm.heap_live_mb": heap_mb,
        "jvm.heap_peak_mb": jvm.heap_peak_mb(),
        "proc.peak_rss_mb": peak_rss_mb,
        "trace.self_coverage": sum(selft[s.id] for s in inside) / timed_wall,
        "trace.bookkeeping_s": ledger.bookkeeping_s / n_units,
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.work_per_s": e2e["work_per_s"],
    })
    return m


def layer_table(tracer, timed_wall: float, n_units: int) -> str:
    """Per span name within the timed phase: calls, total and self seconds
    per unit, and self time as a share of the timed wall."""
    from perfbench.trace import self_times

    spans = tracer.spans
    timed = next(s for s in spans if s.name == "timed")
    selft = self_times(spans)
    rows: dict[str, list[float]] = {}
    for s in spans:
        if s.start >= timed.start and s.end <= timed.end:
            r = rows.setdefault(s.name, [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s.end - s.start
            r[2] += selft[s.id]
    lines = [f"{'span':34} {'calls/unit':>10} {'total_s/unit':>12} {'self_s/unit':>11} {'self%':>6}"]
    for name, (calls, total, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"{name:34} {calls / n_units:10.2f} {total / n_units:12.4f} "
                     f"{own / n_units:11.4f} {100 * own / timed_wall:6.1f}")
    return "\n".join(lines)


def with_units(kind: str, values: dict) -> dict:
    """The metrics of one kind with the units ``BENCHMARK.json`` declares;
    the computed names must be exactly the declared ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(values) != set(units):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def write_curve(workload: str, curve: list[dict], meta: dict) -> str:
    path = os.path.join(BENCH_DIR, "warmup", f"{workload}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, **meta, "units": curve}, f, indent=1)
        f.write("\n")
    return path


def run(args) -> dict:
    from perfbench.trace import steal_jiffies

    host = preflight()
    steal0 = steal_jiffies()
    probe_s = sha256_probe()
    inputs, manifest, gen_s = ensure_inputs(args.workload, args.seed)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(run_dir)
    spark = None
    tracer = None
    wl = None
    try:
        cores = CORES
        conf = isolate(run_dir, cores)
        from perfbench.trace import JvmProbe, SparkLedger, Tracer, vm_hwm_mb
        from perfbench.workloads import WORKLOADS, Ctx, install_spans, run_units
        from palimpzest_spark import session

        tracer = Tracer(enabled=bool(args.trace))
        t_s0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t_s0
        if args.trace:
            install_spans(tracer)
        ledger = SparkLedger(spark) if args.trace else None
        jvm = JvmProbe(spark)
        ctx = Ctx(spark=spark, tracer=tracer, ledger=ledger, inputs=inputs,
                  manifest=manifest, run_dir=run_dir)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()

        seconds = float("inf") if args.warmup_curve else args.seconds
        timed = run_units(wl, ctx, jvm, seconds, max_units=args.warmup_curve)
        timed_wall, jvm0, jvm1 = timed["wall_s"], timed["jvm0"], timed["jvm1"]
        rss_driver, rss_jvm = vm_hwm_mb(), vm_hwm_mb(jvm.pid)
        # Memory is reported per layer only. Under the program's default 12g
        # heap maximum the JVM's peak RSS follows how far G1 chose to grow the
        # heap (2.6-3.9 GB over five catalog seeds, 20x the live set), and the
        # heap left after a full collection varied too (87-220 MB over three
        # cdc seeds); neither holds a bound.
        heap = jvm.heap_live_mb() if args.trace else 0.0

        if args.warmup_curve:
            path = write_curve(args.workload, timed["curve"], {
                "seed": args.seed, "cores": cores,
                "input_digest": manifest["input_digest"]})
            print(f"perfbench: wrote {path}", file=sys.stderr)

        # set-up ends where the first timed unit starts
        setup_s = timed["t0"] - T_PROCESS - gen_s
        e2e, e2e_info = e2e_metrics(args.workload, ctx, setup_s)
        steal1 = steal_jiffies()
        diag = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input_digest": manifest["input_digest"], "cores": cores,
            "timed_units": len(ctx.units), "timed_wall_s": timed_wall, "units": timed["curve"],
            "session_start_s": session_s,
            "setup_jit_compile_s": jvm0["jit_s"], "setup_codegen_classes": jvm0["codegen_classes"],
            "peak_rss_driver_mb": rss_driver, "peak_rss_jvm_mb": rss_jvm,
            "input_generation_s": gen_s, **e2e_info,
            "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "sha256_probe_s": probe_s, **host,
            "failures": ctx.failures[:20], "until_result_s": time.perf_counter() - T_PROCESS,
        }
        print(json.dumps({"perfbench": diag}))
        if args.trace:
            layers = layer_metrics(args.workload, ctx, wl, tracer, ledger, jvm, jvm0, jvm1, heap,
                                   rss_driver + rss_jvm, session_s, e2e, timed_wall)
            print(layer_table(tracer, timed_wall, max(len(ctx.units), 1)))
            trace_dir = os.path.join(STATE, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump({"diagnostics": diag, "spans": tracer.to_json(),
                           "ledger": ledger.entries}, f)
            metrics = with_units("per_layer", layers)
        else:
            metrics = with_units("end_to_end", e2e)
        attempted = len(ctx.ops) + len(ctx.units)
        return {"correct": not ctx.failures, "attempted": attempted,
                "failed": len(ctx.failures), "metrics": metrics}
    finally:
        try:
            if wl is not None:
                wl.close()
            if tracer is not None:
                tracer.restore()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["cdc_tail", "catalog_queries"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--warmup-curve", type=int, default=0, metavar="N",
                    help="time N units and write the curve to perfbench/warmup/")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        result = run(args)
    except PreflightError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
