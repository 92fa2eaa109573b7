"""The workloads. Each is a closed loop with one client: the next operation
starts only after the previous one returned.

A workload has a set-up, a warm-up, and then timed units until the run's
seconds are used up; the unit in progress always completes. A unit is one tail replay plus its read-back round
(``cdc_tail``) or one pass over the catalog queries (``catalog_queries``);
per-layer counts are reported per timed unit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from perfbench.checks import CDC_COLS, ROLLUP_COLS, canonical_rows, digest, rows_match
from perfbench.trace import JvmProbe, SparkLedger, Tracer


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    unit: int
    name: str = ""


@dataclass
class Ctx:
    spark: Any
    tracer: Tracer
    ledger: SparkLedger | None
    inputs: str
    manifest: dict
    run_dir: str
    ops: list[Op] = field(default_factory=list)
    units: list[dict] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    unit: int = -1  # index of the timed unit; -1 while warming up

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def op(self, kind: str, fn: Callable[[], Any], name: str = "") -> tuple[bool, Any]:
        """Run one client operation under a span (and, traced, a job group)."""
        group = self.ledger.begin(kind) if self.ledger else None
        result, ok = None, True
        with self.tracer.span(f"op.{kind}", label=name) as sp:
            try:
                result = fn()
            except Exception:  # one failed operation must not end the run
                ok = False
                traceback.print_exc()
        if self.ledger:
            self.ledger.end(group, kind, self.unit)
        if self.unit >= 0:
            self.ops.append(Op(kind, sp.seconds, ok, self.unit, name))
        if not ok:
            self.fail(f"{kind} {name} raised")
        return ok, result


# --------------------------------------------------------------------------
# cdc_tail


class CdcTail:
    name = "cdc_tail"

    def __init__(self, ctx: Ctx) -> None:
        from palimpzest_spark.cdc import runner

        self.ctx = ctx
        self.p = ctx.manifest["params"]
        self.exp = ctx.manifest["expected"]
        self.base = os.path.join(ctx.inputs, "base", "conversations.parquet")
        self.feed = os.path.join(ctx.inputs, "feed")
        self.batches: list[dict] = []
        self.reads: list[dict] = []
        self.table = None
        # time every merge_batch call the runner makes, traced or not
        self.runner = runner
        self._orig_merge = runner.merge_batch
        runner.merge_batch = self._timed_merge

    def close(self) -> None:
        self.runner.merge_batch = self._orig_merge

    def _timed_merge(self, *args: Any, **kwargs: Any) -> dict:
        ok, m = self.ctx.op("batch", lambda: self._orig_merge(*args, **kwargs))
        if not ok:
            raise RuntimeError("merge_batch failed")
        if self.ctx.unit >= 0:
            self.batches.append(m)
        return m

    def setup(self) -> None:
        """Build the template every unit clones: bootstrap, the feed prefix
        with the schema-evolution point, and the rollup view."""
        from palimpzest_spark.cdc.lake import SnapshotLakeTable
        from palimpzest_spark.cdc.merge import bootstrap
        from palimpzest_spark.cdc.views import ConversationRollupView

        self.template = os.path.join(self.ctx.run_dir, "template")
        with self.ctx.tracer.span("setup.template"):
            t = SnapshotLakeTable(os.path.join(self.template, "table"),
                                  n_buckets=self.p["n_buckets"])
            bootstrap(self.ctx.spark, t, self.base)
            self.runner.replay_batches(self.ctx.spark, t, self.feed, files_per_batch=1,
                                       max_batches=self.p["prefix_files"])
            ConversationRollupView(os.path.join(self.template, "view")).full_build(
                self.ctx.spark, t)

    def warmup(self) -> None:
        """The template build warms the merge paths up; see README."""

    def unit(self) -> None:
        from palimpzest_spark.cdc.bench import clone_table
        from palimpzest_spark.cdc.lake import SnapshotLakeTable
        from palimpzest_spark.cdc.views import ConversationRollupView

        ctx = self.ctx
        path = os.path.join(ctx.run_dir, "replay")
        clone_table(os.path.join(self.template, "table"), os.path.join(path, "table"))
        shutil.copytree(os.path.join(self.template, "view"), os.path.join(path, "view"))
        try:
            table = SnapshotLakeTable(os.path.join(path, "table"), n_buckets=self.p["n_buckets"])
            view = ConversationRollupView(os.path.join(path, "view"))
            v0 = table.current_version()
            n0 = len(self.batches)
            with ctx.tracer.span("unit.replay") as sp:
                ms = self.runner.replay_batches(
                    ctx.spark, table, self.feed, files_per_batch=1,
                    skip_files=self.p["prefix_files"], start_batch_id=self.p["prefix_files"])
            replay_s = sp.seconds
            with ctx.tracer.span("check"):
                got = canonical_rows(table.read(ctx.spark).toPandas(), CDC_COLS)
            if digest(got) != self.exp["final_digest"]:
                ctx.fail(f"cdc_tail final table ({len(got)} rows) != oracle "
                         f"({self.exp['final_rows']} rows)")
            with ctx.tracer.span("unit.readback") as sp:
                self.readback(table, view, v0)
            if ctx.unit >= 0:
                ctx.units.append({"wall_s": replay_s + sp.seconds, "replay_s": replay_s,
                                  "events": sum(m["events"] for m in ms),
                                  "batches": len(self.batches) - n0})
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def readback(self, table, view, v0: int) -> None:
        """Read the replayed table back, each read timed with its result
        materialized and then checked against the oracle's final state."""
        from palimpzest_spark.cdc.timetravel import table_changes

        ctx, spark, exp = self.ctx, self.ctx.spark, self.exp["readback"]
        self.table = table
        for i, cid in enumerate(exp["point_ids"]):
            ok, pdf = ctx.op("point", lambda: self._read(table.read_conv(spark, [cid])), cid)
            if ok and digest(canonical_rows(pdf, CDC_COLS)) != exp["point_digests"][i]:
                ctx.fail(f"read_conv({cid}) != oracle")

        ok, pdf = ctx.op("scan", lambda: self._read(
            table.read_ts_range(spark, exp["scan_from_us"], exp["scan_to_us"])))
        if ok and (len(pdf) != exp["scan_rows"]
                   or digest(canonical_rows(pdf, CDC_COLS)) != exp["scan_digest"]):
            ctx.fail(f"read_ts_range ({len(pdf)} rows) != oracle ({exp['scan_rows']} rows)")

        v1 = table.current_version()
        ok, pdf = ctx.op("changes", lambda: table_changes(table, spark, v0, v1).toPandas())
        if ok:
            why = check_changes(pdf, exp)
            if why:
                ctx.fail(f"table_changes {why}")
            if ctx.unit >= 0:
                self.reads.append({"kind": "changes", "rows": len(pdf)})

        ok, res = ctx.op("view", lambda: view.refresh(spark, table))
        if ok:
            if ctx.unit >= 0:
                self.reads.append({"kind": "view", "changed_convs": res.get("changed_convs", 0)})
            got = canonical_rows(view.read(spark).toPandas(), ROLLUP_COLS)
            if digest(got) != exp["view_digest"]:
                ctx.fail(f"view ({len(got)} rows) != oracle ({exp['view_rows']} rows)")

    def _read(self, df):
        """Materialize a read; traced runs also note the files it scans."""
        if self.ctx.tracer.enabled and self.ctx.unit >= 0:
            snap = self.table.snapshot()
            self.reads.append({"kind": "files", "files": len(df.inputFiles()),
                               "deltas": sum(len(v) for v in snap["deltas"].values())})
        return df.toPandas()


def check_changes(pdf, exp: dict) -> str | None:
    """table_changes against the oracle: inserted and deleted keys exactly;
    updated keys cover every key whose content changed and lie within the
    keys the tail touched."""
    got: dict[str, set] = {"insert": set(), "update": set(), "delete": set()}
    for c, t, k in zip(pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(),
                       pdf["_change_type"].tolist()):
        got.setdefault(k, set()).add((c, int(t)))
    want_ins = {tuple(k) for k in exp["inserts"]}
    want_del = {tuple(k) for k in exp["deletes"]}
    if got["insert"] != want_ins:
        return f"inserts {len(got['insert'])} != {len(want_ins)}"
    if got["delete"] != want_del:
        return f"deletes {len(got['delete'])} != {len(want_del)}"
    need = {tuple(k) for k in exp["updates_min"]}
    touched = {tuple(k) for k in exp["touched"]}
    if not need <= got["update"] <= touched:
        return f"updates {len(got['update'])} outside [{len(need)}, {len(touched)}]"
    return None


# --------------------------------------------------------------------------
# catalog_queries


class CatalogQueries:
    name = "catalog_queries"

    def __init__(self, ctx: Ctx) -> None:
        from palimpzest_spark.plans.queries import QUERIES

        self.ctx = ctx
        self.queries = QUERIES
        self.names = ctx.manifest["expected"]["queries"]
        self.data = os.path.join(ctx.inputs, "data")
        self.recorded_path = os.path.join(ctx.inputs, "recorded.json")
        self.recorded: dict[str, str] = {}
        if os.path.exists(self.recorded_path):
            with open(self.recorded_path) as f:
                self.recorded = json.load(f)

    def close(self) -> None:
        pass

    def setup(self) -> None:
        pass

    def warmup(self) -> None:
        """One pass at the warm-up scale, every result checked against DuckDB."""
        results = self.run_pass(os.path.join(self.ctx.inputs, "warmup_data"), "collect")
        self.check(results, self.ctx.manifest["expected"]["warmup_expected"], record=False)

    def unit(self) -> None:
        t0 = time.perf_counter()
        results = self.run_pass(self.data, "query")
        if self.ctx.unit >= 0:
            self.ctx.units.append({"wall_s": time.perf_counter() - t0})
        self.check(results, self.ctx.manifest["expected"]["expected"], record=True)

    def run_pass(self, data: str, kind: str) -> dict:
        """Run every query once, each timed up to its result collected."""
        ctx = self.ctx
        results = {}
        for name in self.names:
            ok, pdf = ctx.op(kind, lambda: self.queries[name](ctx.spark, data).toPandas(), name)
            if ok:
                results[name] = pdf
        return results

    def check(self, results: dict, expected: dict, record: bool) -> None:
        """Results against the DuckDB result where ``expected`` has one; with
        ``record``, the others against the digest recorded for these inputs
        (the first run on them records it)."""
        ctx = self.ctx
        with ctx.tracer.span("check"):
            for name, pdf in results.items():
                if name in expected:
                    want = expected[name]
                    if sorted(pdf.columns) != want["cols"]:
                        ctx.fail(f"{name}: columns {sorted(pdf.columns)} != {want['cols']}")
                        continue
                    why = rows_match(canonical_rows(pdf), want["rows"])
                    if why:
                        ctx.fail(f"{name} vs DuckDB oracle: {why}")
                elif record:
                    got = digest(canonical_rows(pdf))
                    if self.recorded.setdefault(name, got) != got:
                        ctx.fail(f"{name}: result differs from the digest recorded for "
                                 "these inputs")
            if record:  # entries are only ever added, never changed
                tmp = f"{self.recorded_path}.{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump(self.recorded, f)
                os.replace(tmp, self.recorded_path)


WORKLOADS = {w.name: w for w in (CdcTail, CatalogQueries)}


# --------------------------------------------------------------------------
# tracing hooks: spans at the public functions of each layer


def install_spans(tracer: Tracer) -> None:
    from palimpzest_spark.cdc import lake, merge, runner, timetravel, views

    def note_write(span, result) -> None:
        _rel, files, stats = result
        span.info["files"] = sum(len(v) for v in files.values())
        span.info["bytes"] = sum(int(s.get("bytes", 0)) for s in stats.values())

    def note_merge(span, result) -> None:
        span.info.update({k: result.get(k) for k in ("events", "fused", "commit_retries")
                          if k in result})

    tracer.wrap(runner, "replay_batches", "runner.replay_batches")
    tracer.wrap(merge, "bootstrap", "merge.bootstrap")
    tracer.wrap(runner, "merge_batch", "merge.merge_batch", note_merge)
    tracer.wrap(merge, "infer_payload_schema", "reconcile.infer_payload_schema")
    for attr in ("write_files", "commit_merge", "compact", "read_conv", "read_ts_range",
                 "write_buckets", "commit_files"):
        tracer.wrap(lake.SnapshotLakeTable, attr, f"lake.{attr}",
                    note_write if attr == "write_files" else None)
    tracer.wrap(timetravel, "table_changes", "timetravel.table_changes")
    tracer.wrap(views, "table_changes", "timetravel.table_changes")
    tracer.wrap(views.ConversationRollupView, "refresh", "views.refresh")
    tracer.wrap(views.ConversationRollupView, "full_build", "views.full_build")


def run_units(workload: Any, ctx: Ctx, jvm: JvmProbe, seconds: float,
              max_units: int = 0) -> dict:
    """Warm up, then run timed units until ``seconds`` have passed (or
    ``max_units`` ran); the unit in progress always completes. Returns the
    timed phase's start and wall time, JVM samples at its start and end, and
    per unit its wall time and JVM deltas."""
    workload.warmup()
    ctx.unit = 0
    curve = []
    t0 = time.perf_counter()
    first = last = jvm.sample()
    with ctx.tracer.span("timed"):
        while True:
            u0 = time.perf_counter()
            workload.unit()
            now = jvm.sample()
            curve.append({"unit": ctx.unit, "wall_s": time.perf_counter() - u0,
                          "jit_compile_s": now["jit_s"] - last["jit_s"],
                          "codegen_classes": now["codegen_classes"] - last["codegen_classes"],
                          "jvm_gc_s": now["gc_s"] - last["gc_s"]})
            last = now
            ctx.unit += 1
            if time.perf_counter() - t0 >= seconds or ctx.unit == max_units:
                break
    return {"t0": t0, "wall_s": time.perf_counter() - t0, "jvm0": first, "jvm1": last,
            "curve": curve}
