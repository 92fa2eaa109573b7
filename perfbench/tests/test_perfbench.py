"""Tests for the benchmark's own checks and arithmetic. They need no Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.checks import (CDC_COLS, canonical_rows, digest, render,  # noqa: E402
                              rollup_rows, rows_match)
from perfbench.trace import Span, parse_metric, self_times  # noqa: E402
from perfbench.workloads import check_changes  # noqa: E402


def _state() -> pd.DataFrame:
    return pd.DataFrame({
        "conv_id": ["c1", "c1", "c2", "c3"],
        "turn_idx": [0, 1, 0, 4],
        "role": ["user", "assistant", "tool", "user"],
        "text": ["hi", "hello", None, "x"],
        "tool": [None, None, "search", None],
    })


# -- output checks ---------------------------------------------------------


def test_dropped_row_fails_the_cdc_digest():
    full = _state()
    want = digest(canonical_rows(full, CDC_COLS))
    assert digest(canonical_rows(full.iloc[::-1], CDC_COLS)) == want  # order-free
    assert digest(canonical_rows(full.drop(index=2), CDC_COLS)) != want


def test_changed_value_fails_the_cdc_digest():
    other = _state()
    other.loc[1, "text"] = "hellO"
    assert digest(canonical_rows(other, CDC_COLS)) != digest(canonical_rows(_state(), CDC_COLS))


def test_dropped_row_fails_the_view_check():
    assert digest(rollup_rows(_state())) != digest(rollup_rows(_state().drop(index=1)))


def test_dropped_row_fails_the_oracle_comparison():
    want = canonical_rows(pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}))
    got = canonical_rows(pd.DataFrame({"k": [1, 3], "v": [0.5, 2.5]}))
    assert rows_match(got, want) == "row count 2 != 3"


def test_oracle_comparison_tolerates_summation_order_only():
    want = [[1, 0.1 + 0.2 + 0.3]]
    assert rows_match([[1, 0.3 + 0.2 + 0.1]], want) is None
    assert rows_match([[1, 0.6001]], want) is not None
    assert rows_match([[1, None]], want) is not None


def test_dropped_insert_fails_the_change_feed_check():
    exp = {"inserts": [["c9", 0], ["c9", 1]], "deletes": [["c1", 2]],
           "updates_min": [["c1", 0]], "touched": [["c9", 0], ["c9", 1], ["c1", 0],
                                                   ["c1", 2], ["c2", 0]]}
    rows = [("c9", 0, "insert"), ("c9", 1, "insert"), ("c1", 2, "delete"),
            ("c1", 0, "update"), ("c2", 0, "update")]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "_change_type"])
    assert check_changes(pdf, exp) is None
    assert check_changes(pdf.drop(index=1), exp) == "inserts 1 != 2"
    assert check_changes(pdf.drop(index=3), exp).startswith("updates")  # missed update
    extra = pd.concat([pdf, pd.DataFrame([("c7", 0, "update")], columns=pdf.columns)])
    assert check_changes(extra, exp).startswith("updates")  # untouched key reported


def test_render_canonical_forms():
    import numpy as np

    assert render(np.array(["user"])) == '["user"]'  # a 1-element array stays a list
    assert render(np.int64(3)) == 3 and render(float("nan")) is None
    assert render(pd.Timestamp("2023-11-15 00:04:52")) == "2023-11-15 00:04:52"


# -- statistics ------------------------------------------------------------


@pytest.mark.parametrize("n, p", [(10, None), (11, 9.0), (20, 50.0), (40, 75.0),
                                  (100, 90.0), (101, 90.0), (1000, 99.0), (2000, 99.5)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        rank = -(-p * n // 100)  # nearest-rank position of the percentile
        assert n - rank >= 10


def test_spread_is_quartile_distance_over_median():
    xs = [10.0, 11, 9, 10, 12, 8, 10, 10, 11, 9]
    q1, _, q3 = 9.0, None, 11.0
    assert stats.spread(xs) == pytest.approx((q3 - q1) / 10.0)


# -- self-time arithmetic --------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "merge", 1.0, 7.0, parent=0),
        Span(2, "lake.write", 2.0, 5.0, parent=1),
        Span(3, "lake.commit", 4.0, 6.0, parent=1),  # overlaps the write
        Span(4, "read", 8.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 3.0, 3: 2.0, 4: 1.0})
    # the self times of a tree add up to its root's duration
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # overlap counted in both children


def test_self_times_of_nested_spans_sum_to_the_root():
    spans = [Span(0, "timed", 0.0, 4.0), Span(1, "a", 0.5, 3.0, parent=0),
             Span(2, "b", 1.0, 2.0, parent=1)]
    assert sum(self_times(spans).values()) == pytest.approx(4.0)


def test_parse_metric_values():
    assert parse_metric("1,234") == 1234
    assert parse_metric("1160.0 B") == 1160
    assert parse_metric("12.5 MiB") == 12.5 * (1 << 20)
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, ...)") == 3072
    assert parse_metric(None) == 0.0


# -- catalog checks --------------------------------------------------------


def _catalog(tmp_path):
    from perfbench.trace import Tracer
    from perfbench.workloads import CatalogQueries, Ctx

    ctx = Ctx(spark=None, tracer=Tracer(enabled=False), ledger=None, inputs=str(tmp_path),
              manifest={"expected": {"queries": ["q_oracle", "q_recorded"]}},
              run_dir=str(tmp_path))
    return ctx, CatalogQueries(ctx)


def test_dropped_row_fails_the_catalog_oracle_check(tmp_path):
    ctx, wl = _catalog(tmp_path)
    full = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    expected = {"q_oracle": {"cols": ["k", "v"], "rows": canonical_rows(full)}}
    wl.check({"q_oracle": full}, expected, record=False)
    assert ctx.failures == []
    wl.check({"q_oracle": full.drop(index=1)}, expected, record=False)
    assert ctx.failures == ["q_oracle vs DuckDB oracle: row count 2 != 3"]


def test_catalog_records_a_digest_and_holds_later_runs_to_it(tmp_path):
    full = pd.DataFrame({"doc_id": [4, 7, 9]})
    ctx, wl = _catalog(tmp_path)
    wl.check({"q_recorded": full}, {}, record=True)  # first run on these inputs records
    assert ctx.failures == [] and os.path.exists(tmp_path / "recorded.json")
    ctx, wl = _catalog(tmp_path)  # a later run on the same inputs
    wl.check({"q_recorded": full.iloc[::-1]}, {}, record=True)
    assert ctx.failures == []
    wl.check({"q_recorded": full.drop(index=0)}, {}, record=True)
    assert len(ctx.failures) == 1 and "recorded" in ctx.failures[0]
