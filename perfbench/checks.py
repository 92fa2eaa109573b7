"""Output checks: canonical row renderings and the comparisons the benchmark
makes against engine-free oracles.

The same functions render oracle rows (in the generator process) and engine
rows (in the measured process), so a check compares like with like. Floats
are compared with a relative tolerance because Spark and DuckDB sum in
different orders; everything else must match exactly.
"""

from __future__ import annotations

import hashlib
import json
import math
from typing import Any, Iterable, Sequence

# Transcript columns the CDC checks compare. ``ts`` is left out on purpose:
# feed payloads carry no ``ts`` field, so the post-image timestamp of an
# updated turn is engine policy, not feed content.
CDC_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "tool_args")
FLOAT_REL_TOL = 1e-6


def _is_null(v: Any) -> bool:
    if v is None:
        return True
    try:
        return bool(v != v)  # NaN / NaT
    except (TypeError, ValueError):
        return False


def render(v: Any) -> Any:
    """One value as a JSON-safe canonical form: null, int, float or str."""
    if _is_null(v):
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)) or getattr(v, "ndim", 0) > 0:
        return "[" + ",".join(json.dumps(render(x)) for x in list(v)) + "]"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar -> python
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if isinstance(v, dict):
        return json.dumps({str(k): render(x) for k, x in sorted(v.items())})
    return str(v)


def _sort_key(row: Sequence[Any]) -> tuple:
    return tuple("\x00" if v is None else f"{type(v).__name__}:{v}" for v in row)


def render_rows(df, cols: Sequence[str] | None = None) -> list[list[Any]]:
    """Rows of a pandas frame in frame order, columns in ``cols`` order
    (default: sorted names; a listed column the frame lacks reads as
    all-null), each value rendered."""
    cols = list(cols) if cols is not None else sorted(df.columns)
    n = len(df)
    columns = [df[c].tolist() if c in df.columns else [None] * n for c in cols]
    return [[render(col[i]) for col in columns] for i in range(n)]


def canonical_rows(df, cols: Sequence[str] | None = None) -> list[list[Any]]:
    """``render_rows`` sorted, so that row order does not matter."""
    return sorted(render_rows(df, cols), key=_sort_key)


def digest(rows: Iterable[Sequence[Any]]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(list(r), separators=(",", ":")).encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_match(got: list[list[Any]], want: list[list[Any]],
               rel_tol: float = FLOAT_REL_TOL) -> str | None:
    """None when the row sets agree, else a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: width {len(g)} != {len(w)}"
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return f"row {i}: {g!r} != {w!r}"
                elif not math.isclose(float(a), float(b), rel_tol=rel_tol, abs_tol=1e-9):
                    return f"row {i}: {g!r} != {w!r}"
            elif a != b:
                return f"row {i}: {g!r} != {w!r}"
    return None


def rollup_rows(state) -> list[list[Any]]:
    """Engine-free twin of ``cdc.views._rollup`` over a pandas live state:
    per conversation the turn count, max turn and sorted role set (``last_ts``
    is left out for the reason given at ``CDC_COLS``)."""
    rows = []
    for conv_id, g in state.groupby("conv_id", sort=True):
        roles = sorted({r for r in g["role"].tolist() if not _is_null(r)})
        rows.append([render(conv_id), int(len(g)), int(g["turn_idx"].max()), render(roles)])
    rows.sort(key=_sort_key)
    return rows


ROLLUP_COLS = ("conv_id", "n_turns", "max_turn_idx", "roles")
