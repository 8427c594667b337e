"""Physical-plan inspection helpers — make plan properties testable.

The scale contract (SURVEY.md §4) has three load-bearing plan properties:

1. **column pruning** — stages that don't need ``html`` must not scan it;
2. **JVM-side hot path** — bucketing/gating stages contain no Python
   (``ArrowEvalPython`` nodes appear ONLY where a pandas UDF is intended);
3. **broadcast joins** — small dimension sides broadcast, not shuffle.

These helpers parse ``df.explain('formatted')`` output so tests can assert
the plan, not just the answer.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def scan_read_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists of every file scan in the plan."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


_PY_NODES = r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas"


def arrow_eval_count(df: DataFrame) -> int:
    """Number of DISTINCT Python (Arrow) eval nodes in the physical plan.

    Formatted explain prints every node twice (tree + details section), so
    count unique node ids ``(NN) ArrowEvalPython``; fall back to raw count
    for plans without ids (simple mode).
    """
    plan = explain_str(df)
    ids = set(re.findall(rf"\((\d+)\) (?:{_PY_NODES})", plan))
    if ids:
        return len(ids)
    return len(re.findall(_PY_NODES, plan))
