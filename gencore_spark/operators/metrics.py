"""Per-stage counters + per-partition lineage metrics.

Reference analog: the pre/post ``Stats`` objects (``stats.cpp:101-139``),
the duplication histogram (``stats.cpp:123-133``) and the JSON report
(``jsonreporter.cpp:11-42``).

Stage row counts are observed metrics of each stage's snapshot write (an
``Observation`` in the pipeline's snapshot runner — no count jobs, no extra
passes over data that is being materialized anyway); the per-partition row
counts and the cluster size histogram come from one ``spark_partition_id()``
groupBy (:func:`partition_and_size_stats`), one Spark job — the lineage
trail the north_star asks for.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, functions as F


def partition_and_size_stats(
    canonical: DataFrame, cap: int = 100, max_partitions: int = 512
) -> tuple[list[dict], list[dict]]:
    """(partition lineage, cluster size histogram) from ONE Spark job.

    One groupBy over (partition_id, capped fr) — bounded at
    max_partitions × cap rows — then both views are derived driver-side:
    [{partition, rows}] (the skew lens) and [{size, clusters}] (the
    duplication histogram, capped like the reference, ``stats.h:15``)."""
    rows = (
        canonical.select(
            F.spark_partition_id().alias("partition"),
            F.least(F.col("fr"), F.lit(cap)).alias("size"),
        )
        .groupBy("partition", "size")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_part: dict[int, int] = {}
    by_size: dict[int, int] = {}
    for r in rows:
        by_part[r["partition"]] = by_part.get(r["partition"], 0) + r["n"]
        by_size[r["size"]] = by_size.get(r["size"], 0) + r["n"]
    lineage = [
        {"partition": p, "rows": n}
        for p, n in sorted(by_part.items())[:max_partitions]
    ]
    histogram = [
        {"size": s, "clusters": n} for s, n in sorted(by_size.items())
    ]
    return lineage, histogram


class RunReport:
    """Accumulates stage metrics; writes one REPORT.json per run."""

    def __init__(self) -> None:
        self.stages: dict[str, dict[str, Any]] = {}
        self._t0 = time.time()

    def stage(self, name: str, **counters: Any) -> None:
        entry = self.stages.setdefault(name, {})
        entry.update(counters)
        entry["t_elapsed_sec"] = round(time.time() - self._t0, 3)

    def summary(self, **extra: Any) -> dict[str, Any]:
        out: dict[str, Any] = {
            "stages": self.stages,
            "wall_sec": round(time.time() - self._t0, 3),
        }
        out.update(extra)
        return out

    def write(self, path: str, **extra: Any) -> dict[str, Any]:
        out = self.summary(**extra)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=2, default=str)
        return out

    def write_html(self, path: str, **extra: Any) -> str:
        """Human-readable run report (the S6 sink; reference:
        ``htmlreporter.cpp:405-430`` renders the same stats tables the JSON
        reporter emits).  Pure stdlib string building — no template deps."""
        import html

        out = self.summary(**extra)
        rows = []
        for name, st in out["stages"].items():
            cells = "".join(
                f"<td>{html.escape(str(k))}</td><td>{html.escape(str(v))}</td>"
                for k, v in st.items()
                if not isinstance(v, (list, dict))
            )
            rows.append(f"<tr><th>{html.escape(name)}</th>{cells}</tr>")
        hist = ""
        lineage = out["stages"].get("lineage", {})
        if lineage.get("cluster_size_histogram"):
            bars = "".join(
                f"<tr><td>{b['size']}</td><td>{b['clusters']}</td>"
                f"<td><div style='background:#69c;height:10px;"
                f"width:{min(b['clusters'], 400)}px'></div></td></tr>"
                for b in lineage["cluster_size_histogram"]
            )
            hist = (
                "<h2>Duplication histogram</h2>"
                "<table><tr><th>cluster size</th><th>clusters</th><th></th></tr>"
                f"{bars}</table>"
            )
        doc = (
            "<!doctype html><html><head><meta charset='utf-8'>"
            "<title>gencore_spark run report</title>"
            "<style>body{font-family:sans-serif;margin:2em}"
            "table{border-collapse:collapse}td,th{border:1px solid #ccc;"
            "padding:2px 8px;text-align:left}</style></head><body>"
            f"<h1>gencore_spark run report</h1>"
            f"<p>wall: {out['wall_sec']}s</p>"
            f"<h2>Stages</h2><table>{''.join(rows)}</table>{hist}"
            "</body></html>"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(doc)
        return path
