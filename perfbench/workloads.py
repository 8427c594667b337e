"""Seeded benchmark inputs.

Every input is a pure function of the workload seed: the corpus layout
(``CorpusSpec``), the page texts (``gencore_spark.fixtures.generate_rows``)
and, for ``delta_merge``, which pages are held out as the delta.  Pages are
written to parquet before any timing starts; the ground truth
(``true_cluster_id``) stays in the benchmark process for the correctness
gate and is never shown to the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gencore_spark.fixtures import PAGES_COLUMNS, CorpusSpec, corpus_spec, generate_rows

# Corpus size of every workload, chosen so that one comparison's 48 fresh-JVM
# runs (4 + 22 per workload) fit in 3420 s.  Measured on a 4-core host in
# its slow state: a run is a fresh JVM (~7 s), a cold first call (~30 s at
# 2000 docs, ~38 s at 8000) and one timed call (14-20 s at 2000 docs, 17-23 s
# at 8000), so runs take 55-60 s at 2000 docs (~80% of the budget) and ~70 s
# at 8000 (~98%).  NOTES.md has the measurements and what the size does to
# the layer mix.
N_DOCS = 2000
# share of the crawl corpus held out as the delta_merge delta
HOLDOUT_FRAC = 0.10


def crawl_spec(seed: int) -> CorpusSpec:
    """The fixture's Common-Crawl-like layout: 15% skew block (one capped
    LSH mega-bucket), 10% exact, 15% near, 6% mirror, 54% unique."""
    return corpus_spec(N_DOCS, seed)


def unique_spec(seed: int) -> CorpusSpec:
    """~94% unique pages: 3% exact, 3% near, no skew block, no mirrors."""
    return CorpusSpec(
        n_docs=N_DOCS, seed=seed, skew_n=0,
        exact_n=int(N_DOCS * 0.03), near_n=int(N_DOCS * 0.03), mirror_n=0,
    )


def holdout_mask(seed: int, n_docs: int) -> np.ndarray:
    """Boolean mask of the pages held out as the delta: a seeded sample of
    exactly round(HOLDOUT_FRAC * n_docs) pages, so every seed times a delta
    of the same size."""
    rng = np.random.default_rng([seed, 0xDE17A])
    mask = np.zeros(n_docs, dtype=bool)
    mask[rng.permutation(n_docs)[: round(HOLDOUT_FRAC * n_docs)]] = True
    return mask


@dataclass(frozen=True)
class Workload:
    name: str
    spec: Callable[[int], CorpusSpec]
    delta: bool       # True: time dedup_pages_incremental of a holdout


# batch_unique is runnable by hand but not listed in BENCHMARK.json: three
# workloads make 70 runs, 49 s each on average, less than one run takes.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("batch_crawl", crawl_spec, delta=False),
        Workload("batch_unique", unique_spec, delta=False),
        Workload("delta_merge", crawl_spec, delta=True),
    )
}


def epoch_s(ts) -> np.ndarray:
    return np.asarray(ts, dtype="datetime64[s]").astype(np.int64)


def write_pages(rows: pd.DataFrame, path: str) -> None:
    """Pages columns only, timestamps as UTC microseconds (Spark's
    TimestampType).  Deterministic: the same rows give the same bytes."""
    pages = rows[PAGES_COLUMNS].copy()
    pages["warc_ts"] = pd.to_datetime(pages["warc_ts"]).dt.tz_localize("UTC")
    table = pa.Table.from_pandas(pages, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


@dataclass
class Inputs:
    """Parquet paths the program reads, plus the closed-form truth."""

    pages: list[str]        # every page (the batch input, or old ∪ delta)
    base: str | None        # delta_merge: the ~90% base sample
    delta: str | None       # delta_merge: the held-out pages
    truth: pd.DataFrame     # url, ts (epoch s), true_cluster_id
    n_docs: int             # docs one timed call processes


def make_inputs(workload: Workload, seed: int, out_dir: str) -> Inputs:
    spec = workload.spec(seed)
    rows = generate_rows(np.arange(spec.n_docs), spec)
    truth = pd.DataFrame({
        "url": rows["url"],
        "ts": epoch_s(rows["warc_ts"]),
        "true_cluster_id": rows["true_cluster_id"],
    })
    os.makedirs(out_dir, exist_ok=True)
    if not workload.delta:
        path = os.path.join(out_dir, "pages.parquet")
        write_pages(rows, path)
        return Inputs([path], None, None, truth, len(rows))
    hold = holdout_mask(seed, len(rows))
    base = os.path.join(out_dir, "base.parquet")
    delta = os.path.join(out_dir, "delta.parquet")
    write_pages(rows[~hold], base)
    write_pages(rows[hold], delta)
    return Inputs([base, delta], base, delta, truth, int(hold.sum()))
