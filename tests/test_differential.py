"""Differential test of the daily merge against the nightly batch: a chain of
``dedup_pages_incremental`` calls over seeded fixture corpora must end in the
state ``dedup_pages`` builds over the union of everything delivered, apart
from cluster-id labels (see ``test_delta.py``'s module docstring).

Corpora stay under ~420 docs, so no LSH bucket is capped and candidate
generation is exhaustive: the id-free canonical rows must match exactly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, Phase, event, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gencore_spark import dedup_pages, dedup_pages_incremental
from gencore_spark.fixtures import PAGES_COLUMNS, pages_with_truth
from test_delta import _idfree_rows, _partition

# buckets of the split hash; a draw picks how many of them form the base
_SLICES = 20


@settings(
    max_examples=1, derandomize=True, deadline=None, database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    # no shrink phase: shrinking a failing example re-runs whole chains
    # (21 examples in 494 s once), while the failing example is already
    # reported as drawn
    phases=[Phase.explicit, Phase.generate],
)
@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(40, 400),
    base_slices=st.integers(1, _SLICES - 3),
    n_deltas=st.integers(1, 3),
    redeliver=st.booleans(),
)
# always run a chain that ends in a re-delivery, besides the drawn example
@example(seed=7, n_docs=200, base_slices=10, n_deltas=2, redeliver=True)
def test_merge_chain_equals_batch_over_union(
    spark, tmp_path_factory, seed, n_docs, base_slices, n_deltas, redeliver
):
    event(f"{n_deltas} deltas, re-delivered: {redeliver}")
    full = pages_with_truth(spark, n_docs, seed=seed)[0].select(*PAGES_COLUMNS)
    full = full.cache()
    work = tmp_path_factory.mktemp("diff")
    # the base takes ``base_slices`` of the hash slices; the rest is dealt
    # to the deltas round-robin, so every delta crosses the planted groups
    h = F.pmod(F.xxhash64("url", "warc_ts", F.lit(seed)), F.lit(_SLICES))
    base = full.filter(h < base_slices)
    deltas = [
        full.filter((h >= base_slices) & (F.pmod(h, F.lit(n_deltas)) == i))
        for i in range(n_deltas)
    ]
    if redeliver:
        deltas.append(deltas[-1])

    canon_full = dedup_pages(spark, full, str(work / "full"))
    state = str(work / "s0")
    dedup_pages(spark, base, state)
    for i, delta in enumerate(deltas, 1):
        out = str(work / f"s{i}")
        canon = dedup_pages_incremental(spark, delta, state, out)
        state = out

    assert _idfree_rows(canon) == _idfree_rows(canon_full)
    assert _partition(state, spark) == _partition(str(work / "full"), spark)
    full.unpersist()
