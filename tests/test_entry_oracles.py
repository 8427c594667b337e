"""Pins the data-margin assumptions the flagship e2e oracle rests on.

The ``pages_dedup_e2e`` oracle (``__spark_entry__.oracle_sql``) recomputes
the pipeline's answer from first principles (exact all-pairs Jaccard +
recursive-CTE CC + the election ladder in SQL).  That recomputation equals
the engine's probabilistic/banded execution ONLY under measured properties
of the driver corpus; this module asserts each one directly against the
parquet, so a testdata regeneration that silently breaks an assumption
fails HERE with a named reason instead of as an opaque hash mismatch.

Assumptions pinned (see the oracle's inline comment):

1. threshold margin — no distinct-text pair has Jaccard in [0.5, 0.85):
   every true pair clears the LCS-skip bound (0.85) and the MinHash
   3-sigma pre-gate (0.659), and no near-threshold pair exists whose
   LSH/gate randomness could flip the decision;
2. simhash margin — every true pair is within hamming 9 << the gate's 16;
3. election tie-freeness — within every cluster the ladder
   (votes desc, containment desc, raw length asc) is strict at the top,
   so the SQL never needs the engine's next rung (xxhash64 order).
"""

import os

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

_PAIRS_SQL = r"""
WITH texts AS (
  SELECT doc_id * 2 AS rid, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1, text || ' qq' FROM documents WHERE doc_id % 5 = 0
),
norm AS (SELECT rid, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
         FROM texts),
sh AS (SELECT DISTINCT rid, substring(nt, CAST(i AS INT), 5) AS g
       FROM norm, LATERAL unnest(range(1, greatest(length(nt) - 3, 2))) t(i)),
sizes AS (SELECT rid, count(*) AS n FROM sh GROUP BY rid),
inter AS (SELECT a.rid AS ia, b.rid AS ib, count(*) AS m
          FROM sh a JOIN sh b ON a.g = b.g AND a.rid < b.rid GROUP BY 1, 2)
SELECT ia, ib, m, sa.n AS na, sb.n AS nb,
       m * 1.0 / (sa.n + sb.n - m) AS j
FROM inter JOIN sizes sa ON sa.rid = ia JOIN sizes sb ON sb.rid = ib
WHERE m * 1.0 / (sa.n + sb.n - m) >= 0.45
"""


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return c


def test_documents_texts_are_pairwise_distinct(con):
    """Fourth load-bearing oracle assumption: the e2e oracle groups
    votes/n_variants by synthetic rid while the engine groups by text_hash,
    so equivalence requires every document text to be pairwise DISTINCT and
    no text to equal another text + ' qq' (the synthetic near-dup suffix).
    A testdata regeneration with duplicate texts would otherwise fail as
    exactly the opaque hash mismatch this module exists to prevent."""
    n, nd = con.execute(
        "SELECT count(*), count(DISTINCT text) FROM documents"
    ).fetchone()
    assert n == nd, f"documents has {n - nd} duplicate texts; rid != text_hash grouping"
    coll = con.execute(
        "SELECT count(*) FROM documents a JOIN documents b"
        " ON a.text = b.text || ' qq'"
    ).fetchone()[0]
    assert coll == 0, f"{coll} texts collide with another text + ' qq'"


def test_jaccard_margin_is_clean(con):
    js = [r[5] for r in con.execute(_PAIRS_SQL).fetchall()]
    assert js, "corpus lost its planted/natural near-dup pairs entirely"
    in_gap = [j for j in js if 0.5 <= j < 0.85]
    assert not in_gap, f"pairs inside the gate danger zone [0.5, 0.85): {in_gap}"


def test_simhash_margin_below_gate(con):
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from gencore_spark.functions.simhash import simhash_many
    from gencore_spark.functions.textnorm import normalize_for_shingling

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    ids = np.asarray(t["doc_id"].to_pylist())
    texts = t["text"].to_pylist()
    rid_text = {int(i) * 2: x for i, x in zip(ids, texts)}
    rid_text.update(
        {int(i) * 2 + 1: x + " qq" for i, x in zip(ids, texts) if i % 5 == 0}
    )
    fps = {
        r: int(simhash_many([normalize_for_shingling(x)], 5)[0])
        for r, x in rid_text.items()
    }
    pairs = con.execute(_PAIRS_SQL + " AND m * 1.0 / (sa.n + sb.n - m) >= 0.7").fetchall()
    hams = [bin(fps[a] ^ fps[b]).count("1") for a, b, *_ in pairs]
    assert max(hams) <= 9, f"true pair approaches the hamming gate (16): {max(hams)}"


def test_election_ladder_is_tie_free(con):
    # rank texts within each oracle cluster by the SQL ladder; assert the
    # top-1 is strictly ahead of the runner-up on (votes, cont, length)
    full = r"""
    WITH RECURSIVE
    texts AS (
      SELECT doc_id * 2 AS rid, text FROM documents
      UNION ALL
      SELECT doc_id * 2 + 1, text || ' qq' FROM documents WHERE doc_id % 5 = 0
    ),
    mult AS (
      SELECT doc_id * 2 AS rid,
             2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS votes
      FROM documents
      UNION ALL
      SELECT doc_id * 2 + 1, 1 FROM documents WHERE doc_id % 5 = 0
    ),
    norm AS (SELECT rid, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
             FROM texts),
    sh AS (SELECT DISTINCT rid, substring(nt, CAST(i AS INT), 5) AS g
           FROM norm, LATERAL unnest(range(1, greatest(length(nt) - 3, 2))) t(i)),
    sizes AS (SELECT rid, count(*) AS n FROM sh GROUP BY rid),
    inter AS (SELECT a.rid AS ia, b.rid AS ib, count(*) AS m
              FROM sh a JOIN sh b ON a.g = b.g AND a.rid < b.rid GROUP BY 1, 2),
    pairs AS (SELECT ia, ib, m, sa.n AS na, sb.n AS nb
              FROM inter JOIN sizes sa ON sa.rid = ia
              JOIN sizes sb ON sb.rid = ib
              WHERE m * 1.0 / (sa.n + sb.n - m) >= 0.7),
    cont AS (SELECT rid, max(c) AS containment FROM (
               SELECT ia AS rid, m * 1.0 / na AS c FROM pairs
               UNION ALL SELECT ib, m * 1.0 / nb FROM pairs) GROUP BY rid),
    sym AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT s.a, w.label FROM sym s JOIN walk w ON s.b = w.node
      WHERE w.label < s.a
    ),
    comp AS (SELECT node, min(label) AS cid FROM walk GROUP BY node),
    ranked AS (
      SELECT coalesce(c.cid, t.rid) AS cid, t.rid, mult.votes,
             coalesce(ct.containment, 0.0) AS cont, length(t.text) AS len,
             row_number() OVER (
               PARTITION BY coalesce(c.cid, t.rid)
               ORDER BY mult.votes DESC, coalesce(ct.containment, 0.0) DESC,
                        length(t.text) ASC) AS rn
      FROM texts t
      JOIN mult ON mult.rid = t.rid
      LEFT JOIN comp c ON c.node = t.rid
      LEFT JOIN cont ct ON ct.rid = t.rid
    )
    SELECT a.cid FROM ranked a JOIN ranked b
      ON a.cid = b.cid AND a.rn = 1 AND b.rn = 2
     AND a.votes = b.votes AND a.cont = b.cont AND a.len = b.len
    """
    ties = con.execute(full).fetchall()
    assert not ties, f"election tie past the length rung in clusters {ties}"


def test_documents_ids_unique_and_31bit(con):
    """Load-bearing assumptions of the pages_dedup_e2e and
    pages_dedup_incremental_e2e rows: (1) doc_id is UNIQUE — the oracle
    keys each text by doc_id*2 (its near-dup by doc_id*2+1) and
    ``_e2e_pages`` names each page ``ex.org/d{doc_id}`` at a doc_id-derived
    warc_ts, so a repeated doc_id would merge two texts under one SQL key
    and give two pages one (url, warc_ts), hence one engine doc_id.  The
    range check (< 1e7) is only a sanity bound on the corpus: no remaining
    row needs more than doc_id*2+1 to fit a BIGINT."""
    n, nd, mx, mn = con.execute(
        "SELECT count(*), count(DISTINCT doc_id), max(doc_id), min(doc_id)"
        " FROM documents"
    ).fetchone()
    assert n == nd, "duplicate doc_ids break the argmin oracle equivalence"
    assert mn >= 0 and mx < 10_000_000, (
        f"doc_id range [{mn}, {mx}] would collide with the +1e7 planted copies"
    )
