"""Pure-function golden tests (no Spark) — the analog of the reference's
built-in golden assertions (``bamutil.cpp:385-423``, ``cluster.cpp:275-288``).
"""

import numpy as np
import pytest

from gencore_spark.functions import (
    band_hashes,
    containment,
    extract_text,
    gram_hashes,
    hamming64,
    jaccard,
    jaccard_texts,
    lcs_length,
    minhash_many,
    minhash_signature,
    normalize_for_shingling,
    perm_params,
    shingle_hashes,
    simhash,
    simhash_many,
)

# ---------------------------------------------------------------- shingles


def test_shingle_goldens():
    s = shingle_hashes("hello world", 5)
    assert s.shape[0] == 7  # 11 - 5 + 1 positions, all distinct here
    assert s.dtype == np.uint64
    assert [int(x) for x in s[:3]] == [
        4267846814597972235,
        8934173892187639343,
        10730770210353417567,
    ]
    assert np.all(s[:-1] < s[1:])  # unique + sorted


def test_shingle_short_and_empty():
    assert shingle_hashes("", 5).shape[0] == 0
    tiny = shingle_hashes("ab", 5)
    assert [int(x) for x in tiny] == [11126551901054262832]
    # shorter-than-k strings with different content hash differently
    assert int(shingle_hashes("ba", 5)[0]) != int(tiny[0])


def test_shingle_dedup():
    # repeated content → duplicated k-grams collapse
    assert shingle_hashes("aaaaaaaaaa", 3).shape[0] == 1


def test_gram_hashes_cross_string_equality():
    a = np.frombuffer(b"xxhello", dtype=np.uint8)
    b = np.frombuffer(b"helloyyyy", dtype=np.uint8)
    ha, hb = gram_hashes(a, 5), gram_hashes(b, 5)
    assert np.intersect1d(ha, hb).shape[0] == 1
    assert gram_hashes(a, 8).shape[0] == 0  # longer than string


# ---------------------------------------------------------------- minhash


def test_minhash_goldens_pinned():
    a, b = perm_params(8, 42)
    assert [int(x) for x in a[:3]] == [
        14276969152011380361,
        8095878257575067587,
        15838336090824644133,
    ]
    sig = minhash_signature(shingle_hashes("hello world", 5), a, b)
    assert [int(x) for x in sig] == [
        2544871033546578284,
        404662669655158548,
        3842087385358152535,
        2133368467603675045,
        274944672641066742,
        300556066350955182,
        5477593994947412480,
        2696319341159213416,
    ]


def test_minhash_many_matches_single():
    a, b = perm_params(128, 42)
    texts = ["the quick brown fox " * 30, "", "completely different stuff " * 25]
    sigs = minhash_many(texts, 5, a, b)
    assert sigs.shape == (3, 128)
    assert np.array_equal(sigs[0], minhash_signature(shingle_hashes(texts[0], 5), a, b))
    assert np.all(sigs[1] == np.iinfo(np.uint64).max)  # empty doc sentinel


def test_minhash_estimates_jaccard():
    a, b = perm_params(128, 42)
    t1 = "the quick brown fox jumps over the lazy dog " * 20
    t2 = t1.replace("lazy", "hazy")
    sigs = minhash_many([t1, t2], 5, a, b)
    est = (sigs[0] == sigs[1]).mean()
    true = jaccard_texts(t1, t2, 5)
    assert abs(est - true) < 0.15  # 3+ sigma at n=128


def test_band_hashes_golden_and_collision():
    a, b = perm_params(8, 42)
    sig = minhash_signature(shingle_hashes("hello world", 5), a, b)
    bh = band_hashes(sig[None, :], 4, 2)
    assert [int(x) for x in bh[0]] == [
        1994052885008745315,
        8319539193086177634,
        11582265087648068342,
        5239231937630904676,
    ]
    # identical signatures collide in every band; band ids never cross-match
    two = band_hashes(np.stack([sig, sig]), 4, 2)
    assert np.array_equal(two[0], two[1])
    assert len(set(int(x) for x in two[0])) == 4


# ---------------------------------------------------------------- simhash


def test_simhash_goldens():
    s = shingle_hashes("hello world", 5)
    assert simhash(s) == 13446084118067384079
    many = simhash_many(["hello world", ""], 5)
    assert [int(x) for x in many] == [13446084118067384079, 0]


def test_simhash_near_vs_far():
    t1 = "the quick brown fox jumps over the lazy dog " * 20
    t2 = t1.replace("lazy", "hazy")
    t3 = "unrelated database systems essay content " * 20
    sh = simhash_many([t1, t2, t3], 5)
    near = hamming64(sh[0:1], sh[1:2])[0]
    far = hamming64(sh[0:1], sh[2:3])[0]
    assert near < 12 < far


def test_hamming64_table():
    a = np.array([0b1010, 0], dtype=np.uint64)
    b = np.array([0b0101, np.iinfo(np.uint64).max], dtype=np.uint64)
    assert list(hamming64(a, b)) == [4, 64]


# ---------------------------------------------------------------- similarity


def test_jaccard_edge_cases():
    e = np.zeros(0, dtype=np.uint64)
    x = np.array([1, 2, 3], dtype=np.uint64)
    y = np.array([2, 3, 4], dtype=np.uint64)
    assert jaccard(e, e) == 1.0
    assert jaccard(e, x) == 0.0
    assert jaccard(x, x) == 1.0
    assert jaccard(x, y) == pytest.approx(2 / 4)


def test_lcs_goldens():
    assert lcs_length("abcdef", "zzabczz") == 3
    assert lcs_length("abc", "xyz") == 0
    assert lcs_length("", "abc") == 0
    t = "some longer shared substring appears here exactly once"
    assert lcs_length(t, t) == len(t)
    assert lcs_length("xx" + t, t + "yy") == len(t)


def test_containment_truncation():
    whole = shingle_hashes("a long document body with many words in it " * 10, 5)
    part = shingle_hashes("a long document body with many words in it " * 5, 5)
    assert containment(part, whole) == 1.0


# ---------------------------------------------------------------- textnorm


def test_extract_text_byte_identical():
    # the BASELINE input_hint invariant: extraction recovers text byte-for-byte
    text = "Hi there & x — ünïcode too"
    html = f"<html><body>{text}</body></html>".encode()
    assert extract_text(html) == text
    assert extract_text(None) == ""


def test_extract_text_entities_and_script_style():
    # the five XML predefined entities decode AFTER tag removal
    assert extract_text(b"<html><body>Hi <b>there</b> &amp; x</body></html>") == (
        "Hi there & x"
    )
    assert extract_text(b"a &lt;b&gt; c &quot;d&quot; &apos;e&apos;") == (
        "a <b> c \"d\" 'e'"
    )
    # double-escaped input decodes exactly one level (&amp;lt; -> "&lt;")
    assert extract_text(b"x &amp;lt; y") == "x &lt; y"
    # script/style BODIES are stripped, not just their tags — including
    # attributes, mixed case, and embedded angle-free code
    html = (
        b"<html><head><STYLE type='text/css'>p { color: red }</STYLE>"
        b"<script src='x.js'>var a = 1; if (a) { go(); }</script></head>"
        b"<body>kept text</body></html>"
    )
    assert extract_text(html) == "kept text"
    # multi-line script body (dotall)
    assert extract_text(b"<script>\nline1\nline2\n</script>ok") == "ok"


def test_extract_text_numeric_character_references():
    # decimal and hex NCRs decode to their codepoints
    assert extract_text(b"it&#8217;s &#x2019; fine") == "it’s ’ fine"
    assert extract_text(b"A&#66;C &#X48;i") == "ABC Hi"
    # HTML5 windows-1252 C1 table: &#147;/&#148; are curly quotes
    assert extract_text(b"&#147;quoted&#148; &#150; dash") == "“quoted” – dash"
    # NUL / surrogate / out-of-range -> U+FFFD (HTML5)
    assert extract_text(b"&#0; &#55296; &#1114112;") == "� � �"
    # exactly ONE level of decoding, in one left-to-right pass:
    # &amp;#39; and &#38;#39; both yield the literal "&#39;"
    assert extract_text(b"x &amp;#39; y") == "x &#39; y"
    assert extract_text(b"x &#38;#39; y") == "x &#39; y"
    assert extract_text(b"x &#38;lt; y") == "x &lt; y"
    # malformed references pass through untouched
    assert extract_text(b"&#; &#x; &#xZZ; & #39;") == "&#; &#x; &#xZZ; & #39;"


def test_normalize_for_shingling():
    assert normalize_for_shingling("  Foo\t\tBAR\n baz  ") == "foo bar baz"
    assert normalize_for_shingling(None) == ""


# ---------------------------------------------------------------- verify memo


def test_verify_shingle_memo_capped_within_one_batch():
    """The verify UDF's task-level shingle memo never holds more than its
    cap, even when one Arrow batch carries more distinct texts than that;
    texts past the cap are shingled unmemoized, with identical results."""
    import pandas as pd

    from gencore_spark.config import DEFAULT_CONFIG
    from gencore_spark.operators.verify import _ShingleMemo, _verify_udf

    k = DEFAULT_CONFIG.shingle_k
    a = pd.Series([f"page {i} about alpha beta gamma delta" for i in range(20)])
    b = pd.Series([f"page {i} about alpha beta gamma omega" for i in range(20)])
    capped = _ShingleMemo(k, cap=8)
    out = _verify_udf(DEFAULT_CONFIG, capped).func(a, b)
    assert len(capped) == capped.cap
    unbounded = _ShingleMemo(k, cap=10**6)
    ref = _verify_udf(DEFAULT_CONFIG, unbounded).func(a, b)
    assert len(unbounded) == 40
    pd.testing.assert_frame_equal(out, ref)
