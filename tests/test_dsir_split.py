"""DSIR-style hashed-bigram importance scores (operators/dsir.py) vs a
verbatim Python reference, plus the leakage-safe group-aware split."""

import hashlib
from collections import Counter

import pytest

from subgraph_extractor_spark.operators import dsir
from subgraph_extractor_spark.operators import sampling
from subgraph_extractor_spark.operators.dedup import duplicate_clusters


# ---------------------------------------------------------------- reference

def _toks(text):
    if text is None or text.strip().lower() == "":
        return []
    return text.strip().lower().split()


def _bigram_buckets(text, buckets):
    t = _toks(text)
    out = []
    for a, b in zip(t, t[1:]):
        hx = hashlib.md5(f"{a}\x1f{b}".encode()).hexdigest()
        out.append(int(hx[:12], 16) % buckets)
    return out


def _ref_scores(raw, target, buckets, scale_bits=16):
    tc = Counter(h for _, tx in target for h in _bigram_buckets(tx, buckets))
    rc = Counter(h for _, tx in raw for h in _bigram_buckets(tx, buckets))
    zt, zr = sum(tc.values()), sum(rc.values())
    scale = 1 << scale_bits

    def w(h):
        return (scale * (tc.get(h, 0) + 1) * (zr + buckets)) // (
            (rc.get(h, 0) + 1) * (zt + buckets)
        )

    out = {}
    for i, tx in raw:
        hs = _bigram_buckets(tx, buckets)
        out[i] = (len(hs), sum(w(h) for h in hs))
    return out


# ---------------------------------------------------------------- tests

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "quantum flux capacitors hum softly"),
    (3, "the cat sat on the mat again and again"),
    (4, ""),
    (5, None),
    (6, "singleton"),
    (7, "the cat ran on the mat"),
]


def _df(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_scores_match_reference(spark):
    raw = DOCS
    target = [(i, t) for i, t in DOCS if i in (0, 3, 7)]
    got = {
        r["doc_id"]: (r["n_grams"], r["score"])
        for r in dsir.dsir_scores(
            _df(spark, raw), _df(spark, target), "text", "doc_id",
            buckets=64,
        ).collect()
    }
    assert got == _ref_scores(raw, target, buckets=64)


def test_dsir_target_like_docs_score_higher(spark):
    # docs sharing the target's grams must out-score the off-domain doc
    target = [(i, t) for i, t in DOCS if i in (0, 3)]
    got = {
        r["doc_id"]: r["score"] / max(r["n_grams"], 1)
        for r in dsir.dsir_scores(
            _df(spark), _df(spark, target), "text", "doc_id", buckets=512
        ).collect()
    }
    assert got[7] > got[2]          # near-target beats off-domain
    assert got[0] > got[2]
    assert got[4] == 0 and got[5] == 0   # empty/null docs score 0


def test_dsir_every_raw_doc_gets_a_row(spark):
    target = [(0, "the cat sat")]
    out = dsir.dsir_scores(
        _df(spark), _df(spark, target), "text", "doc_id", buckets=32
    )
    assert out.count() == len(DOCS)


def test_dsir_envelope_raises_instead_of_wrapping(spark):
    # under ANSI (Spark 4 default) the literal multiplication itself
    # raises ARITHMETIC_OVERFLOW; under non-ANSI sessions the in-plan
    # assert_true envelope fires — either way a hard error, never a
    # silently wrapped weight.
    target = [(0, "a b " * 50)]
    with pytest.raises(Exception, match="overflow|envelope"):
        dsir.dsir_scores(
            _df(spark, target), _df(spark, target), "text", "doc_id",
            buckets=4, scale_bits=58,
        ).collect()


def test_leakage_safe_split_keeps_clusters_together(spark):
    # pair chain 10-11, 11-12 (one cluster) + pair 20-21; everything
    # else singleton.  Whatever sides are drawn, cluster members agree.
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "id_a long, id_b long"
    )
    clusters = duplicate_clusters(pairs)
    docs = spark.createDataFrame(
        [(i,) for i in range(30)], "doc_id long"
    )
    out = sampling.leakage_safe_split(docs, "doc_id", clusters)
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 30
    assert got[10] == got[11] == got[12]
    assert got[20] == got[21]
    # cluster side is decided by the representative's bucket: id 10
    # splits exactly as a singleton id-10 would
    solo = sampling.leakage_safe_split(
        docs, "doc_id",
        spark.createDataFrame([], "member_id long, cluster_id long"),
    )
    solo_got = {r["doc_id"]: r["split"] for r in solo.collect()}
    assert got[12] == solo_got[10]
    # non-members keep their singleton assignment
    for i in range(30):
        if i not in (11, 12, 21):
            assert got[i] == solo_got[i]


def test_leakage_safe_split_distribution_sane(spark):
    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    empty = spark.createDataFrame([], "member_id long, cluster_id long")
    out = sampling.leakage_safe_split(docs, "doc_id", empty)
    sizes = Counter(r["split"] for r in out.collect())
    assert sizes["train"] > sizes["valid"] > 0
    assert sizes["train"] > sizes["test"] > 0
    assert 0.70 < sizes["train"] / 2000 < 0.90


def test_weights_denominator_overflow_guard(spark):
    """ADVICE r6: (cr+1)*(Zt+B) past 2^63 must hard-error, never wrap.
    Constructed so ONLY the denominator trips (scale_bits=0 keeps the
    numerator product 1 * (Zr+B) < 2^63).  Under ANSI the literal
    multiplication raises ARITHMETIC_OVERFLOW; the dedicated guard
    exists for NON-ANSI sessions, where the product wraps silently —
    so that path is asserted explicitly (same split as
    test_dsir_envelope_raises_instead_of_wrapping)."""
    tgt = spark.createDataFrame([], "h int, cnt long")
    raw = spark.createDataFrame([(1, 1 << 52)], "h int, cnt long")
    with pytest.raises(Exception, match="overflow|envelope"):
        dsir.importance_weights(tgt, raw, 4096, scale_bits=0).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="dsir overflow envelope"):
            dsir.importance_weights(
                tgt, raw, 4096, scale_bits=0
            ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
