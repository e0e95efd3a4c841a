"""KMV corpus-overlap sketches and PPS systematic sampling.

Both operators carry the engine-portability contract: every value they
emit is reproducible bit-for-bit from a pure-Python replay of the same
md5/integer arithmetic, so these tests pin Spark against verbatim
references (the driver oracle replays the same thing in DuckDB SQL).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators import sampling as sampling_ops
from subgraph_extractor_spark.operators import sketches as sk

SF = "/root/testdata/sf0.001"
KMV_SPACE = 1 << 60


def _h60(value: str) -> int:
    return int(hashlib.md5(value.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _py_kmv(values, k):
    hs = sorted({_h60(v) for v in values if v is not None})
    return hs[:k]


# ---------------------------------------------------------------- KMV


def test_kmv_sketch_matches_python_reference(spark, docs):
    k = 32
    got = sk.kmv_sketch(docs, "text", k=k).collect()[0]["_kmv"]
    texts = [r["text"] for r in docs.select("text").collect()]
    assert got == _py_kmv(texts, k)


def test_kmv_sketch_grouped(spark, docs):
    k = 16
    rows = sk.kmv_sketch(docs, "text", k=k, group_cols=["lang"]).collect()
    by_lang = {}
    for r in docs.select("lang", "text").collect():
        by_lang.setdefault(r["lang"], []).append(r["text"])
    assert len(rows) == len(by_lang)
    for r in rows:
        assert r["_kmv"] == _py_kmv(by_lang[r["lang"]], k)


def test_kmv_merge_law(spark, docs):
    # sketch(A) merge sketch(B) == sketch(A ∪ B): the mergeable-state
    # law that makes the standing-sketch refresh correct.
    k = 24
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)  # overlaps A on %6
    sk_a = sk.kmv_sketch(a, "text", k=k)
    sk_b = sk.kmv_sketch(b, "text", k=k)
    merged = sk.kmv_merge(sk_a.unionByName(sk_b), k=k).collect()[0]["_kmv"]
    direct = sk.kmv_sketch(a.unionByName(b), "text", k=k).collect()[0][
        "_kmv"
    ]
    assert merged == direct
    # grouped, folded left over three disjoint slices: the standing
    # per-group sketch equals one sketch over everything
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = None
    for s in slices:
        new = sk.kmv_sketch(s, "text", k=k, group_cols=["lang"])
        state = new if state is None else sk.kmv_merge(
            state.unionByName(new), k=k, group_cols=["lang"]
        )
    folded = {r["lang"]: r["_kmv"] for r in state.collect()}
    whole = sk.kmv_sketch(docs, "text", k=k, group_cols=["lang"])
    whole = {r["lang"]: r["_kmv"] for r in whole.collect()}
    assert folded == whole


def test_kmv_pruned_identical_when_estimate_sane(spark, docs):
    k = 32
    n_distinct = docs.select("text").distinct().count()
    full = sk.kmv_sketch(docs, "text", k=k).collect()[0]["_kmv"]
    for est in (n_distinct, n_distinct // 2, 4 * n_distinct):
        pruned = sk.kmv_sketch_pruned(
            docs, "text", k=k, distinct_estimate=est
        ).collect()[0]["_kmv"]
        # over-estimates keep MORE survivors (looser threshold), so
        # both directions of sane drift stay identical
        assert pruned == full, f"estimate={est}"


def test_kmv_distinct_estimate_exact_when_short(spark, docs):
    # fewer distinct values than k: the sketch saw everything
    k = 10 ** 6
    out = sk.kmv_distinct_estimate(
        sk.kmv_sketch(docs, "lang", k=k), k=k
    ).collect()[0]
    truth = docs.filter(F.col("lang").isNotNull()).select(
        "lang"
    ).distinct().count()
    assert out["n_distinct_est"] == float(truth)


def test_kmv_distinct_estimate_error_bound(spark, docs):
    k = 64
    out = sk.kmv_distinct_estimate(
        sk.kmv_sketch(docs, "text", k=k), k=k
    ).collect()[0]["n_distinct_est"]
    truth = docs.filter(F.col("text").isNotNull()).select(
        "text"
    ).distinct().count()
    # RSE ~ 1/sqrt(k-1) ~ 12.6%; bound loosely at 4 sigma
    assert abs(out - truth) / truth < 0.5


def test_kmv_jaccard_exact_when_union_short(spark, docs):
    # |A ∪ B| < k: S is the whole union and the estimate is EXACT
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 != 1)
    k = 10 ** 6
    got = sk.kmv_jaccard(
        sk.kmv_sketch(a, "text", k=k), sk.kmv_sketch(b, "text", k=k), k=k
    ).collect()[0]
    ta = {r["text"] for r in a.select("text").collect() if r["text"] is not None}
    tb = {r["text"] for r in b.select("text").collect() if r["text"] is not None}
    ha, hb = {_h60(t) for t in ta}, {_h60(t) for t in tb}
    inter, union = len(ha & hb), len(ha | hb)
    assert got["overlap_hits"] == inter
    assert got["union_k"] == union
    assert got["jaccard_est"] == inter / union


def test_kmv_jaccard_estimate_tracks_truth(spark, docs):
    # k below |A ∪ B|: the estimator must land near the true Jaccard
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 != 1)
    k = 64
    got = sk.kmv_jaccard(
        sk.kmv_sketch(a, "text", k=k), sk.kmv_sketch(b, "text", k=k), k=k
    ).collect()[0]
    ta = {r["text"] for r in a.select("text").collect() if r["text"] is not None}
    tb = {r["text"] for r in b.select("text").collect() if r["text"] is not None}
    ha, hb = {_h60(t) for t in ta}, {_h60(t) for t in tb}
    truth = len(ha & hb) / len(ha | hb)
    assert abs(got["jaccard_est"] - truth) < 0.25


# ---------------------------------------------------------------- PPS


def _py_pps(rows, n, salt="pps"):
    """Verbatim reference: rows = [(id, w)]; returns {id: mult}."""
    ordered = sorted(
        ((r_id, w) for r_id, w in rows if w > 0),
        key=lambda t: (
            hashlib.md5((salt + str(t[0])).encode()).hexdigest(),
            t[0],
        ),
    )
    total = sum(w for _, w in ordered)
    out, cum = {}, 0
    for r_id, w in ordered:
        prev = cum
        cum += w
        m = (cum * n) // total - (prev * n) // total
        if m >= 1:
            out[r_id] = m
    return out


def _doc_weights(docs):
    # token count as the sampling weight — the importance axis that
    # motivates PPS (long documents carry more training signal)
    return [
        (r["doc_id"], r["w"])
        for r in docs.select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), "\\s+")).alias("w"),
        ).collect()
    ]


def test_pps_matches_python_reference(spark, docs):
    n = 100
    w = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    got = {
        r["doc_id"]: r["mult"]
        for r in sampling_ops.pps_systematic_sample(
            docs, "doc_id", w, n
        ).collect()
    }
    assert got == _py_pps(_doc_weights(docs), n)


def test_pps_total_draws_exactly_n(spark, docs):
    for n in (1, 7, 100, 1000):
        w = F.size(F.split(F.trim(F.col("text")), "\\s+"))
        out = sampling_ops.pps_systematic_sample(docs, "doc_id", w, n)
        total = out.agg(F.sum("mult")).collect()[0][0]
        assert total == n, f"n={n}"


def test_pps_heavy_row_always_selected(spark):
    # one row holding >= W/n of the mass is deterministically selected
    rows = [(i, 1) for i in range(100)] + [(999, 500)]
    df = spark.createDataFrame(rows, ["id", "w"])
    out = {
        r["id"]: r["mult"]
        for r in sampling_ops.pps_systematic_sample(
            df, "id", F.col("w"), 6
        ).collect()
    }
    # heavy row has 500/600 of the mass -> expected mult 5
    assert out.get(999, 0) >= 4
    assert sum(out.values()) == 6


def test_pps_partitioning_independent(spark, docs):
    n = 50
    w = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    a = sampling_ops.pps_systematic_sample(docs, "doc_id", w, n).collect()
    b = sampling_ops.pps_systematic_sample(
        docs.repartition(13), "doc_id", w, n
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pps_nonpositive_weights_excluded(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, 10)], ["id", "w"]
    )
    got = {
        r["id"]
        for r in sampling_ops.pps_systematic_sample(
            df, "id", F.col("w"), 2
        ).collect()
    }
    assert got <= {1, 4} and got


def test_pps_overflow_envelope_hard_error(spark):
    df = spark.createDataFrame(
        [(1, (1 << 61)), (2, (1 << 61))], ["id", "w"]
    )
    with pytest.raises(Exception):
        sampling_ops.pps_systematic_sample(
            df, "id", F.col("w"), 4
        ).collect()


def test_pps_invalid_n(spark, docs):
    with pytest.raises(ValueError):
        sampling_ops.pps_systematic_sample(
            docs, "doc_id", F.lit(1), 0
        )


# ------------------------------------------------------------ streaming


def test_kmv_jaccard_grouped_pairs_by_key(spark, docs):
    # per-group sketch comparison: overlap of even vs odd doc slices
    # WITHIN each language, paired on the lang key
    k = 10 ** 6  # short-sketch regime -> estimates are exact
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    got = {
        r["lang"]: (r["overlap_hits"], r["union_k"])
        for r in sk.kmv_jaccard(
            sk.kmv_sketch(a, "text", k=k, group_cols=["lang"]),
            sk.kmv_sketch(b, "text", k=k, group_cols=["lang"]),
            k=k,
            join_cols=["lang"],
        ).collect()
    }
    rows_a, rows_b = {}, {}
    for rows, src in ((rows_a, a), (rows_b, b)):
        for r in src.select("lang", "text").collect():
            if r["text"] is not None:
                rows.setdefault(r["lang"], set()).add(_h60(r["text"]))
    for lang in set(rows_a) & set(rows_b):
        inter = len(rows_a[lang] & rows_b[lang])
        union = len(rows_a[lang] | rows_b[lang])
        assert got[lang] == (inter, union), lang
    # inner join: languages present on only one side don't pair
    assert set(got) == set(rows_a) & set(rows_b)


def test_pps_wrapped_total_weight_is_caught(spark):
    # ADVICE r4: if the TOTAL weight itself exceeds 2^63 the window sums
    # wrap before the envelope guard evaluates — a wrapped (negative)
    # _Wt used to sail under the upper bound.  Enough 2^61 weights to
    # push W past 2^63 must now hard-error, not emit garbage.
    df = spark.createDataFrame(
        [(i, 1 << 61) for i in range(6)], ["id", "w"]
    )
    with pytest.raises(Exception):
        sampling_ops.pps_systematic_sample(
            df, "id", F.col("w"), 1
        ).collect()


def test_kmv_jaccard_empty_sketch_rows_drop_out(spark):
    # ADVICE r4: two empty corpora yield one empty-array sketch row
    # each; pairing them used to produce union_k=0 and a NULL
    # jaccard_est row.  Convention: empty sketch rows are filtered
    # before pairing -> no output row (same as one-sided groups).
    empty = sk.kmv_sketch(
        spark.createDataFrame([], "doc_id long, text string"), "text", k=16
    )
    full = sk.kmv_sketch(
        spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"]),
        "text", k=16,
    )
    assert sk.kmv_jaccard(empty, empty, 16).count() == 0
    assert sk.kmv_jaccard(empty, full, 16).count() == 0
    assert sk.kmv_jaccard(full, full, 16).count() == 1
