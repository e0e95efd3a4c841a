"""Dedup operators: exact dedup, MinHash-LSH recall vs brute-force
Jaccard, SimHash consistency, representative pruning."""

import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators import dedup
from subgraph_extractor_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup(df, "text", "doc_id").collect()
    assert sorted((r["text"], r["doc_id"]) for r in out) == [
        ("hello world", 1),
        ("other text", 3),
    ]
    hashed = dedup.exact_dedup_by_hash(df, "text", "doc_id")
    rows = {r["doc_id"]: r["n_copies"] for r in hashed.collect()}
    assert rows == {1: 2, 3: 1}


def test_exact_dedup_carry_equals_reattach_join(spark):
    """The r11 carry face must return exactly what the old
    survivors-join-input reattach produced: the min-id (or max-id)
    row's carried column values, one row per distinct content."""
    df = spark.createDataFrame(
        [
            (3, "hello world", "u3", 30),
            (1, "hello world", "u1", 10),
            (2, "hello world", "u2", 20),
            (7, "other text", "u7", 70),
        ],
        ["doc_id", "text", "url", "n_tok"],
    )
    for keep in ("min", "max"):
        carried = dedup.exact_dedup(
            df, "text", "doc_id", keep=keep, carry=["url", "n_tok"]
        )
        rejoined = dedup.exact_dedup(df, "text", "doc_id", keep=keep).join(
            df.select("doc_id", "url", "n_tok"), "doc_id"
        )
        got = sorted(
            (r["text"], r["doc_id"], r["url"], r["n_tok"])
            for r in carried.collect()
        )
        want = sorted(
            (r["text"], r["doc_id"], r["url"], r["n_tok"])
            for r in rejoined.collect()
        )
        assert got == want
    # column contract: content first, then id and carried columns
    assert carried.columns == ["text", "doc_id", "url", "n_tok"]


def test_minhash_recall_against_bruteforce(spark, docs):
    """LSH candidates + exact verification must recover (almost) all true
    high-Jaccard pairs.  Brute-force ground truth over the 500-doc corpus."""
    sh = docs.select(
        F.col("doc_id").alias("_id"),
        dedup.word_shingles(F.col("text"), 3).alias("_sh"),
    ).cache()
    l, r = sh.alias("l"), sh.alias("r")
    truth = (
        l.join(r, F.col("l._id") < F.col("r._id"))
        .withColumn("j", dedup.jaccard(F.col("l._sh"), F.col("r._sh")))
        .filter(F.col("j") >= 0.5)
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"), "j"
        )
    )
    truth_pairs = {(row["id_a"], row["id_b"]) for row in truth.collect()}
    assert truth_pairs, "fixture should contain near-duplicate documents"

    got = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    got_pairs = {(row["id_a"], row["id_b"]) for row in got.collect()}
    # verification guarantees precision == 1.0 w.r.t. the same threshold
    assert got_pairs <= truth_pairs
    # 128 hashes / 32 bands: P(candidate) at j=0.5 per band ~ 1-(1-0.5^4)^32
    # ~ .87; allow a little slack but expect high recall
    recall = len(got_pairs & truth_pairs) / len(truth_pairs)
    assert recall >= 0.8, f"minhash recall too low: {recall}"


def test_minhash_portable_precision_and_edges(spark, docs):
    """The portable twin is full-value oracled at both scales by the
    driver harness; pytest covers the edges the fixture corpus lacks:
    verified pairs are a subset of the brute-force truth at the same
    threshold (precision 1.0 — verification is exact Jaccard over the
    identical gram-hash sets), NULL/empty/sub-shingle docs drop out,
    identical docs always pair at jaccard 1.0, and the pipeline is
    deterministic across runs."""
    got = dedup.minhash_dedup_pairs_portable(
        docs, "text", "doc_id", threshold=0.5
    )
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
    assert rows, "fixture should contain near-duplicate documents"
    assert all(0.5 <= j <= 1.0 for j in rows.values())

    edge = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # identical -> j=1.0
            (3, None),
            (4, ""),
            (5, "   "),
            (6, "two tokens"),  # sub-shingle: no 3-gram evidence
            (7, "alpha beta gamma delta zeta"),  # near-dup of 1/2
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs_portable(
            edge, "text", "doc_id", threshold=0.2
        ).collect()
    }
    assert out[(1, 2)] == 1.0
    assert not any(3 in p or 4 in p or 5 in p or 6 in p for p in out)
    # (1,7)/(2,7): grams {abc,bcd,cde} vs {abc,bcd,cdz} -> j = 2/4
    assert out.get((1, 7)) == out.get((2, 7)) == 0.5
    # determinism
    out2 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs_portable(
            edge, "text", "doc_id", threshold=0.2
        ).collect()
    }
    assert out == out2


def test_minhash_portable_incremental_equals_full_restricted(spark, docs):
    """The portable incremental face == the portable full run over
    (corpus ∪ batch) restricted to batch-touching pairs — the same law
    the driver oracle certifies cross-engine (its SQL is the full-run
    replay + the batch filter)."""
    batch = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 != 0")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_dedup_incremental_portable(
            batch, corpus, "text", "doc_id", threshold=0.5
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_dedup_pairs_portable(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
        if r["id_a"] % 10 == 0 or r["id_b"] % 10 == 0
    }
    assert got == full and got, "fixture should contain cross-batch dups"


def test_minhash_portable_incremental_reingest_latest_wins(spark):
    """A re-ingested id whose text CHANGED is scored with its batch
    signature only: one jaccard row per touching pair (never two
    conflicting rows from the two versions), pairs reflect the NEW
    text, and the doc's similarity to its own superseded version is
    out of scope (latest wins)."""
    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"
    corpus = spark.createDataFrame(
        [(1, t_a), (2, t_a), (3, t_b)], ["doc_id", "text"]
    )
    # id 1 re-ingested: its text changed from t_a to t_b
    batch = spark.createDataFrame([(1, t_b)], ["doc_id", "text"])
    rows = dedup.minhash_dedup_incremental_portable(
        batch, corpus, "text", "doc_id", threshold=0.5
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)), f"duplicate pair rows: {rows}"
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    # new text t_b matches doc 3 exactly; the OLD t_a identity with
    # doc 2 must not surface (that would be the superseded version)
    assert out == {(1, 3): 1.0}, out


def test_minhash_portable_incremental_intra_batch_duplicate_id(spark):
    """One signature per id holds WITHIN a side too: a batch carrying
    the same id twice with different text must still emit exactly one
    jaccard row per touching pair (a distinct()-based reduction kept
    both signature rows and fanned the verify joins out)."""
    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"
    corpus = spark.createDataFrame([(2, t_a), (3, t_b)], ["doc_id", "text"])
    batch = spark.createDataFrame([(1, t_a), (1, t_b)], ["doc_id", "text"])
    rows = dedup.minhash_dedup_incremental_portable(
        batch, corpus, "text", "doc_id", threshold=0.5
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)), f"duplicate pair rows: {rows}"
    # the surviving signature is deterministic (lexicographic-max of
    # the two hash arrays), so exactly ONE of the two texts' identity
    # pairs surfaces — never both
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert out in ({(1, 2): 1.0}, {(1, 3): 1.0}), out
    rows2 = dedup.minhash_dedup_incremental_portable(
        batch, corpus, "text", "doc_id", threshold=0.5
    ).collect()
    assert out == {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows2}


def test_embedding_neardup_portable_contract(spark, sf_dir):
    """The integer-cosine face: every returned pair's FLOAT cosine sits
    near/above the threshold (quantization at 2^-10 can only move the
    boundary by ~1e-3), pairs are deterministic across partitionings,
    the integer predicate matches a float-reference check on the
    returned rows, and NULL vectors drop out."""
    import numpy as np

    from subgraph_extractor_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_neardup_pairs_portable(
        emb, "embedding", "vec_id", threshold_num=2, threshold_den=5
    )
    rows = out.collect()
    assert rows, "fixture should contain cosine>=0.4 candidate pairs"
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for r in rows:
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.4 - 2e-3, (r["id_a"], r["id_b"], cos)
    rows2 = dedup.embedding_neardup_pairs_portable(
        emb.repartition(7), "embedding", "vec_id",
        threshold_num=2, threshold_den=5,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    withnull = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(99999, None)], "vec_id bigint, embedding array<float>"
        )
    )
    rows3 = dedup.embedding_neardup_pairs_portable(
        withnull, "embedding", "vec_id", threshold_num=2, threshold_den=5
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows3))
    # zero-quantized vectors (exact zeros AND sub-quantum magnitudes
    # that floor to zero) have undefined cosine; they must not pair
    # with each other or anything else — without the n2 > 0 pre-band
    # filter they'd all share the all-ones sign signature and pass the
    # degenerate 0 >= 0 integer threshold
    dim = len(next(iter(vecs.values())))
    withzeros = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [
                (99901, [0.0] * dim),
                (99902, [0.0] * dim),
                (99903, [1e-6] * dim),  # floors to the zero vector
            ],
            "vec_id bigint, embedding array<float>",
        )
    )
    rows4 = dedup.embedding_neardup_pairs_portable(
        withzeros, "embedding", "vec_id", threshold_num=2, threshold_den=5
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows4))
    with pytest.raises(ValueError):
        dedup.embedding_neardup_pairs_portable(
            emb, "embedding", "vec_id", threshold_num=-1
        )


def test_minhash_portable_geometry_validation():
    with pytest.raises(ValueError):
        dedup._minhash_md5_udf(16, 5)  # bands must divide num_hashes
    with pytest.raises(ValueError):
        dedup._minhash_md5_udf(32, 8)  # rows-per-band must be 2


def test_minhash_identical_docs_always_pair(spark):
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(4)]
    rows += [(10, "totally different words entirely unrelated content here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_dedup_pairs(df, "text", "doc_id", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}


def test_simhash_identical_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "spark catalyst tungsten engine"), (2, "spark catalyst tungsten engine"),
         (3, "completely other topic words")],
        ["doc_id", "text"],
    )
    pairs = dedup.simhash_dedup_pairs(df, "text", "doc_id", max_distance=0)
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()}
    assert (1, 2, 0) in got
    assert not any(a == 3 or b == 3 for a, b, _ in got)


def test_dedup_keep_representatives(spark, docs):
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    kept = dedup.dedup_keep_representatives(docs, pairs, "doc_id")
    n_losers = pairs.select("id_b").distinct().count()
    assert kept.count() == docs.count() - n_losers
    # every surviving pair member is a minimal representative
    survivors = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for row in pairs.collect():
        assert row["id_b"] not in survivors


def test_bucket_pairs_equals_self_join(spark):
    """The in-bucket combination expansion (bucket_pairs) must produce
    EXACTLY the pair set of the classic banded self-join it replaced —
    same buckets in, same (id_a < id_b) distinct pairs out."""
    import random

    rng = random.Random(7)
    rows = [
        (rng.randrange(4), rng.randrange(8), rng.randrange(40))
        for _ in range(300)
    ]
    banded = spark.createDataFrame(rows, "band int, bucket int, _id long")
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_set("_id").alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    via_buckets = {
        (r["id_a"], r["id_b"])
        for r in dedup.bucket_pairs(grouped).collect()
    }
    l, r_ = banded.alias("l"), banded.alias("r")
    via_join = {
        (row["id_a"], row["id_b"])
        for row in (
            l.join(
                r_,
                on=[
                    F.col("l.band") == F.col("r.band"),
                    F.col("l.bucket") == F.col("r.bucket"),
                    F.col("l._id") < F.col("r._id"),
                ],
            )
            .select(
                F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
            )
            .distinct()
            .collect()
        )
    }
    assert via_buckets == via_join and via_buckets


def test_bucket_pairs_duplicate_ids_no_self_pairs(spark):
    """Non-unique doc ids in a bucket must not emit degenerate
    id_a == id_b self-pairs (the replaced self-join's strict
    l._id < r._id excluded them; bucket_pairs must too)."""
    grouped = spark.createDataFrame(
        [(0, 0, [7, 7, 9]), (1, 1, [3, 3])],
        "band int, bucket int, _ids array<long>",
    )
    got = {(r["id_a"], r["id_b"]) for r in dedup.bucket_pairs(grouped).collect()}
    assert got == {(7, 9)}


def test_minhash_mega_bucket_cap(spark):
    """A degenerate mega-bucket (thousands of identical boilerplate docs)
    must be dropped BEFORE combination expansion, not expanded into a
    single quadratic task.  With 5k identical docs every band bucket has
    5k members; under a cap of 100 the operator must emit zero candidate
    pairs for them — quickly — while an independent small near-dup group
    in the same corpus is still found."""
    boiler = [(i, "standard legal boilerplate footer text repeated verbatim")
              for i in range(5000)]
    near = [
        (90001, "the quick brown fox jumps over the lazy dog today"),
        (90002, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(boiler + near, ["doc_id", "text"]).repartition(8)
    pairs = dedup.minhash_candidates(
        df, "text", "doc_id", max_bucket_size=100
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (90001, 90002) in got
    assert not any(a < 90000 and b < 90000 for a, b in got), (
        "mega-bucket members must not generate candidate pairs under the cap"
    )
    # uncapped, the boilerplate group would dominate: sanity-check the cap
    # is what changed the outcome (small n here keeps the uncapped run cheap
    # enough for a test, unlike the web-corpus case it models)
    uncapped = dedup.minhash_candidates(
        df.filter(F.col("doc_id") < 50), "text", "doc_id", max_bucket_size=None
    )
    assert uncapped.count() == 50 * 49 // 2


def test_simhash_banding_complete_at_any_width(spark, docs):
    """Pigeonhole banding is COMPLETE for max_distance <= bands-1: the
    banded pair set must EQUAL the brute-force hamming filter — at the
    default 4x16 banding and at the non-default 2x32 banding."""
    # completeness is width-independent below the guarantee, so two
    # different band widths must agree exactly at max_distance=1
    p4 = dedup.simhash_dedup_pairs(
        docs.limit(120), "text", "doc_id", max_distance=1, bands=4
    )
    p2 = dedup.simhash_dedup_pairs(
        docs.limit(120), "text", "doc_id", max_distance=1, bands=2
    )
    s4 = {(r["id_a"], r["id_b"], r["hamming"]) for r in p4.collect()}
    s2 = {(r["id_a"], r["id_b"], r["hamming"]) for r in p2.collect()}
    assert s4 == s2  # both widths guarantee completeness at distance 1

    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_dedup_pairs(docs, "text", "doc_id",
                                  max_distance=3, bands=2)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_dedup_pairs(docs, "text", "doc_id", bands=5)


def test_minhash_incremental_equals_full_restricted(spark, docs):
    """Incremental dedup (new batch vs existing corpus) must produce
    EXACTLY the full-corpus verified pair set restricted to pairs with
    at least one new member — same banding, same cap, same verification,
    minus the old x old work."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    inc = dedup.minhash_dedup_incremental(
        new, corpus, "text", "doc_id", threshold=0.5
    )
    got = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in inc.collect()}

    full = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    want = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in full.collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    assert got == want and got, "fixture should contain cross-batch dups"


def test_minhash_incremental_accepts_precomputed_corpus_hashes(spark, docs):
    """The stored-signature-table pattern: passing precomputed corpus
    shingle hashes must give identical results to recomputing them."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    pre = dedup.shingle_hashes(corpus, "text", "doc_id", 3)
    a = dedup.minhash_dedup_incremental(
        new, corpus, "text", "doc_id", threshold=0.5
    )
    b = dedup.minhash_dedup_incremental(
        new, None, "text", "doc_id", threshold=0.5, corpus_hashes_df=pre
    )
    sa = {(r["id_a"], r["id_b"]) for r in a.collect()}
    sb = {(r["id_a"], r["id_b"]) for r in b.collect()}
    assert sa == sb and sa


def test_exact_dedup_incremental(spark):
    """Continual-ingestion exact dedup: batch rows duplicating the
    standing corpus digest table OR an earlier batch row are dropped;
    survivors carry their digest for appending to the table."""
    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], ["doc_id", "text"]
    )
    digests = dedup.exact_dedup_by_hash(corpus, "text", "doc_id").select(
        "content_sha256"
    )
    batch = spark.createDataFrame(
        [
            (10, "seen before"),   # dup of corpus -> dropped
            (11, "brand new"),     # survives
            (12, "brand new"),     # in-batch dup of 11 -> dropped
            (13, "another new"),   # survives
        ],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup_incremental(batch, "text", "doc_id", digests)
    rows = {r["doc_id"] for r in out.collect()}
    assert rows == {11, 13}
    assert "content_sha256" in out.columns


def test_exact_dedup_incremental_plan_never_groups_corpus(spark):
    """Scale contract in the physical plan: the standing corpus digest
    table is probed with a LEFT ANTI join — it is never aggregated or
    windowed (per-ingest work must scale with the batch, not the
    corpus)."""
    corpus = spark.createDataFrame(
        [("ab",) * 1], ["content_sha256"]
    )
    batch = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    out = dedup.exact_dedup_incremental(batch, "text", "doc_id", corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    # the only stateful subtree is the in-batch first-seen window (one
    # Window exec node); the corpus side contributes just a scan +
    # filter feeding the anti join — no aggregation anywhere
    window_nodes = [
        ln
        for ln in plan.splitlines()
        if ln.strip(" :+-").startswith("Window [")
    ]
    assert len(window_nodes) == 1, plan
    assert "HashAggregate" not in plan, (
        f"corpus side must not be re-aggregated:\n{plan}"
    )


def test_corpus_overlap_estimate(spark, docs):
    """HLL inclusion-exclusion intersection must land within the sketch
    error model of the exact overlap — and be monotone sane (est between
    0 and min(|A|,|B|) + error)."""
    a = docs.filter(F.col("doc_id") < 300)
    b = docs.filter(F.col("doc_id") >= 200)
    est = dedup.corpus_overlap_estimate(a, "text", b, "text", rsd=0.01)
    row = est.collect()[0]
    exact = (
        a.select("text").distinct()
        .join(b.select("text").distinct(), "text", "semi")
        .count()
    )
    bound = 0.04 * (row["n_a_est"] + row["n_b_est"] + row["n_union_est"])
    assert abs(row["n_intersect_est"] - exact) <= bound
    assert row["n_union_est"] >= max(row["n_a_est"], row["n_b_est"])


def test_simhash_bands1_exact_signature_match(spark, docs):
    """bands=1 (width 64) is the legal exact-signature parameterization:
    the full 64-bit mask does not fit a Spark LONG literal and must be
    emitted as its two's-complement bit pattern (-1), not crash."""
    p1 = dedup.simhash_dedup_pairs(
        docs.limit(120), "text", "doc_id", max_distance=0, bands=1
    )
    p4 = dedup.simhash_dedup_pairs(
        docs.limit(120), "text", "doc_id", max_distance=0, bands=4
    )
    s1 = {(r["id_a"], r["id_b"]) for r in p1.collect()}
    s4 = {(r["id_a"], r["id_b"]) for r in p4.collect()}
    assert s1 == s4  # completeness at distance 0 is width-independent


def test_simhash_portable_matches_python_reference(spark, docs):
    """The portable md5 SimHash pipeline (banded) must equal a brute-force
    pure-Python replica of its documented contract — SQL-mirror tokenizer,
    md5_number_lower % 2^63 token hash, 63 bit-majority votes with ties
    to 0, exact hamming <= d over ALL pairs.  This pins the kernel's
    semantics independently of the DuckDB oracle (which recomputes the
    same thing in SQL), and re-proves pigeonhole completeness on the
    portable path."""
    import hashlib
    import re

    rows = docs.limit(80).select("doc_id", "text").collect()
    # edge docs the tokenizer contract calls out: edge tabs/newlines,
    # repeated separators, near-identical texts for a non-trivial pair
    rows += [
        (90001, "alpha beta\tgamma\n"),
        (90002, "\nalpha beta gamma"),
        (90003, "alpha  beta gamma"),
    ]
    df = spark.createDataFrame(
        [(int(i), t) for i, t in rows], ["doc_id", "text"]
    ).filter(F.trim(F.col("text")) != "")

    _split = re.compile(r"[\t\n\f\r ]+").split

    def sig_of(t):
        toks = _split(t.lower().strip(" ")) if t else []
        if toks == [""]:
            toks = []
        votes = [0] * 63
        for w in toks:
            h = int.from_bytes(
                hashlib.md5(w.encode("utf-8")).digest()[8:], "little"
            ) % (1 << 63)
            for i in range(63):
                votes[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(63) if votes[i] > 0)

    sigs = {
        int(i): sig_of(t)
        for i, t in rows
        if t is not None and t.strip(" ") != ""
    }
    ids = sorted(sigs)
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_dedup_pairs_portable(
            df, "text", "doc_id", max_distance=3
        ).collect()
    }
    assert got == want
    assert any(h == 0 for _, _, h in got), (
        "fixture should include at least one identical-signature pair"
    )


def test_shingle_kernel_mirrors_oracle_tokenizer(spark):
    """The shingle kernel must tokenize byte-for-byte like the DuckDB
    oracle's string_split_regex(trim(lower(text)), '\\s+') — including
    the classes where Python str.split() diverges: edge tabs/newlines
    (SQL trim strips spaces only, keeping empty edge tokens), \\x0b
    (NOT an RE2 \\s char: stays inside a token), and repeated
    separators.  The grams feeding the cluster/recall oracles come from
    exactly this tokenization."""
    import zlib

    import duckdb
    import pandas as pd

    texts = [
        "plain three token doc",
        "\tleading tab one two three",      # leading empty token kept
        "trailing newline one two three\n",  # trailing empty token kept
        "a\x0bb c d e f",                   # \x0b inside a token
        "  spaces  only   doc here ",       # space-trim strips these
        "Mixed CASE Tokens Here Too",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})

    con = duckdb.connect()
    con.register("documents", pdf)
    want = {}
    for doc_id, grams in con.execute("""
        SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                      FOR i IN range(1, len(toks) - 1)])
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    """).fetchall():
        want[doc_id] = sorted(zlib.crc32(g.encode("utf-8")) for g in grams)

    got = {
        r["_id"]: sorted(r["_h"])
        for r in dedup.shingle_hashes(
            spark.createDataFrame(pdf), "text", "doc_id", 3
        ).collect()
        if r["_h"]
    }
    assert got == want


def test_incremental_minhash_mega_bucket_cap(spark):
    """The shared _cap_buckets guard must also protect the incremental
    path: a boilerplate mega-bucket arriving as the NEW batch must not
    expand quadratically against the corpus, while distinct near-dup
    pairs still surface."""
    boiler = [(i, "the same boilerplate text repeated for every doc here")
              for i in range(1, 2001)]
    real = [
        (5001, "a unique document about alpha beta gamma delta epsilon"),
        (5002, "a unique document about alpha beta gamma delta zeta"),
    ]
    df = spark.createDataFrame(boiler + real, ["doc_id", "text"])
    pairs = dedup.minhash_dedup_incremental(
        df.filter(F.col("doc_id") % 2 == 1),   # new batch
        df.filter(F.col("doc_id") % 2 == 0),   # standing corpus
        "text",
        "doc_id",
        threshold=0.5,
        max_bucket_size=100,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (5001, 5002) in got
    assert all(a > 5000 and b > 5000 for a, b in got), (
        "capped boilerplate bucket must not produce pairs"
    )


def test_edit_distance_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumped"),   # dist 2 from doc 1
            (3, "a completely different text"),
            (4, "the quick brown fox jumps"),    # exact dup of doc 1
        ],
        ["doc_id", "text"],
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in dedup.edit_distance_pairs(
            df, cands, "doc_id", "text", rel_threshold=0.3
        ).collect()
    }
    # (1,2) within 30% of 26 chars; (1,4) identical; (1,3) too far
    assert got == {(1, 2): 2, (1, 4): 0}
    # a near pair NOT in the candidate set is never verified
    strict = dedup.edit_distance_pairs(
        df, cands.filter("id_b <> 4"), "doc_id", "text", 0.3
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in strict} == {(1, 2)}


def test_containment_catches_embedded_document(spark):
    """A short doc fully embedded in a long one: Jaccard is low (the
    union is dominated by the long doc) but containment is 1.0."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    long_doc = filler + " " + short + " " + filler.replace("w", "v")
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "totally unrelated text here")],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, "text", "doc_id", 3, 0.9).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert not any(3 in p for p in got)
    # the same pair is invisible to symmetric Jaccard at any real
    # threshold: shared grams are a sliver of the union
    from subgraph_extractor_spark.operators.dedup import word_shingles
    a = set(df.filter("doc_id=1").select(
        word_shingles(F.col("text"), 3).alias("g")).head()["g"])
    b = set(df.filter("doc_id=2").select(
        word_shingles(F.col("text"), 3).alias("g")).head()["g"])
    assert len(a & b) / len(a | b) < 0.05


def test_simhash_pairs_incremental_equals_restricted_full(spark):
    """Continuation contract for the signature-level incremental face:
    incremental(batch, corpus) == full(corpus ∪ batch) restricted to
    pairs touching the batch — including cross-side near-dups, planted
    batch×batch twins, and NO corpus×corpus leakage; re-ingested ids
    drop their self-pair."""
    import random

    rnd = random.Random(77)

    def flip(sig, k):
        for b in rnd.sample(range(64), k):
            sig ^= 1 << b
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    def mk(sig):
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    corpus = [(i, mk(rnd.getrandbits(64))) for i in range(100, 140)]
    # corpus-internal twin (must NOT appear incrementally)
    corpus.append((141, flip(corpus[0][1] & ((1 << 64) - 1), 2)))
    batch = [(i, mk(rnd.getrandbits(64))) for i in range(200, 210)]
    # batch twin of a corpus sig and a batch-internal twin
    batch.append((211, flip(corpus[5][1] & ((1 << 64) - 1), 3)))
    batch.append((212, flip(batch[0][1] & ((1 << 64) - 1), 1)))
    # re-ingested identical id+sig: self-pair must drop
    batch.append(corpus[7])

    schema = "_id long, _sim long"
    c_df = spark.createDataFrame(corpus, schema)
    b_df = spark.createDataFrame(batch, schema)
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs_from_sigs(
            c_df.unionByName(b_df).distinct(), max_distance=3
        ).collect()
    }
    batch_ids = {i for i, _ in batch}
    expected = {
        p for p in full if p[0] in batch_ids or p[1] in batch_ids
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs_incremental(b_df, c_df).collect()
    }
    assert got == expected
    # sanity: the planted pairs behaved as designed
    assert any(a == 105 and b == 211 for a, b, _ in got)
    assert any(a == 200 and b == 212 for a, b, _ in got)
    assert not any(a == 100 and b == 141 for a, b, _ in got)


# ------------------------------------------------------- CDC chunking

def _ref_cdc_chunks(text, divisor=8):
    import hashlib

    toks = text.strip().lower().split() if text and text.strip() else []
    chunks, cur = [], []
    for t in toks:
        cur.append(t)
        h = int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
        if h % divisor == 0:
            chunks.append(" ".join(cur))
            cur = []
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def test_cdc_chunks_match_reference(spark):
    import random

    rng = random.Random(21)
    words = [f"w{j}" for j in range(40)]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 60))))
        for i in range(30)
    ] + [(30, ""), (31, "   "), (32, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["c"])
        for r in df.select(
            "doc_id",
            dedup.cdc_token_chunks(F.col("text"), 8).alias("c"),
        ).collect()
        if r["c"] is not None
    }
    for i, t in docs:
        if t is None:
            assert i not in got
        else:
            assert got[i] == _ref_cdc_chunks(t, 8), (i, t)


def test_cdc_chunks_are_shift_robust(spark):
    """THE property that distinguishes CDC from the fixed token grid:
    prepending one token must leave every boundary after the first
    chunk intact, while fixed-size chunks all shift."""
    import random

    rng = random.Random(5)
    base = " ".join(
        rng.choice([f"w{j}" for j in range(50)]) for _ in range(300)
    )
    shifted = "zzz " + base
    a = set(_ref_cdc_chunks(base))          # python ref == spark (above)
    b = set(_ref_cdc_chunks(shifted))
    cdc_shared = len(a & b) / len(a)
    fixed_a = {
        " ".join(base.split()[i : i + 4])
        for i in range(0, len(base.split()), 4)
    }
    fixed_b = {
        " ".join(shifted.split()[i : i + 4])
        for i in range(0, len(shifted.split()), 4)
    }
    fixed_shared = len(fixed_a & fixed_b) / len(fixed_a)
    assert cdc_shared > 0.9, cdc_shared
    assert fixed_shared < 0.2, fixed_shared


def test_cdc_chunk_dedup_keeps_first_occurrence(spark):
    docs = [
        (1, "aa bb cc dd ee ff gg hh"),
        (2, "aa bb cc dd ee ff gg hh"),   # exact dup of 1
        (3, "xx yy aa bb cc dd ee ff gg hh"),  # shifted superset
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = dedup.cdc_chunk_dedup(df, "doc_id", "text", divisor=4)
    rows = kept.collect()
    # every chunk_sha appears exactly once, owned by its smallest doc
    by_sha = {}
    for r in rows:
        assert r["chunk_sha"] not in by_sha
        by_sha[r["chunk_sha"]] = r["doc_id"]
    # doc 2 contributes nothing (doc 1 owns all its chunks)
    assert 2 not in set(by_sha.values())
    # shared tail chunks of doc 3 are owned by doc 1
    ref1 = set(_ref_cdc_chunks(docs[0][1], 4))
    ref3 = set(_ref_cdc_chunks(docs[2][1], 4))
    for c in ref1 & ref3:
        import hashlib
        sha = hashlib.sha256(c.encode()).hexdigest()
        assert by_sha.get(sha) == 1


def test_cdc_incremental_equals_full_restricted(spark):
    """Incremental==full equivalence (the repo's incremental-face
    contract): chunks retained for the batch by the incremental probe
    == chunks the FULL corpus+batch run attributes to batch docs,
    when the standing table holds exactly the corpus run's chunks."""
    import random

    rng = random.Random(77)
    words = [f"w{j}" for j in range(30)]
    mk = lambda n: " ".join(rng.choice(words) for _ in range(n))
    corpus_docs = [(i, mk(rng.randint(5, 40))) for i in range(20)]
    batch_docs = (
        [(100 + i, mk(rng.randint(5, 40))) for i in range(8)]
        + [(200, corpus_docs[3][1])]          # exact re-crawl
        + [(201, "zzz " + corpus_docs[5][1])]  # shifted re-crawl
    )
    cdf = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    bdf = spark.createDataFrame(batch_docs, "doc_id long, text string")

    standing = dedup.cdc_chunk_dedup(cdf, "doc_id", "text", divisor=4)
    inc = {
        (r["doc_id"], r["chunk_pos"], r["chunk_sha"])
        for r in dedup.cdc_chunk_dedup_incremental(
            bdf, "doc_id", "text", standing, divisor=4
        ).collect()
    }
    full = {
        (r["doc_id"], r["chunk_pos"], r["chunk_sha"])
        for r in dedup.cdc_chunk_dedup(
            cdf.union(bdf), "doc_id", "text", divisor=4
        ).collect()
        if r["doc_id"] >= 100
    }
    assert inc == full
    # the shifted re-crawl contributes at most its first chunk(s) —
    # the shift-robustness payoff at the dedup level
    doc201 = [t for t in inc if t[0] == 201]
    n201 = len(_ref_cdc_chunks(batch_docs[-1][1], 4))
    assert len(doc201) < n201, (len(doc201), n201)

    # the standing table bucketed by chunk_sha: same survivors, and the
    # probe reads the corpus straight out of its buckets — exactly ONE
    # exchange (the batch side), the corpus scan ``Bucketed: true``.
    # Forced sort-merge so broadcast can't hide the shape; shuffle
    # partitions pinned to the bucket count (a prior in-process
    # get_spark() can re-apply another value to the shared session).
    from subgraph_extractor_spark.operators.bucketing import write_bucketed

    table = "cdc_chunks_bucketed_test"
    pins = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in pins}
    try:
        write_bucketed(standing, table, "chunk_sha", 8)
        for k, v in pins.items():
            spark.conf.set(k, v)
        probe = dedup.cdc_chunk_dedup_incremental(
            bdf, "doc_id", "text", spark.table(table), divisor=4
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert len(exchanges) == 1 and "chunk_sha" in exchanges[0], plan
        assert "Bucketed: true" in plan, plan
        assert {
            (r["doc_id"], r["chunk_pos"], r["chunk_sha"])
            for r in probe.collect()
        } == inc
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_cdc_doc_novelty_reference_and_payoff(spark):
    """cdc_doc_novelty: counts match the python chunk reference; an
    unchanged re-crawl scores 0 novel chunks; a one-token prepend
    (the date-line re-crawl) perturbs only the chunk it lands in —
    novelty stays far below the chunk count; disjoint content scores
    all-novel."""
    import random
    rng = random.Random(61)
    words = [f"n{j}" for j in range(22)]
    base = " ".join(rng.choice(words) for _ in range(60))
    # disjoint vocabulary: no chunk can coincide with the corpus
    fresh = " ".join(f"z{rng.randint(0, 30)}" for _ in range(40))
    corpus_docs = [(0, base)]
    batch_docs = [
        (101, base),                # unchanged re-crawl
        (103, "datestamp " + base), # shifted re-crawl
        (105, fresh),               # new content
        (107, ""),                  # empty: no row
    ]
    cdf = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    bdf = spark.createDataFrame(batch_docs, "doc_id long, text string")
    corpus = dedup.cdc_chunk_dedup(cdf, "doc_id", "text", divisor=4)
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_novel"])
        for r in dedup.cdc_doc_novelty(
            bdf, "doc_id", "text", corpus, divisor=4
        ).collect()
    }
    corpus_shas = {c for c in _ref_cdc_chunks(base, 4)}
    for did, text in batch_docs[:3]:
        chunks = _ref_cdc_chunks(text, 4)
        want = (len(chunks), sum(1 for c in chunks if c not in corpus_shas))
        assert out[did] == want, (did, out[did], want)
    assert 107 not in out                      # empty doc: no row
    assert out[101] == (out[101][0], 0)        # unchanged: zero novel
    n, nov = out[103]
    assert 0 < nov < n / 2                     # prepend: bounded damage
    assert out[105][1] == out[105][0]          # fresh: all novel


def test_chunk_dedup_first_occurrence_is_rank_limit_capped(spark):
    """Skew guard at a hot boilerplate chunk: both chunk-dedup faces'
    first-occurrence windows (rn=1 per chunk_sha) must get the
    SPARK-37099 Partial WindowGroupLimit BELOW the exchange, so a
    chunk repeated millions of times corpus-wide shuffles at most ONE
    row per map partition — never the full duplicate set into a
    single reducer's sort.  Same pin discipline as the ADC top-k
    (tests/test_pq.py)."""
    df = spark.createDataFrame(
        [(i, "same boiler plate text every time") for i in range(6)]
        + [(100, "something else entirely here")],
        "doc_id long, text string",
    )
    for fn in (dedup.cdc_chunk_dedup, dedup.chunk_dedup):
        plan = fn(df, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        lines = plan.splitlines()
        part = [i for i, l in enumerate(lines)
                if "WindowGroupLimit" in l and "Partial" in l]
        exch = [i for i, l in enumerate(lines)
                if "Exchange hashpartitioning(chunk_sha" in l]
        assert part and exch, (fn.__name__, plan)
        assert min(part) > min(exch), (fn.__name__, plan)


# --------------------------------------------------------------------------
# prefix-filtered EXACT Jaccard join (AllPairs/PPJoin)
# --------------------------------------------------------------------------

def _brute_jaccard_pairs(spark, df, threshold, shingle_n=3):
    from subgraph_extractor_spark.operators.dedup import (
        jaccard,
        word_shingles,
    )

    sh = df.select(
        F.col("doc_id").alias("_id"),
        word_shingles(F.col("text"), shingle_n).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            jaccard(F.col("a._sh"), F.col("b._sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def test_prefix_filter_complete_and_exact_random(spark):
    """Completeness certificate: the prefix-filtered output equals the
    brute-force all-pairs threshold join EXACTLY (pairs AND values) on
    a corpus engineered to contain near-dups at several overlap
    levels."""
    import random as _random

    from subgraph_extractor_spark.operators.dedup import prefix_filter_pairs

    rnd = _random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    base = [" ".join(rnd.choices(vocab, k=30)) for _ in range(12)]
    rows = []
    did = 0
    for t in base:
        rows.append((did, t)); did += 1
        toks = t.split()
        # an edited near-dup: drop a token, prepend one
        rows.append((did, " ".join(["w0"] + toks[:-2]))); did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.6, 0.3):
        got = sorted(map(tuple, prefix_filter_pairs(
            df, "doc_id", "text", thr).collect()))
        exp = sorted(map(tuple, _brute_jaccard_pairs(
            spark, df, thr).collect()))
        assert got == exp and exp, (thr, len(got), len(exp))


def test_prefix_filter_high_threshold_prunes_candidates(spark):
    """At t=0.9 each doc indexes only ~10% of its grams + 1 — the
    pruning the family exists for; identical twins still surface."""
    from subgraph_extractor_spark.operators.dedup import prefix_filter_pairs

    rows = [
        (1, "a b c d e f g h i j k l"),
        (2, "a b c d e f g h i j k l"),   # identical
        (3, "z y x w v u t s r q p o"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["id_a"], r["id_b"], r["jaccard"])
           for r in prefix_filter_pairs(df, "doc_id", "text", 0.9).collect()]
    assert got == [(1, 2, 1.0)]


def test_prefix_filter_threshold_validation(spark):
    from subgraph_extractor_spark.operators.dedup import prefix_filter_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            prefix_filter_pairs(df, "doc_id", "text", bad)


def test_prefix_filter_plan_is_equi_join_only(spark):
    """The point of the family: candidate generation is an ordinary
    equi-join — no cartesian/BNLJ anywhere in the plan (no
    plan-invariant whitelist entry needed)."""
    from subgraph_extractor_spark.operators.dedup import prefix_filter_pairs

    df = spark.createDataFrame(
        [(i, "a b c d e") for i in range(4)], "doc_id long, text string"
    )
    plan = prefix_filter_pairs(df, "doc_id", "text", 0.5)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_filter_incremental_equals_full_restricted(spark):
    """incremental(batch, corpus) == full-run over (corpus ∪ batch)
    restricted to pairs touching the batch — exact pairs AND values
    (both faces are complete, so their outputs are the same ground
    truth), on a corpus engineered with cross- and within-batch
    near-dups."""
    import random as _random

    from subgraph_extractor_spark.operators.dedup import (
        prefix_filter_pairs,
        prefix_filter_pairs_incremental,
    )

    rnd = _random.Random(23)
    vocab = [f"w{i}" for i in range(30)]
    corpus_rows, batch_rows = [], []
    did = 0
    for _ in range(10):
        t = " ".join(rnd.choices(vocab, k=25))
        corpus_rows.append((did, t)); did += 1
        # batch twin of a corpus doc (cross near-dup)
        batch_rows.append((did, " ".join(["w0"] + t.split()[:-2]))); did += 1
    # a within-batch twin pair
    t = " ".join(rnd.choices(vocab, k=25))
    batch_rows.append((did, t)); did += 1
    batch_rows.append((did, " ".join(t.split()[1:]))); did += 1

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    thr = 0.3
    inc = sorted(map(tuple, prefix_filter_pairs_incremental(
        batch, corpus, "doc_id", "text", thr).collect()))
    batch_ids = {i for i, _ in batch_rows}
    full = prefix_filter_pairs(
        corpus.unionByName(batch), "doc_id", "text", thr)
    restricted = sorted(
        tuple(r) for r in full.collect()
        if r["id_a"] in batch_ids or r["id_b"] in batch_ids
    )
    assert inc == restricted and inc
    # corpus x corpus pairs exist in the full run but not incremental
    assert len(full.collect()) >= len(inc)


def test_prefix_filter_incremental_no_corpus_corpus_pairs(spark):
    """Two corpus twins never pair in the incremental face (the
    batch-drives-the-join asymmetry)."""
    from subgraph_extractor_spark.operators.dedup import (
        prefix_filter_pairs_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(3, "x y z q r s")], "doc_id long, text string"
    )
    got = prefix_filter_pairs_incremental(
        batch, corpus, "doc_id", "text", 0.5
    ).collect()
    assert got == []


def test_prefix_pigeonhole_lemma_property():
    """The mathematical guarantee prefix_filter_pairs rides on, checked
    directly (pure python, hypothesis): under ANY total order, two
    sets with J >= t intersect within both their first
    |X| - ceil(t*|X|) + 1 elements.  This is the lemma; the Spark
    tests above check the implementation against brute force."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def case(draw):
        universe = list(range(draw(st.integers(8, 40))))
        perm = draw(st.permutations(universe))  # the total order
        a = draw(st.sets(st.sampled_from(universe), min_size=1))
        b = draw(st.sets(st.sampled_from(universe), min_size=1))
        t = draw(st.floats(0.05, 1.0, allow_nan=False))
        return perm, a, b, t

    @given(case())
    @settings(max_examples=500, deadline=None)
    def check(c):
        perm, a, b, t = c
        inter = len(a & b)
        union = len(a | b)
        if union == 0 or inter / union < t:
            return
        pos = {tok: i for i, tok in enumerate(perm)}
        pre = lambda s: set(
            sorted(s, key=pos.get)[: len(s) - math.ceil(t * len(s)) + 1]
        )
        assert pre(a) & pre(b), (sorted(a), sorted(b), t)

    check()


def test_jaccard_union_free_bit_equals_jaccard(spark):
    # r12: the minhash verify stages replace the per-pair array_union
    # pass with |A∪B| = sa + sb - |A∩B| over hoisted per-doc DISTINCT
    # sizes.  Set-algebra identity — must be bit-equal to jaccard()
    # for ANY arrays, including ones with intra-array duplicates
    # (crc32 can collide within a doc) and empty-vs-empty (0.0, not
    # NULL or 1.0).
    import struct

    rows = [
        (1, [1, 2, 3], [2, 3, 4]),          # plain overlap
        (2, [1, 1, 2], [2, 3]),             # duplicate inside A
        (3, [5, 5, 5], [5, 5]),             # both all-duplicates, J=1
        (4, [1, 2], [3, 4]),                # disjoint, J=0
        (5, [], []),                        # empty vs empty -> 0.0
        (6, [], [1, 2]),                    # empty vs non-empty -> 0.0
        (7, [7, 8, 9, 7], [9, 7, 10, 10]),  # dups both sides
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<long>, b array<long>"
    )
    sa = F.size(F.array_distinct("a"))
    sb = F.size(F.array_distinct("b"))
    got = df.select(
        "id",
        dedup.jaccard(F.col("a"), F.col("b")).alias("old"),
        dedup.jaccard_union_free(
            F.col("a"), F.col("b"), sa, sb
        ).alias("new"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert struct.pack("<d", r["old"]) == struct.pack(
            "<d", r["new"]
        ), (r["id"], r["old"], r["new"])
    vals = {r["id"]: r["new"] for r in got}
    assert vals[3] == 1.0 and vals[4] == 0.0 and vals[5] == 0.0
