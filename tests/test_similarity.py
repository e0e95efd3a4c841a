"""Similarity search: brute-force correctness vs numpy, ANN recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators import similarity
from subgraph_extractor_spark.sources import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    np.fill_diagonal(sims, -np.inf)

    k = 5
    got = similarity.brute_force_topk(emb, emb, "embedding", "vec_id", k=k)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qi, qid in enumerate(ids):
        # numpy ground truth with the same (sim desc, id asc) tie-break
        order = sorted(
            [(float(-sims[qi, j]), int(ids[j])) for j in range(len(ids)) if j != qi]
        )[:k]
        expected = [nid for _, nid in order]
        mine = [nid for _, nid in sorted(got_map[qid])]
        assert mine == expected, f"query {qid}: {mine} != {expected}"


def test_topk_matmul_equals_bruteforce(spark, emb):
    k = 5
    a = similarity.brute_force_topk(emb, emb, "embedding", "vec_id", k=k)
    b = similarity.topk_matmul(emb, emb, "embedding", "vec_id", k=k)
    ra = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in a.collect()}
    rb = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in b.collect()}
    assert ra == rb


def test_ann_recall(spark, emb):
    k = 5
    exact = similarity.brute_force_topk(emb, emb, "embedding", "vec_id", k=k)
    approx = similarity.ann_topk_lsh(emb, "embedding", "vec_id", k=k)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 16-bit sign LSH, 4 bands on clustered data: near neighbors almost
    # always share a band; require solid but not perfect recall
    assert recall >= 0.7, f"ANN recall too low: {recall}"


def test_ivf_recall(spark, emb):
    k = 5
    exact = similarity.brute_force_topk(emb, emb, "embedding", "vec_id", k=k)
    ivf = similarity.ivf_topk(emb, "embedding", "vec_id", k=k, n_cells=16, n_probe=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    # clustered fixture: probing 4/16 cells should capture most true
    # neighbors (they live in the query's own cluster)
    assert recall >= 0.8, f"IVF recall too low: {recall}"


def test_no_driver_corpus_collect(spark, emb, monkeypatch):
    """The scale contract of VERDICT r01 item 2: no similarity/ANN path
    may materialize corpus rows on the driver.  DataFrame.collect is
    poisoned for the whole build+execute cycle; results come back via
    Arrow (toPandas) from fully distributed plans."""
    from pyspark.sql import DataFrame as _DF
    from subgraph_extractor_spark.operators.dedup import embedding_neardup_pairs

    def _boom(self, *a, **k):
        raise AssertionError("driver-side collect() in similarity operator")

    monkeypatch.setattr(_DF, "collect", _boom)
    assert len(similarity.topk_matmul(emb, emb, "embedding", "vec_id", k=3).toPandas())
    assert len(similarity.ann_topk_lsh(emb, "embedding", "vec_id", k=3).toPandas())
    assert len(similarity.ivf_topk(emb, "embedding", "vec_id", k=3).toPandas())
    assert len(
        embedding_neardup_pairs(emb, "embedding", "vec_id", threshold=0.4).toPandas()
    )


def test_embedding_neardup_pairs(spark, emb):
    from subgraph_extractor_spark.operators.dedup import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(emb, "embedding", "vec_id", threshold=0.4)
    rows = pairs.collect()
    assert rows, "fixture has pairs above cosine 0.4"
    for r in rows:
        assert r["cosine"] >= 0.4
        assert r["id_a"] < r["id_b"]


def test_quantize_embeddings_error_bound_and_roundtrip(spark):
    """int8 quantization invariants: every |q| <= 127, dequantization
    error <= scale/254 + float slack per element (the round-half-up
    guarantee), zero vectors quantize to all-zero with scale 0."""
    import numpy as np

    from subgraph_extractor_spark.operators.similarity import (
        quantize_embeddings,
    )

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    vecs.append((100, [0.0] * 16))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(df, "embedding", "vec_id").collect()
    }
    assert out[100] == (0.0, [0] * 16)
    originals = dict(vecs)
    for vid, (scale, q) in out.items():
        if vid == 100:
            continue
        assert scale > 0 and max(abs(v) for v in q) <= 127
        x = np.array(originals[vid])
        deq = np.array(q) * scale / 127.0
        assert np.max(np.abs(x - deq)) <= scale / 254.0 + 1e-9


def test_quantized_search_recall(spark, emb):
    """Searching the int8-quantized corpus (the PRODUCTION
    quantize -> dequantize pair) must recover >=0.90 of the exact float
    top-5 (measured ~0.99 at both fixture scales — the contract bound
    leaves a wide margin, per the r3 lesson that near-boundary
    contracts are unsafe driver checks)."""
    deq = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(emb, "embedding", "vec_id")
    )
    ann = similarity.topk_matmul(deq, deq, "embedding", "vec_id", k=5)
    exact_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(
            emb, emb, "embedding", "vec_id", k=5
        ).collect()
    }
    ann_pairs = {
        (r["query_id"], r["neighbor_id"]) for r in ann.collect()
    }
    assert len(ann_pairs & exact_pairs) >= 0.90 * len(exact_pairs)


def test_projection_matrix_deterministic_and_centered():
    from subgraph_extractor_spark.operators.similarity import (
        projection_matrix,
    )

    a = projection_matrix(64, 16, "rp")
    b = projection_matrix(64, 16, "rp")
    assert a == b
    assert projection_matrix(64, 16, "other") != a
    flat = [x for row in a for x in row]
    assert all(-1.0 <= x <= 1.0 for x in flat)
    assert abs(sum(flat) / len(flat)) < 0.1  # ~zero mean


def test_random_projection_is_map_only(spark, sf_dir):
    from subgraph_extractor_spark.operators.similarity import (
        random_projection,
    )
    from subgraph_extractor_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "embedding", 8, 64)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert "Python" not in plan, plan[:1500]  # no UDF: literal weights
    rows = proj.select("_proj").head(3)
    assert all(len(r["_proj"]) == 8 for r in rows)


def test_projected_rerank_contract(spark, sf_dir):
    """Re-ranked output obeys the top-k contract (rank 1..k per query,
    neighbors unique) and its neighbors score >= the worst exact
    neighbor is NOT guaranteed — but recall at the measured params is
    (checked by the driver contract); here assert shape + determinism."""
    from subgraph_extractor_spark.operators.similarity import (
        projected_topk_rerank,
    )
    from subgraph_extractor_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = projected_topk_rerank(
        emb, "embedding", "vec_id", k=3, out_dim=16, in_dim=64, expand=4
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    n = emb.count()
    assert len(by_q) == n
    for q, lst in by_q.items():
        ranks = sorted(rk for rk, _ in lst)
        assert ranks == [1, 2, 3], (q, lst)
        neighbors = [nb for _, nb in lst]
        assert len(set(neighbors)) == 3 and q not in neighbors


def test_projected_portable_recall_and_contract(spark, sf_dir):
    """The exact-integer portable twin (projected_topk_portable) is
    full-value oracled by the driver harness; pytest asserts what the
    oracle can't — the QUALITY contract vs the float brute force: with
    the coverage-scaled expand, integer quantization (floor x 2^10)
    plus the integer projection must not cost recall vs the exact
    baseline.  Also: top-k shape, determinism across repartitioning,
    and null vectors dropping out."""
    from subgraph_extractor_spark.operators.similarity import (
        projected_topk_portable,
    )
    from subgraph_extractor_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 5
    n = emb.count()
    expand = max(30, -(-3 * n // (10 * k)))
    exact = similarity.brute_force_topk(emb, emb, "embedding", "vec_id", k=k)
    out = projected_topk_portable(
        emb, "embedding", "vec_id", k=k, out_dim=32, in_dim=64, expand=expand
    )
    rows = out.collect()
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.75, f"portable projected recall too low: {recall}"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    assert len(by_q) == n
    for q, lst in by_q.items():
        assert sorted(rk for rk, _ in lst) == list(range(1, len(lst) + 1))
        neighbors = [nb for _, nb in lst]
        assert len(set(neighbors)) == len(neighbors) and q not in neighbors
    # determinism under different physical layouts (exact integers:
    # no accumulation-order noise by construction)
    rows2 = projected_topk_portable(
        emb.repartition(7), "embedding", "vec_id", k=k, out_dim=32,
        in_dim=64, expand=expand,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # null vectors drop out instead of poisoning the kernels
    withnull = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(99999, None)], "vec_id bigint, embedding array<float>"
        )
    )
    rows3 = projected_topk_portable(
        withnull, "embedding", "vec_id", k=k, out_dim=32, in_dim=64,
        expand=expand,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows3))


def test_projected_portable_boundary_ties_resolve_by_id(spark):
    """Coarse-stage tie discipline: when pdot ties span the per-shard
    top-kk boundary (here: ALL candidates tie — identical vectors),
    the survivors must be the lowest neighbor_ids, exactly as the
    driver oracle's ROW_NUMBER OVER (pdot DESC, neighbor_id ASC)
    demands.  A bare argpartition would pick arbitrary tie members
    and diverge the replay."""
    from subgraph_extractor_spark.operators.similarity import (
        projected_topk_portable,
    )

    vec = [0.25] * 64
    emb = spark.createDataFrame(
        [(i, vec) for i in range(12)],
        "vec_id bigint, embedding array<float>",
    )
    rows = projected_topk_portable(
        emb, "embedding", "vec_id", k=3, out_dim=32, in_dim=64, expand=1
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert set(by_q) == set(range(12))
    for q, lst in by_q.items():
        expected = [i for i in range(12) if i != q][:3]
        assert [nb for _, nb in sorted(lst)] == expected, (q, sorted(lst))


def test_projected_lsh_portable_recall_and_shape(spark, sf_dir):
    """The exact-integer portable composition (projection -> sign-LSH
    bands -> int rerank) is full-value oracled by the driver; pytest
    asserts the quality contract vs float brute force and the top-k
    shape (LSH may yield < k candidates for sparse-bucket queries)."""
    from subgraph_extractor_spark.operators.similarity import (
        projected_lsh_topk_portable,
    )
    from subgraph_extractor_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 5
    rows = projected_lsh_topk_portable(
        emb, "embedding", "vec_id", k=k, out_dim=32, in_dim=64
    ).collect()
    # shape contract on the fixture.  NO recall floor here: near-random
    # fixture vectors are sign-LSH's worst case (lsh_portable_topk
    # itself measures ~0.07 vs float brute force on them) — the
    # portable faces are bit-exact ORACLE contracts of a defined
    # approximate algorithm; recall evidence rides the float face's
    # coverage-scaled ann_projected_lsh_recall contract.
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    for q, lst in by_q.items():
        assert sorted(rk for rk, _ in lst) == list(range(1, len(lst) + 1))
        neighbors = [nb for _, nb in lst]
        assert len(set(neighbors)) == len(neighbors) and q not in neighbors

    # quality contract on CLUSTERED data — the structure LSH exists to
    # exploit: 20 tight clusters of 10; a member's true top-k are its
    # cluster mates, which share projected signs with high probability
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((20, 64))
    vecs, ids = [], []
    for c in range(20):
        for j in range(10):
            vecs.append(centers[c] + 0.05 * rng.standard_normal(64))
            ids.append(c * 100 + j)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    got = projected_lsh_topk_portable(
        cdf, "embedding", "vec_id", k=k, out_dim=32, in_dim=64
    ).collect()
    # purity, not recall-at-k: a query's 9 cluster mates are near-ties,
    # so the float-cosine top-5 and the quantized-dot top-5 legitimately
    # pick DIFFERENT 5-subsets of the same mates (set overlap ~5/9 —
    # measured 0.53 at any noise level); the meaningful quality claim
    # is that returned neighbors come from the query's own cluster
    assert got
    in_cluster = sum(
        1 for r in got if r["query_id"] // 100 == r["neighbor_id"] // 100
    )
    purity = in_cluster / len(got)
    assert purity >= 0.95, f"clustered purity too low: {purity}"
    # and every query should surface a full top-k (its mates all share
    # every band at this noise level)
    per_q = {}
    for r in got:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert min(per_q.values()) == k and len(per_q) == 200


def test_projected_lsh_composition_recall_and_shape(spark, emb):
    """The sub-quadratic coarse-to-fine composition (projection ->
    sign-LSH in projected space -> full-dim re-rank): top-k contract
    shape (contiguous ranks from 1, unique neighbors, no self-pairs —
    LSH may yield fewer than k candidates for sparse-bucket queries)
    and solid recall vs brute force despite the double approximation.
    The driver contract (ann_projected_lsh_recall) holds the 0.75
    coverage-scaled floor at sf0.01/sf0.1; this fixture check uses the
    same coverage-scaled expand."""
    k = 5
    n = emb.count()
    expand = max(30, -(-3 * n // (10 * k)))
    exact = similarity.brute_force_topk(emb, emb, "embedding", "vec_id", k=k)
    approx = similarity.projected_lsh_topk(
        emb, "embedding", "vec_id", k=k, out_dim=32, in_dim=64, expand=expand
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    rows = approx.collect()
    a = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"composition recall too low: {recall}"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for q, lst in by_q.items():
        ranks = sorted(rk for rk, _ in lst)
        assert ranks == list(range(1, len(lst) + 1)), (q, lst)
        neighbors = [nb for _, nb in lst]
        assert len(set(neighbors)) == len(neighbors) and q not in neighbors


def test_maxsim_quantized_matches_python_reference(spark):
    """Integer MaxSim against a literal python reference: every query
    vector takes its best dot with the document's vectors, sums win;
    ranks tie-break on doc id; scores are exact BIGINTs."""
    q_rows = [
        (1, [[1, 0, 2], [3, -1, 0]]),
        (2, [[0, 5, 0]]),
    ]
    d_rows = [
        (10, [[1, 0, 0], [0, 1, 0]]),
        (11, [[2, 0, 4], [1, 1, 1]]),
        (12, [[-1, -1, -1]]),
    ]

    def py_maxsim(q, d):
        return sum(
            max(sum(a * b for a, b in zip(qv, dv)) for dv in d) for qv in q
        )

    schema = "id long, vecs array<array<int>>"
    qdf = spark.createDataFrame(q_rows, schema)
    ddf = spark.createDataFrame(d_rows, schema)
    out = similarity.maxsim_quantized_topk(qdf, ddf, "vecs", "id", k=3)
    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in out.collect()
    }
    expected_scores = {
        (qid, did): py_maxsim(q, d)
        for qid, q in q_rows
        for did, d in d_rows
    }
    for (qid, did), (rank, score) in got.items():
        assert score == expected_scores[(qid, did)], (qid, did)
    # rank order per query: score desc, doc asc
    for qid, q in q_rows:
        order = sorted(
            ((did, s) for (qq, did), s in expected_scores.items() if qq == qid),
            key=lambda t: (-t[1], t[0]),
        )
        got_order = [
            did
            for (qq, did), (rank, _) in sorted(
                got.items(), key=lambda kv: kv[1][0]
            )
            if qq == qid
        ]
        assert got_order == [did for did, _ in order]


def test_maxsim_shuffle_is_rank_limit_capped(spark):
    """Same SPARK-37099 plan pin as test_pq.py's flat-ADC check, for
    the MaxSim rerank window (desc order also qualifies for the
    rank-limit pushdown)."""
    import random

    from subgraph_extractor_spark.operators.similarity import (
        maxsim_quantized_topk,
    )

    rng = random.Random(9)
    mk = lambda n: [
        (i, [[rng.randint(-5, 5) for _ in range(4)] for _ in range(3)])
        for i in range(n)
    ]
    df = spark.createDataFrame(
        mk(20), "id long, vecs array<array<int>>"
    )
    out = maxsim_quantized_topk(df.limit(3), df, "vecs", "id", k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    part = [i for i, l in enumerate(lines)
            if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(query_id" in l]
    assert part and exch, plan
    assert min(part) > min(exch), plan


# --------------------------------------------------------------------------
# binary (1-bit) quantization + Hamming search
# --------------------------------------------------------------------------

def _py_pack(vec, dim=64, word_bits=32):
    words = []
    for w in range((dim + word_bits - 1) // word_bits):
        acc = 0
        for x in vec[w * word_bits:(w + 1) * word_bits]:
            acc = acc * 2 + (1 if x >= 0 else 0)
        words.append(acc)
    return words


def test_binary_sign_pack_matches_python(spark, emb):
    rows = emb.orderBy("vec_id").limit(20).collect()
    got = {
        r["vec_id"]: r["bvec"]
        for r in similarity.binary_sign_pack(
            emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", 64
        ).collect()
    }
    for r in rows:
        assert got[r["vec_id"]] == _py_pack(r["embedding"]), r["vec_id"]


def test_binary_sign_pack_word_bits_validation(spark, emb):
    with pytest.raises(ValueError):
        similarity.binary_sign_pack(emb, "embedding", "vec_id", 64, word_bits=63)


def test_hamming_topk_matches_numpy(spark, emb):
    """Packed XOR/popcount distance == unpacked sign-disagreement count,
    with the (dist asc, id asc) tie-break."""
    rows = emb.filter(F.col("vec_id") < 120).collect()
    ids = [r["vec_id"] for r in rows]
    signs = {r["vec_id"]: [1 if x >= 0 else 0 for x in r["embedding"]] for r in rows}
    sub = emb.filter(F.col("vec_id") < 120)
    got = similarity.hamming_topk(
        sub.filter(F.col("vec_id") < 5), sub, "embedding", "vec_id", 64, k=4
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in range(5):
        exp = sorted(
            (sum(a != b for a, b in zip(signs[qid], signs[nid])), nid)
            for nid in ids if nid != qid
        )[:4]
        mine = [(r["dist"], r["neighbor_id"])
                for r in sorted(by_q[qid], key=lambda r: r["rank"])]
        assert mine == exp, (qid, mine, exp)


def test_hamming_rerank_recall_contract(spark, emb):
    """QUALITY of the 1-bit coarse pass: re-ranked top-k must recover
    most of the exact int8 full-search top-k (the reproducibility of
    the output itself is exact — this contract is about how much the
    sign bits remember)."""
    k = 5
    queries = emb.filter(F.col("vec_id") < 30)
    exact = similarity.quantized_dot_topk(
        queries, emb, "embedding", "vec_id", k=k
    ).collect()
    approx = similarity.hamming_topk_rerank(
        queries, emb, "embedding", "vec_id", 64, k=k, expand=6
    ).collect()
    truth, got = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.5, recall


def test_hamming_topk_shuffle_is_rank_limit_capped(spark, emb):
    """SPARK-37099 plan pin: the per-query top-k filters below the
    exchange (at most k rows per (query, map-partition) shuffle)."""
    out = similarity.hamming_topk(
        emb.limit(3), emb, "embedding", "vec_id", 64, k=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    part = [i for i, l in enumerate(lines)
            if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(query_id" in l]
    assert part and exch, plan
    assert min(part) > min(exch), plan


def test_binary_sig64_banded_pairs_complete(spark, emb):
    """The sign-bit 64-bit signature plugs embeddings into the SimHash
    banded machinery: banded pairs at max_distance d == brute-force
    sign-hamming pairs at <= d (pigeonhole completeness inherited from
    simhash_pairs_from_sigs).  Near-dups are synthesized: each base
    vector gets a twin with exactly 3 dims sign-flipped, so ground
    truth contains every (base, twin) pair by construction."""
    from subgraph_extractor_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )

    base = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    twin = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 3, -x - F.lit(0.001)).otherwise(x),
        ).alias("embedding"),
    )
    sub = base.unionByName(twin)
    sigs = similarity.binary_sign_sig64(sub, "embedding", "vec_id", 64)
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_sigs(
            sigs, max_distance=4, bands=8
        ).collect()
    )
    rows = sub.collect()
    signs = {r["vec_id"]: [1 if x >= 0 else 0 for x in r["embedding"]]
             for r in rows}
    ids = sorted(signs)
    exp = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = sum(x != y for x, y in zip(signs[a], signs[b]))
            if d <= 4:
                exp.append((a, b, d))
    assert got == sorted(exp)
    assert len(exp) >= 50  # every synthesized twin pair is in truth


def test_binary_sig64_matches_packed_distance(spark, emb):
    """hamming64 over the single signature == the packed-word distance
    (same bits, different container)."""
    from subgraph_extractor_spark.operators.dedup import hamming64

    sub = emb.filter(F.col("vec_id") < 40)
    sigs = similarity.binary_sign_sig64(sub, "embedding", "vec_id", 64)
    a, b = sigs.alias("a"), sigs.alias("b")
    via64 = {
        (r["ia"], r["ib"]): r["d"]
        for r in a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("ia"), F.col("b._id").alias("ib"),
            hamming64(F.col("a._sim"), F.col("b._sim")).alias("d"),
        ).collect()
    }
    top = similarity.hamming_topk(sub, sub, "embedding", "vec_id", 64, k=39)
    for r in top.collect():
        key = (min(r["query_id"], r["neighbor_id"]),
               max(r["query_id"], r["neighbor_id"]))
        assert via64[key] == r["dist"], (key, via64[key], r["dist"])


def test_binary_sig64_dim_validation(spark, emb):
    with pytest.raises(ValueError):
        similarity.binary_sign_sig64(emb, "embedding", "vec_id", 65)


def test_lsh_portable_topk_matches_python_reference(spark, emb):
    """The exact-integer sign-LSH pipeline (quantize -> integer plane
    signs -> banded candidates -> int64-dot top-k) against a pure-
    python/numpy replay of the SAME integer algebra — the engine-
    portability property the DuckDB oracle relies on, certified
    in-process."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = np.floor(V * 1024.0).astype(np.int64)
    planes = np.array(
        similarity.int_lsh_planes(64, 32, seed=29), dtype=np.int64
    )
    signs = (q @ planes.T >= 0).astype(np.int64)  # (n, 32)
    weights = 1 << np.arange(8)
    bands = signs.reshape(len(q), 4, 8) @ weights  # (n, 4)
    buckets = {}
    for i in range(len(q)):
        for b in range(4):
            buckets.setdefault((b, bands[i, b]), []).append(i)
    cands = {}
    for members in buckets.values():
        for i in members:
            for j in members:
                if i != j:
                    cands.setdefault(i, set()).add(j)
    k = 5
    exp = set()
    for i, cs in cands.items():
        scored = sorted(
            ((int(q[i] @ q[j]), int(ids[j])) for j in cs),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for rank, (dot, nid) in enumerate(scored, 1):
            exp.add((int(ids[i]), nid, dot, rank))

    got = {
        tuple(r)
        for r in similarity.lsh_portable_topk(
            emb, "embedding", "vec_id", k=k
        ).collect()
    }
    assert got == exp


def test_quantize_int_vec_floor_is_portable(spark):
    """floor(v * 2^s) must be exact for float32 inputs (power-of-two
    scaling is exponent arithmetic) including negative values — the
    half-way cases where round() would diverge across engines."""
    vals = [0.5, -0.5, 0.0009765625, -0.0009765625, 1.25, -1.25, 0.0]
    df = spark.createDataFrame(
        [(1, [float(v) for v in vals])], "id long, v array<float>"
    )
    got = df.select(
        similarity.quantize_int_vec(F.col("v"), 10).alias("q")
    ).first()["q"]
    import math

    assert got == [math.floor(v * 1024.0) for v in vals]


def test_filtered_banded_matches_python_reference(spark, emb):
    """filtered_banded_topk against a pure-python replay of the same
    integer algebra with the label constraint folded into the bucket
    key — the portability property its DuckDB oracle relies on."""
    import numpy as np

    rows = emb.select("vec_id", "label", "embedding").collect()
    # NULL embeddings are filtered by the operator; NULL labels drop
    # out of its equi-join (SQL NULL = NULL is false) — mirror both,
    # or a fixture regeneration with NULL labels would fail this test
    # against a wrong expected set
    rows = [
        r for r in rows
        if r["embedding"] is not None and r["label"] is not None
    ]
    ids = np.array([r["vec_id"] for r in rows])
    labs = np.array([r["label"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = np.floor(V * 1024.0).astype(np.int64)
    planes = np.array(
        similarity.int_lsh_planes(64, 32, seed=29), dtype=np.int64
    )
    signs = (q @ planes.T >= 0).astype(np.int64)
    weights = 1 << np.arange(8)
    bands = signs.reshape(len(q), 4, 8) @ weights
    buckets = {}
    for i in range(len(q)):
        for b in range(4):
            buckets.setdefault((labs[i], b, bands[i, b]), []).append(i)
    cands = {}
    for members in buckets.values():
        for i in members:
            for j in members:
                if i != j:
                    cands.setdefault(i, set()).add(j)
    k = 5
    exp = set()
    for i, cs in cands.items():
        scored = sorted(
            ((int(q[i] @ q[j]), int(ids[j])) for j in cs),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for rank, (dot, nid) in enumerate(scored, 1):
            exp.add((int(ids[i]), nid, dot, rank))

    got = {
        tuple(r)
        for r in similarity.filtered_banded_topk(
            emb, "embedding", "vec_id", ["label"], k=k
        ).collect()
    }
    assert got == exp


def test_filtered_banded_recall_planted(spark):
    """Recall contract for the filtered-search scale path, on PLANTED
    structure: the driver fixture's labels are independent of its
    embedding geometry (measured: no within-label exact-top-5 pair
    reaches cosine 0.5 at sf0.01, and even the GLOBAL top-1 cosine
    medians ~0.4), so an absolute recall floor against full exact
    top-5 is a property of that randomness, not of any index — no
    sub-quadratic method can beat candidate-fraction recall on
    near-random neighbors.  The meaningful contract is the production
    regime: strongly-similar same-label pairs (the ones filtered
    search exists to find) must be recalled.  Plant same-label
    near-duplicates at cosine ~0.98 among random noise and require
    >= 0.9 of the planted pairs in the result (expected band-collision
    probability at theta ~= 11.5 deg with 4x8-bit bands is ~0.97)."""
    import numpy as np

    rng = np.random.RandomState(7)
    n, dim, n_labels = 200, 64, 4
    rows, planted = [], []
    vid = 0
    for i in range(n):
        lab = int(i % n_labels)
        base = rng.normal(size=dim)
        rows.append((vid, lab, [float(x) for x in base]))
        a = vid
        vid += 1
        if i % 4 == 0:
            twin = base + rng.normal(scale=0.2, size=dim)
            rows.append((vid, lab, [float(x) for x in twin]))
            planted.append((a, vid))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.filtered_banded_topk(
            df, "embedding", "vec_id", ["label"], k=5
        ).collect()
    }
    hits = sum(
        ((a, b) in got) + ((b, a) in got) for a, b in planted
    )
    recall = hits / (2 * len(planted))
    assert recall >= 0.9, f"planted-pair recall {recall:.3f} < 0.9"


def test_banded_bucket_cap_mirrors_oracle(spark):
    """Degenerate-bucket guard on the portable faces: a boilerplate
    block of IDENTICAL vectors collides in every band, so its
    (label, band, val) buckets exceed the cap and are dropped on BOTH
    engines — while a planted normal near-dup pair survives.  Spark
    and the generated DuckDB SQL (max_bucket_size branch of
    _ann_lsh_portable_sql) must agree row-for-row, for the filtered
    and the unfiltered face.  Values are float32-exact so the two
    engines quantize identically."""
    import duckdb
    import numpy as np
    import pandas as pd

    from __spark_entry__ import _ann_lsh_portable_sql

    rng = np.random.RandomState(3)
    f32 = lambda v: [float(x) for x in v.astype(np.float32)]
    rows = []
    const = rng.normal(size=64)
    for vid in range(30):  # boilerplate: identical vectors, label 0
        rows.append((vid, 0, f32(const)))
    a = rng.normal(size=64)
    qa, qb = 30, 31
    rows.append((qa, 0, f32(a)))
    rows.append((qb, 0, f32(a + rng.normal(scale=0.1, size=64))))
    for vid in range(32, 37):  # a second label, random vectors
        rows.append((vid, 1, f32(rng.normal(size=64))))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "label": [r[1] for r in rows],
            "embedding": [r[2] for r in rows],
        }
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)

    for filt, kwargs in ((["label"], {"filter_col": "label"}), ([], {})):
        got = {
            tuple(r)
            for r in similarity.filtered_banded_topk(
                df, "embedding", "vec_id", filt, k=5, max_bucket_size=10
            ).collect()
        }
        want = {
            (int(q), int(n), int(d), int(rk))
            for q, n, d, rk in con.execute(
                _ann_lsh_portable_sql(max_bucket_size=10, **kwargs)
            ).fetchall()
        }
        assert got == want, f"filter={filt}"
        block = set(range(30))
        assert not any(r[0] in block or r[1] in block for r in got), (
            f"boilerplate bucket leaked pairs: filter={filt}"
        )
        assert any(r[0] == qa and r[1] == qb for r in got), (
            f"planted pair lost: filter={filt}"
        )


def test_banded_wide_config_mirrors_oracle(spark):
    """The scale sweep's SUB-LINEAR config (128 bits / 8 bands =
    16-bit rows — scripts/filtered_scale_bench.py, kept in git history,
    measured exponents 0.41/0.45 with flat planted recall) gets the
    same oracle-grade evidence as the registry's 32/4 face: Spark vs
    the generated DuckDB SQL row-for-row on a synthetic corpus with
    planted same-label near-duplicates.  Also exercises a MULTI-column
    filter (label, tenant): both columns must ride the candidate join
    key."""
    import duckdb
    import numpy as np
    import pandas as pd

    from __spark_entry__ import _ann_lsh_portable_sql

    rng = np.random.RandomState(5)
    f32 = lambda v: [float(x) for x in v.astype(np.float32)]
    rows = []
    for vid in range(60):
        base = rng.normal(size=64)
        rows.append((vid * 2, vid % 3, f32(base)))
        rows.append(
            (vid * 2 + 1, vid % 3, f32(base + 0.2 * rng.normal(size=64)))
        )
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {
        tuple(r)
        for r in similarity.filtered_banded_topk(
            df, "embedding", "vec_id", ["label"], k=5, bits=128, bands=8
        ).collect()
    }
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "label": [r[1] for r in rows],
            "embedding": [r[2] for r in rows],
        }
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = {
        (int(q), int(n), int(d), int(rk))
        for q, n, d, rk in con.execute(
            _ann_lsh_portable_sql(bits=128, bands=8, filter_col="label")
        ).fetchall()
    }
    assert got == want
    # every planted same-label twin pair found (theta ~11.5deg:
    # per-band collision 0.936^16 ~ 0.35, >=1 of 8 bands ~ 0.97)
    planted = [(v * 2, v * 2 + 1) for v in range(60)]
    hits = sum(((a, b) in {(g[0], g[1]) for g in got}) for a, b in planted)
    assert hits >= 0.9 * len(planted)

    # multi-column filter: tenant splits each label block in two;
    # cross-tenant pairs must vanish even for identical vectors
    df2 = df.withColumn("tenant", (F.col("vec_id") % 2).cast("int"))
    out2 = similarity.filtered_banded_topk(
        df2, "embedding", "vec_id", ["label", "tenant"], k=5,
        bits=128, bands=8,
    ).collect()
    tenant_of = {r[0]: r[0] % 2 for r in rows}
    for r in out2:
        assert tenant_of[r["query_id"]] == tenant_of[r["neighbor_id"]]


def test_hoisted_cosine_bit_equals_inline(spark):
    # r12: brute_force_topk (and __spark_entry__._exact_cosine_pairs)
    # hoist the per-vector norm and double-cast out of the per-pair
    # cosine.  The pair expression dot(pre-cast) / (norm_l * norm_r)
    # must be BIT-equal to the inline cosine_similarity — same
    # zip_with pairing and fold order, no-op inner cast on double
    # input, same division association.  A zero-norm vector raises the
    # same ANSI DIVIDE_BY_ZERO in both forms (same denominator
    # product), so behavior matches there too.
    import random
    import struct

    from pyspark.errors.exceptions.captured import ArithmeticException

    def hoisted(lv, rv):
        return similarity.dot(
            F.transform(lv, lambda x: x.cast("double")),
            F.transform(rv, lambda x: x.cast("double")),
        ) / (similarity.norm(lv) * similarity.norm(rv))

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(20)]
    vecs.append(list(vecs[0]))  # exact duplicate: cosine == 1.0 tie
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, v array<float>",
    )
    l, r = df.alias("l"), df.alias("r")
    pairs = l.join(r, F.col("l.id") < F.col("r.id")).select(
        similarity.cosine_similarity(
            F.col("l.v"), F.col("r.v")
        ).alias("inline"),
        hoisted(F.col("l.v"), F.col("r.v")).alias("hoisted"),
    )
    rows = pairs.collect()
    assert len(rows) == 20 * 21 // 2
    saw_one = False
    for row in rows:
        a, b = row["inline"], row["hoisted"]
        assert struct.pack("<d", a) == struct.pack("<d", b), (a, b)
        saw_one = saw_one or a == 1.0
    assert saw_one

    zdf = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 2.0, 3.0, 4.0])], "id long, v array<float>"
    )
    zl, zr = zdf.alias("l"), zdf.alias("r")
    zpairs = zl.join(zr, F.col("l.id") < F.col("r.id"))
    for form in (
        similarity.cosine_similarity(F.col("l.v"), F.col("r.v")),
        hoisted(F.col("l.v"), F.col("r.v")),
    ):
        with pytest.raises(ArithmeticException):
            zpairs.select(form.alias("c")).collect()
