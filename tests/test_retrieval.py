"""BM25 retrieval: hand-computed scores (exact float expectation),
top-k tie determinism, empty-query guard, log variant."""

import pytest

from subgraph_extractor_spark.operators import retrieval as R


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark streams join the vector table"),       # join x1, vector x1
        (2, "join join join and more join here ok"),      # join x4
        (3, "nothing relevant whatsoever in this text"),  # none
        (4, ""),                                          # empty
        (5, "vector vector"),                             # vector x2, dl 2
        (6, None),                                        # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _expected(docs, terms, k1=1.2, b=0.75):
    """Pure-python replica of the operator's expression tree (same
    float op order) — the scores must match BIT-exactly."""
    toks = {i: t.strip().lower().split() if t else [] for i, t in docs}
    n = float(len(docs))
    total_dl = float(sum(len(v) for v in toks.values()))
    avgdl = total_dl / n
    out = {}
    for i, tk in toks.items():
        dl = float(len(tk))
        score = None
        for term in sorted(set(terms)):
            dfreq = float(sum(1 for v in toks.values() if term in v))
            idf = (n - dfreq + 0.5) / (dfreq + 0.5)
            tf = float(tk.count(term))
            s = idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
            score = s if score is None else score + s
        out[i] = score
    return out


def test_scores_match_python_bitwise(corpus):
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    exp = _expected(rows, ["join", "vector"])
    got = {
        r.doc_id: r.score
        for r in R.bm25_scores(corpus, "doc_id", "text", ["join", "vector"])
        .collect()
    }
    assert got == exp  # bit-exact float equality, not approx


def test_ranking_sanity(corpus):
    top = R.bm25_topk(corpus, "doc_id", "text", ["join", "vector"], k=5) \
        .collect()
    order = [r.doc_id for r in top]
    # term-free docs rank last with score 0.0; doc 2 (4x join) beats 1
    assert order.index(2) < order.index(3)
    assert order.index(1) < order.index(3)
    scores = {r.doc_id: r.score for r in top}
    assert scores[3] == 0.0 and scores[4] == 0.0
    # zero-score ties break by doc_id: 3 before 4
    assert order.index(3) < order.index(4)


def test_duplicate_terms_collapse(corpus):
    a = R.bm25_scores(corpus, "doc_id", "text", ["join", "join"]).collect()
    b = R.bm25_scores(corpus, "doc_id", "text", ["join"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_empty_query_raises(corpus):
    with pytest.raises(ValueError):
        R.bm25_scores(corpus, "doc_id", "text", [])


def test_log_variant_orders_same_on_separable_corpus(corpus):
    # textbook log idf is a monotone damping of the same evidence; on a
    # corpus where doc ranks are driven by tf it preserves the ranking
    lin = [r.doc_id for r in
           R.bm25_topk(corpus, "doc_id", "text", ["join"], k=5).collect()]
    log = [r.doc_id for r in
           R.bm25_topk(corpus, "doc_id", "text", ["join"], k=5,
                       idf_log=True).collect()]
    assert lin == log


# --------------------------------------------------------------------------
# inverted index
# --------------------------------------------------------------------------

def test_inverted_index_hand_corpus(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a"), (4, None)],
        "doc_id bigint, text string",
    )
    out = {r.token: (r.doc_freq, r.postings)
           for r in R.inverted_index(df, "doc_id", "text").collect()}
    assert out == {"a": (2, [1, 3]), "b": (2, [1, 2]), "c": (1, [2])}
    # min_doc_freq prunes the hapax tail
    pruned = {r.token for r in
              R.inverted_index(df, "doc_id", "text", min_doc_freq=2)
              .collect()}
    assert pruned == {"a", "b"}


def test_inverted_index_chunked(spark):
    docs = [(i, "tok") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = R.inverted_index(
        df, "doc_id", "text", postings_chunk_size=4).collect()
    by_chunk = {r.chunk_id: r for r in rows}
    assert [len(by_chunk[c].postings) for c in sorted(by_chunk)] == [4, 4, 2]
    assert all(r.doc_freq == 10 for r in rows)
    # chunks partition the sorted postings in order
    flat = [i for c in sorted(by_chunk) for i in by_chunk[c].postings]
    assert flat == list(range(10))


def test_index_merge_equals_rebuild_and_is_idempotent(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = R.inverted_index(docs, "doc_id", "text")
    merged = R.merge_inverted_indexes(
        R.inverted_index(docs.filter(F.col("doc_id") % 2 == 0),
                         "doc_id", "text"),
        R.inverted_index(docs.filter(F.col("doc_id") % 2 == 1),
                         "doc_id", "text"),
    )
    want = sorted((r.token, r.doc_freq, r.postings) for r in full.collect())
    got = sorted((r.token, r.doc_freq, r.postings) for r in merged.collect())
    assert got == want
    # idempotent: re-merging one side changes nothing
    again = R.merge_inverted_indexes(
        merged, R.inverted_index(docs.filter(F.col("doc_id") % 2 == 0),
                                 "doc_id", "text"))
    got2 = sorted((r.token, r.doc_freq, r.postings) for r in again.collect())
    assert got2 == want


def test_index_merge_refuses_chunked_state(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    chunked = R.inverted_index(df, "doc_id", "text", postings_chunk_size=2)
    flat = R.inverted_index(df, "doc_id", "text")
    with pytest.raises(ValueError, match="unchunked"):
        R.merge_inverted_indexes(flat, chunked)


# --------------------------------------------------------------------------
# champion lists (impact-ordered posting pruning)
# --------------------------------------------------------------------------

def _champ_reference(docs, terms, m, k, scale_bits=20, idf_bits=10):
    """Pure-python replica of champion_lists + champion_topk."""
    toks = {i: t.strip().lower().split() if t and t.strip() else []
            for i, t in docs}
    n_docs = len(docs)
    postings = {}
    for i, tk in toks.items():
        for t in tk:
            postings.setdefault(t, {}).setdefault(i, 0)
            postings[t][i] += 1
    scores, hits = {}, {}
    for t in sorted(set(terms)):
        pl = postings.get(t, {})
        idf = (n_docs << idf_bits) // (len(pl) + 1)
        champs = sorted(
            (((tf << scale_bits) // len(toks[doc]), doc)
             for doc, tf in pl.items()),
            key=lambda x: (-x[0], x[1]),
        )[:m]
        for imp, doc in champs:
            scores[doc] = scores.get(doc, 0) + imp * idf
            hits[doc] = hits.get(doc, 0) + 1
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(doc, s, hits[doc]) for doc, s in ranked]


def test_champion_topk_matches_reference(corpus):
    docs = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    ch = R.champion_lists(corpus, "doc_id", "text", m=2)
    got = [
        (r["doc_id"], r["score"], r["n_terms_hit"])
        for r in R.champion_topk(ch, ["join", "vector"], k=4).collect()
    ]
    assert got == _champ_reference(docs, ["join", "vector"], m=2, k=4)


def test_champion_single_term_exact_topm(corpus):
    """Single-term queries are EXACT for the top min(k, m): a term's
    true top docs by impact ARE its champions."""
    docs = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    ch = R.champion_lists(corpus, "doc_id", "text", m=3)
    got = [r["doc_id"]
           for r in R.champion_topk(ch, ["join"], k=3).collect()]
    # unpruned reference: score every posting, not just champions
    exp = [d for d, _, _ in _champ_reference(docs, ["join"], m=10**6, k=3)]
    assert got == exp


def test_champion_pruning_drops_low_impact(corpus):
    """m=1 keeps only each term's single best doc — doc 1 (join x1 of 6
    tokens) must vanish from the 'join' list while doc 2 (join x4 of 8)
    survives."""
    ch = R.champion_lists(corpus, "doc_id", "text", m=1)
    join_docs = [r["doc_id"]
                 for r in ch.filter("token = 'join'").collect()]
    assert join_docs == [2]


def test_champion_state_is_self_contained(corpus):
    ch = R.champion_lists(corpus, "doc_id", "text", m=2)
    row = ch.filter("token = 'vector'").limit(1).collect()[0]
    assert row["n_docs"] == 6  # ALL docs, including empty/NULL text
    assert row["doc_freq"] == 2


def test_champion_validation(corpus):
    with pytest.raises(ValueError):
        R.champion_lists(corpus, "doc_id", "text", m=0)
    ch = R.champion_lists(corpus, "doc_id", "text", m=2)
    with pytest.raises(ValueError):
        R.champion_topk(ch, [])


def test_champion_topm_shuffle_is_rank_limit_capped(corpus):
    """SPARK-37099 plan pin: the per-token top-m filter runs below the
    token exchange (a stopword's postings never all shuffle)."""
    ch = R.champion_lists(corpus, "doc_id", "text", m=2)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    part = [i for i, l in enumerate(lines)
            if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(token" in l]
    assert part and exch, plan
    assert min(part) > min(exch), plan


def test_champion_merge_equals_rebuild(spark, sf_dir):
    """merge(champs(A), champs(B)) == champs(A ∪ B) EXACTLY for
    disjoint doc sets — the pruned state loses nothing (impact is a
    pure function of the document)."""
    from subgraph_extractor_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    m = 3
    merged = R.merge_champion_lists(
        R.champion_lists(a, "doc_id", "text", m=m),
        R.champion_lists(b, "doc_id", "text", m=m),
        m=m,
    )
    rebuilt = R.champion_lists(docs, "doc_id", "text", m=m)
    # key=str: the unconditional metadata anchor row carries NULLs
    key = lambda df: sorted(map(tuple, df.collect()), key=str)
    assert key(merged) == key(rebuilt)


def test_champion_merge_serving_equivalence(corpus):
    """Serving from the merged state == serving from the rebuilt
    state, including scores (doc_freq/n_docs additivity)."""
    a = corpus.filter("doc_id <= 3")
    b = corpus.filter("doc_id > 3")
    merged = R.merge_champion_lists(
        R.champion_lists(a, "doc_id", "text", m=2),
        R.champion_lists(b, "doc_id", "text", m=2),
        m=2,
    )
    rebuilt = R.champion_lists(corpus, "doc_id", "text", m=2)
    got = [tuple(r) for r in R.champion_topk(merged, ["join", "vector"], k=4).collect()]
    exp = [tuple(r) for r in R.champion_topk(rebuilt, ["join", "vector"], k=4).collect()]
    assert got == exp


def test_champion_merge_survives_rowless_side(spark, corpus):
    """A state built from docs that are ALL empty/tokenless has no
    posting rows yet still counts its docs: it must carry n_docs
    through the merge via the champ_rank-0 anchor row, keeping merged
    idf == one-shot rebuild (the r8-advice rows-carry-metadata flaw:
    distinct over unioned rows lost the row-less side's count)."""
    empties = spark.createDataFrame(
        [(100, ""), (101, None), (102, "   ")], "doc_id bigint, text string"
    )
    e_state = R.champion_lists(empties, "doc_id", "text", m=2)
    assert [tuple(r) for r in e_state.collect()] == [
        (None, 0, 3, None, 0, 0)
    ]
    merged = R.merge_champion_lists(
        R.champion_lists(corpus, "doc_id", "text", m=2), e_state, m=2
    )
    rebuilt = R.champion_lists(
        corpus.unionByName(empties), "doc_id", "text", m=2
    )
    assert sorted(map(tuple, merged.collect()), key=str) == sorted(
        map(tuple, rebuilt.collect()), key=str
    )
    # serving parity (idf depends on the merged n_docs), both orders
    merged_rev = R.merge_champion_lists(
        e_state, R.champion_lists(corpus, "doc_id", "text", m=2), m=2
    )
    for state in (merged, merged_rev):
        got = [
            tuple(r)
            for r in R.champion_topk(state, ["join", "vector"], k=4).collect()
        ]
        exp = [
            tuple(r)
            for r in R.champion_topk(rebuilt, ["join", "vector"], k=4).collect()
        ]
        assert got == exp


def test_champion_merge_schema_validation(corpus):
    ch = R.champion_lists(corpus, "doc_id", "text", m=2)
    with pytest.raises(ValueError):
        R.merge_champion_lists(ch.drop("n_docs"), ch)
    with pytest.raises(ValueError):
        R.merge_champion_lists(ch, ch, m=0)

