"""Lexical retrieval scoring (BM25) over a document corpus.

Training-data curation constantly ranks a corpus against a probe query:
find documents resembling a benchmark (contamination triage), mine
domain-relevant subsets, build retrieval baselines.  This implements
Okapi BM25 as a *map-only codegen scan*:

- corpus statistics (N, total token count, per-term document frequency
  for the query's terms) come from ONE global aggregation — a 1-row
  anchor crossJoin-broadcast back onto the scan (the scalar-subquery
  shape used throughout this repo);
- per-document scoring is pure whole-stage codegen: token counts via
  array HOFs, the BM25 formula as an explicit left-associated chain of
  IEEE double ops — zero Python, zero extra shuffle;
- top-k is Spark's TakeOrdered (per-partition heap + driver merge of k
  rows), so the full corpus is never sorted.

Determinism contract (what makes the operator oracle-checkable
cross-engine): the idf term uses the *log-free* monotone variant

    idf(t) = (N - df(t) + 0.5) / (df(t) + 0.5)

instead of its logarithm.  ``ln`` is libm-dependent (Java's StrictMath
vs DuckDB's libm may differ in the last ulp); a single division of
exactly-representable integers(+0.5) is bit-identical everywhere.  The
ranking this produces differs from textbook BM25 (log damping is lost
— common terms are punished more), but it is a fixed, documented,
deterministic monotone transform of the same (tf, df, dl) evidence;
swap ``idf_log=True`` for textbook scoring when cross-engine hashing
is not required.

All doubles flow through the exact same expression tree on both
engines: tf, dl, df, N are exact integers; avgdl is one double
division; k1/b are double literals; additions fold left in query-term
sort order.  IEEE 754 makes every step reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators.dedup import tokens_or_empty


def _tf(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in the token array — codegen HOF."""
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    idf_log: bool = False,
) -> DataFrame:
    """(id, score) for every document against ``query_terms``.

    One global-stats aggregation + one map-only scoring scan.  Terms
    are deduplicated and sorted so the floating-point accumulation
    order is part of the operator's definition (determinism), not an
    accident of input order.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens_or_empty(F.col(text_col))
    with_toks = df.select(F.col(id_col), toks.alias("_toks"))

    stats = with_toks.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.size("_toks")).alias("_total_dl"),
        *[
            F.sum(F.array_contains("_toks", t).cast("long")).alias(
                f"_df_{i}"
            )
            for i, t in enumerate(terms)
        ],
    )

    scored = with_toks.join(F.broadcast(stats))
    n = F.col("_n").cast("double")
    avgdl = F.col("_total_dl").cast("double") / n
    dl = F.size("_toks").cast("double")
    score = None
    for i, t in enumerate(terms):
        dfreq = F.col(f"_df_{i}").cast("double")
        if idf_log:
            idf = F.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        else:
            idf = (n - dfreq + 0.5) / (dfreq + 0.5)
        tf = _tf(F.col("_toks"), t).cast("double")
        term_score = idf * (
            (tf * (k1 + 1.0))
            / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        )
        score = term_score if score is None else score + term_score
    return scored.select(
        F.col(id_col), score.alias("score"), F.size("_toks").alias("dl")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 20,
    **kwargs,
) -> DataFrame:
    """Top-k documents by BM25 score; ties break on the id so the
    result set is total-ordered (hash-stable).  TakeOrdered physical
    plan — per-partition heap of k, never a full sort."""
    return (
        bm25_scores(df, id_col, text_col, query_terms, **kwargs)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# inverted index
# --------------------------------------------------------------------------

def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_doc_freq: int = 1,
    postings_chunk_size: int | None = None,
) -> DataFrame:
    """Token -> sorted posting list over the corpus: (token, doc_freq,
    postings array<id>).  One shuffle keyed by token; per-doc distinct
    runs map-side BEFORE the shuffle, so a token repeated 100x in one
    document ships once.

    At web scale a stopword's posting list (10^8+ ids) cannot live in
    one row: ``postings_chunk_size`` splits each token's sorted
    postings into fixed-size chunks — (token, chunk_id, doc_freq,
    postings) — bounding row size and task memory; readers intersect
    chunk-wise.  ``min_doc_freq`` prunes the hapax tail (typically most
    of the vocabulary) before any list is built.
    """
    from pyspark.sql import Window

    tok = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array_distinct(tokens_or_empty(F.col(text_col)))
            ).alias("token"),
        )
    )
    if postings_chunk_size is None:
        return (
            tok.groupBy("token")
            .agg(
                F.count(F.lit(1)).alias("doc_freq"),
                F.sort_array(F.collect_list("_id")).alias("postings"),
            )
            .filter(F.col("doc_freq") >= min_doc_freq)
        )
    w = Window.partitionBy("token").orderBy("_id")
    chunked = tok.withColumn(
        "_chunk",
        ((F.row_number().over(w) - 1) / postings_chunk_size).cast("long"),
    )
    per_token = Window.partitionBy("token")
    return (
        chunked.withColumn("doc_freq", F.count(F.lit(1)).over(per_token))
        .filter(F.col("doc_freq") >= min_doc_freq)
        .groupBy("token", F.col("_chunk").alias("chunk_id"), "doc_freq")
        .agg(F.sort_array(F.collect_list("_id")).alias("postings"))
    )


def merge_inverted_indexes(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two (unchunked) index states: postings union per token,
    doc_freq recomputed from the merged list.  Cost is O(index size) —
    the corpus text is never revisited, which is the incremental-
    maintenance point.  Ids present in both sides collapse (idempotent
    for re-indexed documents with unchanged content).

    Merge FULL states (``min_doc_freq=1``): a pruned state has already
    forgotten its low-frequency postings, so merging pruned states is
    not equal to indexing the union — apply frequency pruning when
    serving, after the merge."""
    cols = ["token", "doc_freq", "postings"]
    if a.columns != cols or b.columns != cols:
        raise ValueError(
            f"expected unchunked index states with columns {cols}"
        )
    return (
        a.unionByName(b)
        .select("token", F.explode("postings").alias("_id"))
        .distinct()
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sort_array(F.collect_list("_id")).alias("postings"),
        )
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    scale_bits: int = 20,
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    N ranked lists, integerized:

        rrf(d) = sum over lists of  2^scale_bits div (k0 + rank_d)

    RRF is THE standard way to combine lexical (BM25) and vector (ANN)
    retrieval without score calibration — only RANKS cross the fusion
    boundary, so float-scored and integer-scored rankers compose
    freely.  The fixed-point term keeps every fused score an exact
    BIGINT (floor(2^20 / (60+r)) separates adjacent ranks up to
    r ~ 1000), so fused scores and the fused ranking are
    engine-portable and full-value oracle-checkable — the documented
    integer analogue of the paper's 1/(k+r) sum.

    Output: (id_col, n_lists, rrf_score) — plus ``fused_rank`` when
    ``topk`` is given (ties break on the id; the rank window runs over
    the already-LIMITed k rows, never the corpus).

    Scale shape: union of the input rank tables + ONE
    map-side-combined groupBy on the id; top-k is TakeOrdered
    (per-partition heap), not a global sort."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    scale = 1 << scale_bits
    parts = [
        r.select(
            F.col(id_col).alias("_id"),
            F.expr(f"{scale} div ({k0} + {rank_col})").alias("_t"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.union(p)
    fused = (
        u.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lists"),
            F.sum("_t").alias("rrf_score"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("n_lists").cast("bigint").alias("n_lists"),
            F.col("rrf_score").cast("bigint").alias("rrf_score"),
        )
    )
    if topk is None:
        return fused
    limited = fused.orderBy(F.desc("rrf_score"), F.col(id_col)).limit(topk)
    from pyspark.sql.window import Window as _W

    w = _W.orderBy(F.desc("rrf_score"), F.col(id_col))
    return limited.withColumn(
        "fused_rank", F.row_number().over(w).cast("int")
    )


def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_col: str | None = None,
) -> DataFrame:
    """Per-query IR evaluation of a retrieval ``run`` against a
    relevance-judgment table ``qrels`` — the eval harness every
    retrieval / RAG pipeline runs after every index or model change
    (trec_eval's core metrics, distributed).

    ``run``: (query_col, doc_col, rank_col) — the shared top-k contract
    every ANN/BM25 operator in this repo emits.  ``qrels``: (query_col,
    doc_col) relevant pairs.  For each query appearing in the run:

    - ``n_rel``     exact count of judged-relevant docs
    - ``hits``      relevant docs retrieved within rank <= k
    - ``first_rank`` rank of the first relevant hit (0 when none)
    - ``recall_at_k``    hits / n_rel   (0.0 when n_rel = 0)
    - ``precision_at_k`` hits / k
    - ``rr``        1 / first_rank (0.0 when none) — the MRR numerator

    Determinism contract: every column is either an exact integer or
    ONE correctly-rounded IEEE division of exact integers — bit-portable
    across engines, so the full row set is oracle-hashable (no
    fold-order float sums; macro averages belong in
    :func:`ranking_metrics_summary`, which micro-averages from integer
    totals for the same reason).

    Graded relevance (``rel_col``): when qrels carries an integer
    grade column, the trec_eval conventions apply — a grade <= 0 is a
    judged-NOT-relevant pair (excluded from n_rel/hits/first_rank),
    duplicate judgments of a pair resolve to the MAX grade, and two
    graded columns join the output: ``gain`` (Σ grades of relevant
    docs retrieved within k — exact integer) and ``graded_recall``
    (gain / Σ all judged grades for the query — one IEEE division of
    exact integers, the same portability contract as the binary
    metrics; nDCG's log2 discount is deliberately NOT computed —
    transcendental floats are not cross-engine-hashable, and gain
    plus per-query rank evidence lets any DCG variant be recomputed
    offline).

    Scale notes: the metrics never touch the corpus — cost is
    O(|run| + |qrels|) = (Q·k + judged pairs), shuffled once on the
    (query, doc) key and once on query for the per-query fold.  The
    expensive thing was producing the run; evaluation is free at any
    corpus size.
    """
    topk = run.filter(F.col(rank_col) <= k).select(
        F.col(query_col), F.col(doc_col), F.col(rank_col)
    )
    if rel_col is None:
        rel = (
            qrels.select(F.col(query_col), F.col(doc_col))
            .distinct()
            .withColumn("_rel", F.lit(1))
        )
    else:
        rel = (
            qrels.groupBy(query_col, doc_col)
            .agg(F.max(F.col(rel_col)).cast("long").alias("_grade"))
            .filter(F.col("_grade") > 0)
            .withColumn("_rel", F.lit(1))
        )
    joined = topk.join(rel, [query_col, doc_col], "left")
    grade_aggs = (
        [
            F.sum(F.coalesce(F.col("_grade"), F.lit(0)))
            .cast("bigint")
            .alias("gain")
        ]
        if rel_col is not None
        else []
    )
    per_q = joined.groupBy(query_col).agg(
        F.sum(F.coalesce(F.col("_rel"), F.lit(0)))
        .cast("bigint")
        .alias("hits"),
        F.min(F.when(F.col("_rel") == 1, F.col(rank_col))).alias("_fr"),
        *grade_aggs,
    )
    if rel_col is None:
        n_rel = (
            qrels.select(F.col(query_col), F.col(doc_col))
            .distinct()
            .groupBy(query_col)
            .agg(F.count(F.lit(1)).alias("n_rel"))
        )
    else:
        n_rel = (
            qrels.groupBy(query_col, doc_col)
            .agg(F.max(F.col(rel_col)).cast("long").alias("_grade"))
            .filter(F.col("_grade") > 0)
            .groupBy(query_col)
            .agg(
                F.count(F.lit(1)).alias("n_rel"),
                F.sum("_grade").cast("bigint").alias("_total_gain"),
            )
        )
    out = per_q.join(n_rel, query_col, "left").select(
        F.col(query_col),
        F.coalesce(F.col("n_rel"), F.lit(0).cast("bigint")).alias("n_rel"),
        F.col("hits"),
        F.coalesce(F.col("_fr"), F.lit(0)).cast("int").alias("first_rank"),
        F.when(
            F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
            F.col("hits").cast("double") / F.col("n_rel").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias(f"recall_at_{k}"),
        (F.col("hits").cast("double") / F.lit(float(k))).alias(
            f"precision_at_{k}"
        ),
        F.when(
            F.col("_fr").isNotNull(),
            F.lit(1.0) / F.col("_fr").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("rr"),
        *(
            [
                F.coalesce(F.col("gain"), F.lit(0).cast("bigint")).alias(
                    "gain"
                ),
                F.when(
                    F.coalesce(F.col("_total_gain"), F.lit(0)) > 0,
                    F.coalesce(F.col("gain"), F.lit(0)).cast("double")
                    / F.col("_total_gain").cast("double"),
                )
                .otherwise(F.lit(0.0))
                .alias("graded_recall"),
            ]
            if rel_col is not None
            else []
        ),
    )
    return out


def ranking_metrics_summary(
    metrics: DataFrame, query_col: str = "query_id"
) -> DataFrame:
    """One-row corpus-level summary of :func:`ranking_metrics` output.

    Micro-averaged on purpose: ``micro_recall`` = Σhits / Σn_rel and
    ``hit_rate`` = |queries with a hit| / |queries| are each ONE IEEE
    division of exactly-summed integers — engine-portable where a macro
    mean (a fold-order-dependent sum of per-query doubles) is not.
    The integer evidence columns ship alongside so any macro metric can
    be recomputed offline.
    """
    agg = metrics.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum("n_rel").cast("bigint").alias("total_rel"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("queries_with_hit"),
    )
    return agg.select(
        "n_queries",
        "total_hits",
        "total_rel",
        "queries_with_hit",
        F.when(
            F.col("total_rel") > 0,
            F.col("total_hits").cast("double")
            / F.col("total_rel").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("micro_recall"),
        F.when(
            F.col("n_queries") > 0,
            F.col("queries_with_hit").cast("double")
            / F.col("n_queries").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("hit_rate"),
    )


# --------------------------------------------------------------------------
# champion lists (impact-ordered posting pruning)
# --------------------------------------------------------------------------

def champion_lists(
    df: DataFrame,
    id_col: str,
    text_col: str,
    m: int = 16,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-term champion lists — the classical impact-ordered posting
    pruning (the static variant of WAND-family pruning): for every
    token keep only the ``m`` documents with the highest length-
    normalized term impact.  The standing state a pruned lexical
    serving tier keeps instead of full posting lists: query cost
    becomes O(|query terms| * m), independent of corpus size.

    Impact is exact-integer so the state (and everything served from
    it) is engine-portable: ``impact = (tf << scale_bits) // dl``
    (integer division; tf = term occurrences in the doc, dl = doc
    token length — dl >= 1 wherever a posting exists).  Champion rank
    ties break (impact desc, doc_id asc).

    Plan shape: one shuffle keyed (token, doc) for the tf count
    (map-side combined), the per-token top-m is SPARK-37099
    shuffle-capped (at most m rows per (token, map-partition) cross
    the rank exchange), and doc_freq/n_docs ride along so the state is
    self-contained.  ``n_docs`` counts ALL corpus docs (including
    empty ones) via a 1-row broadcast anchor — the BM25 corpus-stats
    shape.

    Merging: unlike a pruned inverted index, champion states over
    DISJOINT doc sets merge EXACTLY (:func:`merge_champion_lists`) —
    ``impact(t, doc)`` depends only on the document itself, so any row
    outside a side's top-m has m better rows on that side alone and
    can never enter the union's top-m; doc_freq/n_docs are additive.
    Overlapping doc ids would double-count the frequency columns —
    the disjointness contract is the merge face's requirement.

    Output: (token, doc_freq, n_docs, doc_id, impact, champ_rank).
    """
    from pyspark.sql import Window

    if m < 1:
        raise ValueError("m must be >= 1")
    toks = tokens_or_empty(F.col(text_col))
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("_dl"),
        F.explode(toks).alias("token"),
    )
    tf = exploded.groupBy("token", "doc_id", "_dl").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    scale = 1 << scale_bits
    # exact integer division (Spark's `/` on longs is a double divide):
    # DIV here, `//` on the DuckDB side — same integral quotient
    scored = tf.select(
        "token",
        "doc_id",
        F.expr(f"_tf * {scale} DIV _dl").alias("impact"),
    )
    w = Window.partitionBy("token").orderBy(
        F.col("impact").desc(), F.col("doc_id").asc()
    )
    champs = (
        scored.withColumn("champ_rank", F.row_number().over(w))
        .filter(F.col("champ_rank") <= m)
    )
    dfreq = scored.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    body = (
        champs.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token", "doc_freq", "n_docs", "doc_id", "impact",
            "champ_rank",
        )
    )
    return body.unionByName(
        _champion_anchor(n_docs, df.schema[id_col].dataType)
    )


def _champion_anchor(n_docs: DataFrame, id_type) -> DataFrame:
    """UNCONDITIONAL 1-row anchor ``(token NULL, doc_freq 0, n_docs,
    doc_id NULL, impact 0, champ_rank 0)``.  ``n_docs`` rides on
    posting rows; a corpus whose docs are all empty/tokenless produces
    postings for nothing yet still counts toward ``n_docs`` — without
    the anchor that count evaporates, so a later
    :func:`merge_champion_lists` under-counts ``n_docs`` and its idf
    diverges from a one-shot rebuild (breaking the exact-merge
    contract).  Real rows always have champ_rank >= 1;
    anchors are the champ_rank-0 rows, and every serving/merge face
    selects on token/champ_rank, never the raw union.

    Unconditional on purpose (the ``freq._mg_anchor`` discipline, per
    the r9 advice): the previous emit-iff-empty variant referenced the
    body plan a second time through a ``count(*)`` gate, doubling the
    logical plan per lazy merge fold — the exact blowup class
    ``_mg_anchor``'s docstring documents (an emit-iff-empty MG draft
    measured 2 s -> 237 s over 7 folds)."""
    return (
        n_docs
        .select(
            F.lit(None).cast("string").alias("token"),
            F.lit(0).cast("long").alias("doc_freq"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.lit(None).cast(id_type).alias("doc_id"),
            F.lit(0).cast("long").alias("impact"),
            F.lit(0).cast("int").alias("champ_rank"),
        )
    )


def champion_topk(
    champions: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    idf_bits: int = 10,
) -> DataFrame:
    """Serve a top-``k`` from the standing champion-list state — the
    corpus itself is never touched (the pruning point: cost is
    O(|terms| * m) rows at ANY corpus size).

    score(doc) = Σ_t impact(t, doc) * idf_int(t)   over matched terms,
    idf_int(t) = (n_docs << idf_bits) // (doc_freq + 1)  — exact
    integer division, the log-free monotone-idf discipline of
    ``bm25_scores`` integerized.  Envelope: impact < 2^scale_bits and
    idf_int <= n_docs * 2^idf_bits, so with the defaults the per-term
    product stays below 2^63 for corpora under ~2^33 docs — asserted
    in-plan so Spark's silent long wrap can never produce a plausible
    wrong ranking (DuckDB's HUGEINT would not wrap, and the
    differential harness would catch it — but only at fixture scale).

    Approximation contract (documented, tested): a document missing
    from a term's champion list contributes 0 for that term — exactly
    the recall trade pruning makes.  Single-term queries are EXACT for
    the top min(k, m) (a term's true top docs are its champions).

    Output: (doc_id, score, n_terms_hit) ordered by (score desc,
    doc_id asc), via TakeOrdered — no global sort.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    hit = champions.filter(F.col("token").isin(list(terms)))
    idf = F.expr(
        f"n_docs * {1 << idf_bits} DIV (doc_freq + 1)"
    ).alias("_idf")
    contrib = hit.select(
        "doc_id",
        "impact",
        idf,
    ).select(
        "doc_id",
        F.when(
            (F.col("impact") > 0)
            & (F.col("_idf") > F.expr(f"{2**63 - 1} DIV impact")),
            F.raise_error(F.lit("champion_topk: score envelope overflow")),
        )
        .otherwise(F.col("impact") * F.col("_idf"))
        .alias("_term_score"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("_term_score").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def merge_champion_lists(a: DataFrame, b: DataFrame, m: int = 16) -> DataFrame:
    """Fold two champion-list states built over DISJOINT document sets
    into the state a single build over the union would produce —
    EXACTLY, despite both inputs being pruned (the incremental-
    maintenance face: index each crawl batch separately, merge states,
    never re-tokenize the standing corpus).

    Why pruning loses nothing here (unlike ``merge_inverted_indexes``):
    ``impact(t, doc) = (tf << s) DIV dl`` is a pure function of the
    document, so the union's true top-m per token is a subset of
    ``champs(A) ∪ champs(B)`` (a row below A's m-th impact has m
    better rows in A alone).  ``doc_freq`` and ``n_docs`` are additive
    over disjoint doc sets.  Overlapping ids would double-count both
    frequency columns — rebuilding is the remedy for re-crawled
    CONTENT; this face is for NEW documents.

    Cost: O(state), one shuffle keyed token for the re-rank + one for
    the doc_freq fold; the corpus text is never revisited.

    Output: same schema as :func:`champion_lists`, champ_rank
    recomputed over the merged rows.
    """
    from pyspark.sql import Window

    if m < 1:
        raise ValueError("m must be >= 1")
    cols = ["token", "doc_freq", "n_docs", "doc_id", "impact", "champ_rank"]
    if a.columns != cols or b.columns != cols:
        raise ValueError(f"expected champion states with columns {cols}")
    # n_docs is extracted per side with a TOTAL 1-row agg (max over the
    # side's rows: every row, anchor included, carries the same value),
    # so a row-less legacy state folds as 0 and an anchor-only state
    # (all-tokenless corpus) contributes its true count — recovering it
    # from the unioned rows via distinct lost the row-less side's count
    # entirely, silently skewing merged idf vs a one-shot rebuild.
    na = a.agg(F.coalesce(F.max("n_docs"), F.lit(0)).alias("_na"))
    nb = b.agg(F.coalesce(F.max("n_docs"), F.lit(0)).alias("_nb"))
    n_docs = na.crossJoin(F.broadcast(nb)).select(
        (F.col("_na") + F.col("_nb")).cast("long").alias("n_docs")
    )
    # posting rows only (champ_rank >= 1; anchors are champ_rank 0)
    ua = a.filter(F.col("champ_rank") >= 1).withColumn("_side", F.lit(0))
    ub = b.filter(F.col("champ_rank") >= 1).withColumn("_side", F.lit(1))
    u = ua.unionByName(ub)
    # per-side doc_freq is replicated on each champion row — collapse
    # to one row per (token, side) before the additive fold
    dfreq = (
        u.select("token", "_side", "doc_freq")
        .distinct()
        .groupBy("token")
        .agg(F.sum("doc_freq").alias("doc_freq"))
    )
    w = Window.partitionBy("token").orderBy(
        F.col("impact").desc(), F.col("doc_id").asc()
    )
    merged = (
        u.select("token", "doc_id", "impact")
        .withColumn("champ_rank", F.row_number().over(w))
        .filter(F.col("champ_rank") <= m)
    )
    body = (
        merged.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token", "doc_freq", "n_docs", "doc_id", "impact",
            "champ_rank",
        )
    )
    return body.unionByName(
        _champion_anchor(n_docs, a.schema["doc_id"].dataType)
    )
