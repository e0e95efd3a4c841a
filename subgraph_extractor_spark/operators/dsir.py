"""Hashed n-gram importance selection — the DSIR recipe, integerized.

DSIR (Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023) picks pretraining documents that LOOK LIKE a
trusted target corpus: featurize every document as hashed n-gram
counts, fit bag-of-hashed-grams models on the target and on the raw
pool, and weight each raw document by its importance ratio under the
two models.  The published estimator multiplies per-gram probability
ratios (equivalently sums log-ratios) — float ``log`` is not
bit-portable across engines, so this module ships a deterministic
integer variant:

    bucket(g)  = first 48 md5 bits of the gram mod B     (portable)
    lambda(h)  = (2^scale_bits * (ct[h]+1) * (Zr+B))
                   div ((cr[h]+1) * (Zt+B))              (exact BIGINT:
                 the add-1-smoothed probability ratio
                 p_target(h)/p_raw(h), fixed-point-scaled and floored)
    score(doc) = sum over the doc's gram OCCURRENCES of lambda

i.e. the arithmetic-mean analogue of DSIR's geometric-mean weight —
monotone in every per-gram ratio, identical ranking signal direction,
and every value an exact BIGINT, so per-document scores (not just a
selection contract) are full-value checkable against a DuckDB replay.
The docstring trade-off is deliberate and documented: a rare
target-loved gram contributes additively rather than multiplicatively.
Use ``scale_bits`` to trade resolution for overflow headroom; an
in-plan ``assert_true`` envelope turns a would-be silent wrap into a
hard error (the repo's PPS/PageRank guard discipline).

100 TB shape: both model fits are the hashed-wordcount shuffle (ONE
map-side-combined groupBy on the bucket id; the result is at most B
rows — mergeable state that retrains incrementally like the other
count tables).  The weight table is B rows TOTAL (a generated
``spark.range(B)`` domain left-joined with both count tables, so every
scored gram hits — no null path), broadcast onto the scoring join.
Scoring is explode -> bucket -> broadcast join -> one groupBy(doc)
fold; no window, no driver-side data, no UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators.dedup import tokens_or_empty
from subgraph_extractor_spark.operators.lm import _bigrams

#: separator between gram words inside the md5 pre-image — mirrors the
#: repo-wide chr(31) convention so ("ab","c") never collides with
#: ("a","bc").
_SEP = "\x1f"


def gram_bucket(w1: Column, w2: Column, buckets: int) -> Column:
    """Portable bucket id in [0, buckets): first 48 md5 bits mod B —
    the same 48-bit md5-slice construct the deterministic shuffle uses
    (operators/shuffling.py), SQL-replayable via
    ``CAST(('0x' || substr(md5(..),1,12)) AS BIGINT)``."""
    hx = F.md5(F.concat_ws(_SEP, w1, w2))
    return (
        F.conv(F.substring(hx, 1, 12), 16, 10).cast("bigint")
        % F.lit(buckets)
    ).cast("int")


def hashed_bigram_counts(
    df: DataFrame, text_col: str, buckets: int = 4096
) -> DataFrame:
    """(h, cnt) — bigram OCCURRENCES hashed into ``buckets``; one
    map-side-combined shuffle whose output is at most B rows."""
    grams = df.select(
        F.explode(_bigrams(tokens_or_empty(F.col(text_col)))).alias("g")
    )
    return (
        grams.select(
            gram_bucket(F.col("g.w1"), F.col("g.w2"), buckets).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def importance_weights(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = 4096,
    scale_bits: int = 16,
) -> DataFrame:
    """(h, w) for EVERY bucket in [0, buckets) — the fixed-point
    add-1-smoothed probability ratio table.  The domain is generated
    (``spark.range``), so scoring joins never miss; the two totals ride
    in as a 1-row crossJoined anchor (the BM25 corpus-stats shape).

    Overflow envelope: ``2^scale_bits * (ct+1) * (Zr+B)`` must stay
    under 2^63.  The in-plan guard recomputes the bound per row and
    raises rather than wrapping (cnt and the totals are nonnegative by
    construction, so a negative anywhere is itself a wrap symptom)."""
    spark = target_counts.sparkSession
    domain = spark.range(buckets).select(F.col("id").cast("int").alias("h"))
    t = target_counts.select("h", F.col("cnt").alias("_ct"))
    r = raw_counts.select("h", F.col("cnt").alias("_cr"))
    totals = (
        t.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_zt"))
        .crossJoin(
            r.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_zr"))
        )
    )
    scale = 1 << scale_bits
    joined = (
        domain.join(t, "h", "left")
        .join(r, "h", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "h",
            (F.coalesce("_ct", F.lit(0)) + 1).alias("_ct1"),
            (F.coalesce("_cr", F.lit(0)) + 1).alias("_cr1"),
            (F.col("_zt") + buckets).alias("_ztb"),
            (F.col("_zr") + buckets).alias("_zrb"),
        )
    )
    limit = (1 << 63) - 1
    # the bounds are computed by DIVISION so the guard cannot wrap the
    # way the quantities it protects would (the PPS-guard lesson).
    # Both sides are guarded: the numerator 2^scale_bits*(ct+1)*(Zr+B)
    # AND the denominator (cr+1)*(Zt+B) — corpora past ~3e9 bigrams per
    # side would overflow the denominator alone.
    guard = F.assert_true(
        (F.col("_ct1") > 0)
        & (F.col("_zrb") > 0)
        & (F.col("_cr1") > 0)
        & (F.col("_ztb") > 0)
        & (F.col("_ct1") <= F.expr(f"{limit // scale} div _zrb"))
        & (F.col("_cr1") <= F.expr(f"{limit} div _ztb")),
        F.lit(
            f"dsir overflow envelope: 2^{scale_bits} * (ct+1) * (Zr+B) "
            "and (cr+1) * (Zt+B) must each stay under 2^63; lower "
            "scale_bits or raise buckets"
        ),
    )
    # `div`, not `/`: exact 64-bit integer floor (operands positive).
    w = F.expr(f"({scale} * _ct1 * _zrb) div (_cr1 * _ztb)")
    # guard wiring: `w + coalesce(guard, 0)` (the PPS pattern) — a
    # passing assert_true is NULL so the term adds 0.  The previous
    # `when(guard.isNull(), w).otherwise(w)` was DEAD CODE: Catalyst's
    # SimplifyConditionals folds CASE WHEN p THEN x ELSE x to x even
    # when p contains assert_true, silently deleting the guard
    # (regression-tested in test_dsir_split.py with ANSI off).
    return joined.select(
        "h", (w + F.coalesce(guard.cast("long"), F.lit(0))).alias("w")
    )


def importance_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    buckets: int = 4096,
) -> DataFrame:
    """(id, n_grams, score) for EVERY input row — documents with no
    bigram score 0 over 0 grams (the outer join back to the full doc
    list, the quality_lm_novelty convention).  The weight table
    broadcasts (at most B rows); scoring is one groupBy(id) fold."""
    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(_bigrams(tokens_or_empty(F.col(text_col)))).alias("g"),
    ).select(
        "id", gram_bucket(F.col("g.w1"), F.col("g.w2"), buckets).alias("h")
    )
    per_doc = (
        occ.join(F.broadcast(weights), "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("w").alias("score"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("score", F.lit(0)).cast("bigint").alias("score"),
        )
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 4096,
    scale_bits: int = 16,
) -> DataFrame:
    """End-to-end: fit hashed-bigram models on ``target`` and ``raw``,
    build the weight table, score every raw document.  Returns
    (id, n_grams, score) — rank by score desc for target-like
    selection, or feed the scores to ``sampling.pps_systematic_sample``
    for true importance RESAMPLING (the paper's sampling step)."""
    tc = hashed_bigram_counts(target, text_col, buckets)
    rc = hashed_bigram_counts(raw, text_col, buckets)
    w = importance_weights(tc, rc, buckets, scale_bits)
    return importance_scores(raw, text_col, id_col, w, buckets)


def dsir_oracle_sql(
    raw_sql: str,
    target_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    scale_bits: int = 16,
) -> str:
    """DuckDB replay of :func:`dsir_scores`: the identical tokenize ->
    bigram -> 48-bit-md5 bucket -> smoothed integer ratio -> per-doc
    fold, every op exact.  ``raw_sql`` / ``target_sql`` are subqueries
    yielding ({id_col}, {text_col})."""
    scale = 1 << scale_bits

    def _occ(src: str, name: str) -> str:
        return f"""{name} AS (
            SELECT {id_col} AS id,
                   CAST(CAST(('0x' || substr(
                       md5(t[i] || chr(31) || t[i + 1]), 1, 12)) AS BIGINT)
                       % {buckets} AS INT) AS h
            FROM (
                SELECT {id_col}, t, unnest(range(1, len(t))) AS i
                FROM (
                    SELECT {id_col},
                           CASE WHEN {text_col} IS NULL
                                     OR trim(lower({text_col})) = ''
                                THEN []::VARCHAR[]
                                ELSE string_split_regex(
                                    trim(lower({text_col})), '\\s+')
                           END AS t
                    FROM ({src}))
                WHERE len(t) >= 2))"""

    return f"""
        WITH
        {_occ(target_sql, "t_occ")},
        {_occ(raw_sql, "r_occ")},
        tc AS (SELECT h, COUNT(*) AS ct FROM t_occ GROUP BY h),
        rc AS (SELECT h, COUNT(*) AS cr FROM r_occ GROUP BY h),
        tot AS (
            SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS zt,
                   (SELECT COALESCE(SUM(cr), 0) FROM rc) AS zr),
        wt AS (
            SELECT d.h,
                   CAST(({scale}::HUGEINT
                         * (COALESCE(tc.ct, 0) + 1)
                         * (tot.zr + {buckets}))
                        // ((COALESCE(rc.cr, 0) + 1)
                            * (tot.zt + {buckets})) AS BIGINT) AS w
            FROM (SELECT unnest(range({buckets})) AS h) d
            LEFT JOIN tc ON tc.h = d.h
            LEFT JOIN rc ON rc.h = d.h
            CROSS JOIN tot),
        per_doc AS (
            SELECT o.id,
                   COUNT(*) AS n_grams,
                   SUM(wt.w) AS score
            FROM r_occ o JOIN wt ON wt.h = o.h
            GROUP BY o.id)
        SELECT d.{id_col},
               CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(p.score, 0) AS BIGINT) AS score
        FROM (SELECT {id_col} FROM ({raw_sql})) d
        LEFT JOIN per_doc p ON p.id = d.{id_col}
    """
