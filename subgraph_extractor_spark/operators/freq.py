"""Count-min sketch — mergeable frequency state for heavy-hitter
tracking over a continually-ingested corpus.

The training-pipeline use: corpus-wide token / n-gram frequencies drive
stopword discovery, boilerplate-phrase thresholds, and vocabulary
pruning.  Exact counts need a full groupBy over all history on every
refresh; a count-min sketch (Cormode & Muthukrishnan 2005) keeps a
fixed-size counter matrix that (a) each new batch folds into without
touching history, (b) merges by elementwise addition, and (c) answers
point queries with one-sided error: est >= true always, and
est <= true + eN/width with probability 1 - e^-depth over the hash
family (here the family is FIXED xxhash64 salts, so a given corpus
always produces the same deterministic estimates).

Shape (same sketch-table discipline as sketches.py / bloom.py):

- build shards the input by key hash, each shard task counts ONLY its
  own keys into a full depth x width int64 matrix (the per-task memory
  is depth*width*8 bytes — 2 MB at 4x65536 — independent of data
  volume), and the shard matrices sum into one sketch row;  keys never
  collide across shards (a key's shard is a function of the key), so
  summing shard matrices equals single-pass construction exactly;
- the sketch is ONE row ``(depth, width, n_total, counters binary)`` —
  parquet-persistable, broadcastable, mergeable by elementwise add;
- estimates join a (small, candidate) key set against the sketch row in
  a single cogroup task — candidates come from batch-local exact top-k
  at scale, never from enumerating the sketch (CM cannot enumerate).

All row hashes are JVM-side ``xxhash64(key, salt)``; numpy does only
the vectorized scatter-add/gather inside Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CMS_SCHEMA = T.StructType(
    [
        T.StructField("depth", T.IntegerType()),
        T.StructField("width", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("counters", T.BinaryType()),
    ]
)


def _with_row_hashes(df: DataFrame, key_col: str, depth: int) -> DataFrame:
    """depth independent 64-bit hashes per key, as JVM columns."""
    out = df
    for i in range(depth):
        out = out.withColumn(f"_h{i}", F.xxhash64(F.col(key_col), F.lit(i)))
    return out


def _u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64).view(np.uint64)


def cms_build(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 1 << 16,
    num_shards: int = 32,
) -> DataFrame:
    """Build the count-min sketch over ``df[key_col]`` (each row adds
    ``weight_col`` or 1).  Two aggregation levels, both bounded: shard
    tasks see only their rows, the final sum sees num_shards matrix
    rows."""
    hashed = _with_row_hashes(
        df.select(
            F.col(key_col).alias("_k"),
            (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("_w"),
        ),
        "_k",
        depth,
    ).withColumn(
        "_shard", F.pmod(F.xxhash64(F.col("_k"), F.lit(97)), F.lit(num_shards))
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.zeros((depth, width), dtype=np.int64)
        w = pdf["_w"].to_numpy(dtype=np.int64)
        for i in range(depth):
            idx = (_u64(pdf[f"_h{i}"]) % np.uint64(width)).astype(np.int64)
            np.add.at(mat[i], idx, w)
        return pd.DataFrame(
            {
                "depth": [depth],
                "width": [width],
                "n_total": [int(w.sum())],
                "counters": [mat.tobytes()],
            }
        )

    shard_mats = hashed.groupBy("_shard").applyInPandas(build, schema=_CMS_SCHEMA)
    return cms_merge(shard_mats)


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Merge sketch rows (same depth/width) by elementwise addition —
    the incremental refresh and the shard-combine step share this."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = {(int(d), int(w)) for d, w in zip(pdf["depth"], pdf["width"])}
        if len(geoms) != 1:
            raise ValueError("cms_merge: mixed depth/width across inputs")
        depth, width = geoms.pop()
        acc = np.zeros(depth * width, dtype=np.int64)
        for b in pdf["counters"]:
            acc += np.frombuffer(b, dtype=np.int64)
        return pd.DataFrame(
            {
                "depth": [depth],
                "width": [width],
                "n_total": [int(pdf["n_total"].sum())],
                "counters": [acc.tobytes()],
            }
        )

    return (
        sketches.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(merge, schema=_CMS_SCHEMA)
    )


def cms_estimate(
    keys: DataFrame, key_col: str, sketch: DataFrame, est_col: str = "n_est"
) -> DataFrame:
    """Point-estimate each candidate key's total weight: min over the
    depth rows of the key's counter cells.  Candidates are expected to
    be SMALL (batch-local top-k); they meet the one sketch row in a
    single cogroup task, so the counter matrix never replicates
    per-row."""
    # depth is a property of the sketch row; hash with a safe upper
    # bound of salts and use only the first `depth` at estimate time
    max_depth = 8
    hashed = _with_row_hashes(keys, key_col, max_depth).withColumn(
        "_g", F.lit(0)
    )
    out_schema = T.StructType(
        list(keys.schema.fields) + [T.StructField(est_col, T.LongType())]
    )
    key_cols = [f.name for f in keys.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=key_cols + [est_col])
        out = left[key_cols].copy()
        if right.empty:
            out[est_col] = np.int64(0)
            return out
        depth = int(right["depth"].iloc[0])
        if depth > max_depth:
            raise ValueError(
                f"cms_estimate supports depth <= {max_depth}, got {depth}"
            )
        width = int(right["width"].iloc[0])
        mat = np.frombuffer(right["counters"].iloc[0], dtype=np.int64).reshape(
            depth, width
        )
        est = None
        for i in range(depth):
            idx = (_u64(left[f"_h{i}"]) % np.uint64(width)).astype(np.int64)
            vals = mat[i, idx]
            est = vals if est is None else np.minimum(est, vals)
        out[est_col] = est
        return out

    return (
        hashed.groupBy("_g")
        .cogroup(sketch.withColumn("_g", F.lit(0)).groupBy("_g"))
        .applyInPandas(probe, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitters summary
# ---------------------------------------------------------------------------
#
# Count-min above ESTIMATES any key's frequency but cannot enumerate
# candidates; this is the enumerating complement: a bounded summary of
# at most m (key, counter) rows that provably CONTAINS every key whose
# true frequency exceeds the carried error bound — the deterministic
# Misra-Gries / SpaceSaving family, in the mergeable-summaries
# formulation (Agarwal et al., PODS'12).
#
# State row: (key, counter, n_total, err), self-contained like the
# champion-list state.  A summary is key rows (counter >= 1) PLUS one
# anchor row (key NULL, counter 0, n_total, err) that carries the
# metadata unconditionally — an empty key set is a legitimate algebra
# element (empty batch; fully-cancelled merge) and zero rows would
# silently lose (n_total, err), breaking every later fold.  Invariant
# (the "validity" law, tested):
#
#     counter <= true(key)  and  true(key) - counter <= err
#     for EVERY key of the stream, with counter = 0 for absent keys —
#     so any key with true(key) > err is guaranteed present.
#
# Build from a batch keeps the top-m exact counts unchanged and sets
# err to the largest pruned count (<= n/(m+1) by pigeonhole: if the
# (m+1)-th largest count exceeded n/(m+1), the top m+1 alone would
# exceed n).  Merge sums counters key-wise, subtracts the (m+1)-th
# largest merged counter C from everything, drops non-positives, and
# carries err_a + err_b + C — a valid summary for the concatenated
# stream (counter_ab >= true - err_a - err_b before the subtraction).
#
# Everything is exact integer arithmetic over DETERMINISTIC inputs
# (ties at the size-m boundary break on the key), so unlike classical
# streaming MG — whose counters depend on arrival order — the whole
# build/merge tree is a pure function of the data and shard rule:
# engine-portable, full-value oracle-checkable.  The 100 TB use: one
# m-row summary per batch/partition folded in a tree, candidates for
# the exact second pass (the two-pass discipline of
# q_text_heavy_hitters) without ever a corpus-wide groupBy on refresh.


_MG_COLS = ["key", "counter", "n_total", "err"]


def _mg_anchor(meta: DataFrame, key_type) -> DataFrame:
    """The 1-row metadata anchor ``(key NULL, counter 0, n_total,
    err)`` from a 1-row meta relation.  Every summary carries it
    UNCONDITIONALLY: zero rows cannot carry metadata — an empty key
    set is a legitimate algebra element (empty batch, fully-cancelled
    merge) whose (n_total, err) MUST survive, or every later fold
    under-reports err and silently breaks the validity law (any key
    with true freq > err is guaranteed present).  Unconditional (not
    emitted-iff-empty) deliberately: a conditional anchor needs a
    count over the body, referencing the upstream plan a second time,
    which doubles the logical plan at every fold of a chained merge
    tree (measured: the 4-shard sketch_mg query went 2 s -> 237 s on
    an emit-iff-empty draft)."""
    return meta.select(
        F.lit(None).cast(key_type).alias("key"),
        F.lit(0).cast("long").alias("counter"),
        F.col("n_total").cast("long").alias("n_total"),
        F.col("err").cast("long").alias("err"),
    )


def mg_summary(df: DataFrame, key_col: str, m: int) -> DataFrame:
    """Misra-Gries summary of a batch: the top-``m`` exact counts with
    the largest pruned count as the carried error bound.  Bounded
    state: every window/limit here runs over <= m+1 rows.

    Representation: key rows (counter >= 1) plus ONE anchor row
    ``(key NULL, counter 0, n_total, err)`` — the anchor keeps the
    metadata alive when the key set is empty (see :func:`_mg_anchor`),
    so an empty batch yields the identity summary (NULL, 0, 0, 0)
    rather than zero rows.  The anchor is the only counter-0 row."""
    if m < 1:
        raise ValueError("m must be >= 1")
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("counter")
    )
    n_row = counts.agg(
        F.coalesce(F.sum("counter"), F.lit(0)).cast("long").alias("n_total")
    )
    top = counts.orderBy(F.desc("counter"), F.asc("key")).limit(m + 1)
    # single-partition window over <= m+1 rows (bounded by the limit)
    w = Window.orderBy(F.desc("counter"), F.asc("key"))
    ranked = top.withColumn("_rn", F.row_number().over(w))
    err_row = ranked.filter(F.col("_rn") == m + 1).agg(
        F.coalesce(F.max("counter"), F.lit(0)).cast("long").alias("err")
    )
    body = (
        ranked.filter(F.col("_rn") <= m)
        .crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(err_row))
        .select(*_MG_COLS)
    )
    meta = n_row.crossJoin(F.broadcast(err_row))
    return body.unionByName(
        _mg_anchor(meta, df.schema[key_col].dataType)
    )


def mg_merge(
    a: DataFrame, b: DataFrame, m: int, eager: bool = True
) -> DataFrame:
    """Fold two summaries into a valid summary of the concatenated
    stream (Agarwal et al. PODS'12): key-wise counter sum, subtract
    the (m+1)-th largest merged counter C, drop non-positives, err =
    err_a + err_b + C.  Cost is O(m) rows — the inputs, not the
    corpora, are the operands.

    SINGLE-REFERENCE formulation (r11, the quantile_merge template):
    each input enters the plan exactly once — both sides' (n_total,
    err) ride a side-tagged union through one unpartitioned window
    over the <= 2(m+1)+1-row state (the old shape referenced each
    input twice: a per-side metadata aggregate plus the key join, so
    a LAZY merge chain grew the logical plan ~4x PER FOLD LEVEL —
    Catalyst plans are trees, not DAGs — and a 4-shard fold tree took
    minutes of optimizer time: measured r9, 187 s lazy vs ~2 s
    checkpointed for the sketch_mg query at sf0.01).  With one
    reference per input a lazy left fold grows LINEARLY, so bounded
    fold chains can pass ``eager=False`` and evaluate in one job.
    ``eager=True`` (the default) keeps the <= m+1-row
    ``localCheckpoint`` — the bounded-state discipline for unbounded
    incremental folds.

    Values are identical to the two-reference formulation: same
    key-wise counter sums, same (desc counter, asc key) rank order for
    the (m+1)-th-largest C, same metadata arithmetic, same
    unconditional anchor.  (One deliberate alignment: two genuine
    NULL-key rows now SUM like any other equal key — the old
    full-outer join could not match NULL to NULL and kept them as two
    rows, diverging from the row-encoding algebra the hypothesis suite
    pins; no summary built by ``mg_summary`` over SQL GROUP BY can
    tell the difference because GROUP BY already merged NULL keys.)

    A 1-row literal seed rides the union so the anchor group — and
    with it the merged metadata — exists even when both inputs are
    zero-row relations (the legacy encoding of "empty")."""
    if m < 1:
        raise ValueError("m must be >= 1")
    if a.columns != _MG_COLS or b.columns != _MG_COLS:
        raise ValueError(f"expected MG summaries with columns {_MG_COLS}")
    from pyspark.sql import Window

    key_type = a.schema["key"].dataType
    seed = a.sparkSession.range(1).select(
        F.lit(None).cast(key_type).alias("key"),
        F.lit(0).cast("long").alias("counter"),
        F.lit(0).cast("long").alias("n_total"),
        F.lit(0).cast("long").alias("err"),
        F.lit(2).alias("_side"),
    )
    un = (
        a.withColumn("_side", F.lit(0))
        .unionByName(b.withColumn("_side", F.lit(1)))
        .unionByName(seed)
    )
    # ONE window over the entire (bounded) state attaches both sides'
    # (n_total, err) to every row: every summary row carries its own
    # side's metadata, so max-per-side recovers it — 0 for a zero-row
    # side, exactly the old per-side aggregate's coalesce (the seed's
    # side 2 matches neither predicate and contributes nothing).
    w_all = Window.partitionBy()
    _side_max = lambda side, col: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("_side") == side, F.col(col))).over(w_all),
        F.lit(0),
    ).cast("long")
    st = un.select(
        "key",
        "counter",
        (F.col("counter") > 0).alias("_isk"),  # anchors are counter 0
        (_side_max(0, "n_total") + _side_max(1, "n_total")).alias("_n"),
        (_side_max(0, "err") + _side_max(1, "err")).alias("_e0"),
    )
    # key rows sum per key; the anchor rows (key NULL, _isk false —
    # both inputs' plus the seed's) collapse to ONE group kept apart
    # from any genuine NULL key row by the _isk flag.
    comb = st.groupBy("key", "_isk").agg(
        F.sum("counter").cast("long").alias("counter"),
        F.max("_n").alias("_n"),
        F.max("_e0").alias("_e0"),
    )
    # rank key rows exactly as before — (desc counter, asc key); the
    # single anchor group sorts last (counter 0 < any key counter) and
    # is excluded from the C selection by _isk.
    w_rank = Window.orderBy(
        F.desc("_isk"), F.desc("counter"), F.asc("key")
    )
    ranked = comb.withColumn("_rn", F.row_number().over(w_rank))
    with_c = ranked.withColumn(
        "_C",
        F.coalesce(
            F.max(
                F.when(
                    (F.col("_rn") == m + 1) & F.col("_isk"),
                    F.col("counter"),
                )
            ).over(w_all),
            F.lit(0),
        ).cast("long"),
    )
    # fully-cancelled merge (every counter == the (m+1)-th largest,
    # e.g. m=1 over two disjoint equal-count summaries) drops every key
    # row yet has n_total > 0, err > 0 — the anchor keeps them alive
    out = with_c.filter(
        (~F.col("_isk"))
        | (
            (F.col("_rn") <= m)
            & (F.col("counter") - F.col("_C") > F.lit(0))
        )
    ).select(
        F.col("key"),
        F.when(F.col("_isk"), F.col("counter") - F.col("_C"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("counter"),
        F.col("_n").alias("n_total"),
        (F.col("_e0") + F.col("_C")).cast("long").alias("err"),
    )
    return out.localCheckpoint(eager=True) if eager else out


def mg_oracle_sql(
    source_cte: str,
    key_expr: str,
    shard_expr: str,
    n_shards: int,
    m: int,
) -> str:
    """DuckDB replay of a deterministic shard-and-merge-tree MG run:
    per-shard summaries via QUALIFY windows, merges as chained CTEs —
    the same exact integers, a deliberately different formulation
    (window ranks instead of limit + struct plumbing).

    Metadata (n_total, err) rides dedicated ALWAYS-1-ROW ``meta{s}`` /
    ``mt{s}`` CTEs (scalar subqueries with COALESCE(...,0)) — the
    pattern ``quantiles.quantile_oracle_sql`` uses — NOT ``SELECT
    DISTINCT`` over the key-rows CTEs: an empty shard or a
    fully-cancelled merge has ZERO key rows, and DISTINCT over an empty
    relation yields NULL metadata where the Spark fold (anchor rows,
    see ``_mg_anchor``) correctly preserves real totals."""
    parts = [
        f"src AS ({source_cte})",
        f"keyed AS (SELECT {key_expr} AS key, {shard_expr} AS shard FROM src)",
    ]
    for s in range(n_shards):
        parts.append(
            f"""cnt{s} AS MATERIALIZED (
                SELECT key, CAST(COUNT(*) AS BIGINT) AS counter,
                       ROW_NUMBER() OVER (
                           ORDER BY COUNT(*) DESC, key ASC) AS rn
                FROM keyed WHERE shard = {s} GROUP BY key)"""
        )
        parts.append(
            f"""meta{s} AS MATERIALIZED (
                SELECT (SELECT CAST(COALESCE(SUM(counter), 0) AS BIGINT)
                        FROM cnt{s}) AS n_total,
                       (SELECT CAST(COALESCE(MAX(counter), 0) AS BIGINT)
                        FROM cnt{s} WHERE rn = {m + 1}) AS err)"""
        )
        parts.append(
            f"""s{s} AS MATERIALIZED (
                SELECT key, counter FROM cnt{s} WHERE rn <= {m})"""
        )
    # left-fold merge tree: t1 = merge(s0, s1), t2 = merge(t1, s2), ...
    prev, mprev = "s0", "meta0"
    for s in range(1, n_shards):
        parts.append(
            f"""u{s} AS MATERIALIZED (
                SELECT COALESCE(a.key, b.key) AS key,
                       COALESCE(a.counter, 0) + COALESCE(b.counter, 0)
                           AS counter,
                       ROW_NUMBER() OVER (
                           ORDER BY COALESCE(a.counter, 0)
                                  + COALESCE(b.counter, 0) DESC,
                                    COALESCE(a.key, b.key) ASC) AS rn
                FROM {prev} a FULL OUTER JOIN s{s} b ON a.key = b.key)"""
        )
        parts.append(
            f"""mt{s} AS MATERIALIZED (
                SELECT a.n_total + b.n_total AS n_total,
                       a.err + b.err
                           + (SELECT COALESCE(MAX(counter), 0)
                              FROM u{s} WHERE rn = {m + 1}) AS err
                FROM {mprev} a, meta{s} b)"""
        )
        parts.append(
            f"""t{s} AS MATERIALIZED (
                SELECT key,
                       counter - (SELECT COALESCE(MAX(counter), 0)
                                  FROM u{s} WHERE rn = {m + 1}) AS counter
                FROM u{s}
                WHERE rn <= {m}
                  AND counter - (SELECT COALESCE(MAX(counter), 0)
                                 FROM u{s} WHERE rn = {m + 1}) > 0)"""
        )
        prev, mprev = f"t{s}", f"mt{s}"
    # the anchor row (key NULL, counter 0) the Spark faces carry
    # unconditionally; key rows and metadata recombine only here
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT key, counter,
               (SELECT n_total FROM {mprev}) AS n_total,
               (SELECT err FROM {mprev}) AS err
        FROM {prev}
        UNION ALL
        SELECT NULL AS key, CAST(0 AS BIGINT) AS counter,
               (SELECT n_total FROM {mprev}) AS n_total,
               (SELECT err FROM {mprev}) AS err"""
    )


def mg_summary_grouped(
    df: DataFrame, key_col: str, m: int, group_cols: list[str]
) -> DataFrame:
    """Per-GROUP Misra-Gries summaries — one bounded m-row summary per
    (domain, language, shard, ...) group, the per-stratum heavy-hitter
    state a mixture pipeline actually wants ("top boilerplate phrases
    PER domain", "top tokens PER language").

    Same validity contract and anchor representation as
    :func:`mg_summary`, held independently within each group (one
    ``key NULL, counter 0`` metadata anchor row per group).  Unlike
    the global face there are no 1-row broadcast relations in the
    plan: counts, ranks, the (m+1)-th-largest err, the per-group
    totals AND the anchors are all keyed by the group columns — every
    join is a group-key equi-join and the per-group top-(m+1) rank
    filter is SPARK-37099 shuffle-capped, so a skewed group costs what
    any skewed aggregation costs (AQE-splittable), never a global
    sort.

    Output: (*group_cols, key, counter, n_total, err).
    """
    if m < 1:
        raise ValueError("m must be >= 1")
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use mg_summary)")
    from pyspark.sql import Window

    g = [F.col(c) for c in group_cols]
    counts = df.groupBy(*g, F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("counter")
    )
    n_tot = counts.groupBy(*group_cols).agg(
        F.sum("counter").cast("long").alias("n_total")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("counter"), F.asc("key")
    )
    ranked = counts.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= m + 1
    )
    errs = (
        ranked.filter(F.col("_rn") == m + 1)
        .groupBy(*group_cols)
        .agg(F.max("counter").cast("long").alias("err"))
    )
    meta = n_tot.join(errs, group_cols, "left").select(
        *group_cols,
        "n_total",
        F.coalesce(F.col("err"), F.lit(0).cast("long")).alias("err"),
    )
    body = (
        ranked.filter(F.col("_rn") <= m)
        .join(meta, group_cols)
        .select(*group_cols, "key", "counter", "n_total", "err")
    )
    return body.unionByName(
        meta.select(
            *group_cols,
            F.lit(None).cast(df.schema[key_col].dataType).alias("key"),
            F.lit(0).cast("long").alias("counter"),
            "n_total",
            "err",
        )
    )


def mg_merge_grouped(
    a: DataFrame, b: DataFrame, m: int, group_cols: list[str]
) -> DataFrame:
    """Per-group fold of two grouped summaries (disjoint sub-streams):
    the PODS'12 merge applied independently within each group — a
    group present on one side only passes through unchanged (its other
    sub-stream contributed nothing).  All joins keyed by the group
    columns; no global state.

    LAZY, unlike :func:`mg_merge` (the result is state-sized — m rows
    per group — not m rows, so eager materialization is the caller's
    call).

    SINGLE-REFERENCE formulation (r12, the template :func:`mg_merge`
    shipped in r11): each input enters the plan exactly once — both
    sides' per-group (n_total, err) ride a side-tagged union through
    ONE group-partitioned window (instead of per-side DISTINCT
    projections full-outer-joined back), key rows sum per (group, key)
    with the anchor group kept apart by the counter-0 flag, and the
    per-group (m+1)-th-largest C comes from a second bounded window
    over the ranked rows (instead of a separately aggregated relation
    joined back).  With one reference per input a LAZY left fold's
    plan grows LINEARLY in fold depth — the old two-reference shape
    duplicated each fold level's subtree into the next (Catalyst plans
    are trees), which is why its docstring demanded checkpoints past a
    few levels.  Values are identical: same per-group counter sums,
    the same (desc counter, asc key) rank order for C, same metadata
    arithmetic, same unconditional per-group anchors (a group exists
    iff it has rows, so no seed is needed).  One deliberate alignment,
    inherited from the global rewrite: two genuine NULL-key rows of
    the same group now SUM like any equal key (the old full-outer join
    kept them apart); unreachable from ``mg_summary_grouped`` output,
    whose GROUP BY already merged NULL keys."""
    if m < 1:
        raise ValueError("m must be >= 1")
    cols = [*group_cols, "key", "counter", "n_total", "err"]
    if a.columns != cols or b.columns != cols:
        raise ValueError(f"expected grouped MG summaries with columns {cols}")
    from pyspark.sql import Window

    un = a.withColumn("_side", F.lit(0)).unionByName(
        b.withColumn("_side", F.lit(1))
    )
    # ONE group-partitioned window attaches both sides' (n_total, err)
    # to every row of the group; max-per-side recovers each side's
    # metadata (0 for a side the group is absent from — exactly the
    # old full-outer join's coalesce).
    w_g = Window.partitionBy(*group_cols)
    _side_max = lambda side, col: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("_side") == side, F.col(col))).over(w_g),
        F.lit(0),
    ).cast("long")
    st = un.select(
        *group_cols,
        "key",
        "counter",
        (F.col("counter") > 0).alias("_isk"),  # anchors are counter 0
        (_side_max(0, "n_total") + _side_max(1, "n_total")).alias("_n"),
        (_side_max(0, "err") + _side_max(1, "err")).alias("_e0"),
    )
    # key rows sum per (group, key); each group's anchor rows (key
    # NULL, _isk false) collapse to ONE row kept apart from any genuine
    # NULL key row by the _isk flag.
    comb = st.groupBy(*group_cols, "key", "_isk").agg(
        F.sum("counter").cast("long").alias("counter"),
        F.max("_n").alias("_n"),
        F.max("_e0").alias("_e0"),
    )
    # rank key rows per group exactly as before — (desc counter, asc
    # key); the anchor row sorts last (counter 0 < any key counter)
    # and is excluded from the C selection by _isk.
    w_rank = Window.partitionBy(*group_cols).orderBy(
        F.desc("_isk"), F.desc("counter"), F.asc("key")
    )
    ranked = comb.withColumn("_rn", F.row_number().over(w_rank))
    with_c = ranked.withColumn(
        "_C",
        F.coalesce(
            F.max(
                F.when(
                    (F.col("_rn") == m + 1) & F.col("_isk"),
                    F.col("counter"),
                )
            ).over(w_g),
            F.lit(0),
        ).cast("long"),
    )
    # a fully-cancelled GROUP (every merged counter == that group's
    # (m+1)-th largest) drops every key row yet keeps n_total/err —
    # the unconditional per-group anchor carries them.
    return with_c.filter(
        (~F.col("_isk"))
        | (
            (F.col("_rn") <= m)
            & (F.col("counter") - F.col("_C") > F.lit(0))
        )
    ).select(
        *group_cols,
        F.col("key"),
        F.when(F.col("_isk"), F.col("counter") - F.col("_C"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("counter"),
        F.col("_n").alias("n_total"),
        (F.col("_e0") + F.col("_C")).cast("long").alias("err"),
    )
