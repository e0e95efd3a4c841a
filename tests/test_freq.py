"""Count-min sketch: one-sided error (never underestimates), exactness
on sparse keys, merge associativity (two batches == single pass),
weighted build, mixed-geometry rejection, and collision behavior under
a deliberately tiny width."""

import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators import freq as FQ

DEPTH, WIDTH, SHARDS = 4, 1 << 14, 8


@pytest.fixture(scope="module")
def skewed(spark):
    # token-i appears i times, i in 1..100 (5050 rows total)
    rows = spark.range(1, 101).select(
        F.concat(F.lit("tok-"), F.col("id")).alias("k"),
        F.col("id").alias("w"),
    )
    stream = rows.select(
        "k", F.explode(F.sequence(F.lit(1), F.col("w"))).alias("_i")
    ).select("k")
    stream.cache().count()
    return rows, stream


def test_never_underestimates_and_totals(spark, skewed):
    rows, stream = skewed
    sk = FQ.cms_build(stream, "k", depth=DEPTH, width=WIDTH,
                      num_shards=SHARDS)
    sk.cache()
    assert sk.count() == 1
    assert sk.first()["n_total"] == 5050
    est = FQ.cms_estimate(
        rows.select("k", F.col("w").alias("exact")), "k", sk
    )
    assert est.filter(F.col("n_est") < F.col("exact")).count() == 0
    # at 2^14 cells for 100 keys, collisions are overwhelmingly absent:
    # the estimate is exact
    assert est.filter(F.col("n_est") != F.col("exact")).count() == 0


def test_weighted_build_equals_exploded_build(spark, skewed):
    rows, stream = skewed
    a = FQ.cms_build(rows, "k", weight_col="w", depth=DEPTH, width=WIDTH,
                     num_shards=SHARDS).first()
    b = FQ.cms_build(stream, "k", depth=DEPTH, width=WIDTH,
                     num_shards=SHARDS).first()
    assert a["counters"] == b["counters"] and a["n_total"] == b["n_total"]


def test_merge_equals_single_pass(spark, skewed):
    rows, stream = skewed
    whole = FQ.cms_build(stream, "k", depth=DEPTH, width=WIDTH,
                         num_shards=SHARDS).first()
    lo = FQ.cms_build(stream.filter(F.col("k") <= "tok-5"), "k",
                      depth=DEPTH, width=WIDTH, num_shards=SHARDS)
    hi = FQ.cms_build(stream.filter(F.col("k") > "tok-5"), "k",
                      depth=DEPTH, width=WIDTH, num_shards=SHARDS)
    merged = FQ.cms_merge(lo.unionByName(hi)).first()
    assert merged["counters"] == whole["counters"]
    assert merged["n_total"] == whole["n_total"]


def test_merge_rejects_mixed_geometry(spark, skewed):
    rows, stream = skewed
    a = FQ.cms_build(stream, "k", depth=DEPTH, width=WIDTH,
                     num_shards=SHARDS)
    b = FQ.cms_build(stream, "k", depth=DEPTH, width=WIDTH * 2,
                     num_shards=SHARDS)
    with pytest.raises(Exception, match="mixed depth/width"):
        FQ.cms_merge(a.unionByName(b)).collect()


def test_sketch_table_survives_parquet_roundtrip(spark, skewed, tmp_path):
    """Durability: parquet round-trip + merge with a fresh batch gives
    the same counters as sketching the union in one pass."""
    rows, stream = skewed
    lo = stream.filter(F.col("k") <= "tok-5")
    hi = stream.filter(F.col("k") > "tok-5")
    store = str(tmp_path / "cms_store")
    FQ.cms_build(lo, "k", depth=DEPTH, width=WIDTH,
                 num_shards=SHARDS).write.parquet(store)
    refreshed = FQ.cms_merge(
        spark.read.parquet(store).unionByName(
            FQ.cms_build(hi, "k", depth=DEPTH, width=WIDTH,
                         num_shards=SHARDS)
        )
    ).first()
    whole = FQ.cms_build(stream, "k", depth=DEPTH, width=WIDTH,
                         num_shards=SHARDS).first()
    assert refreshed["counters"] == whole["counters"]
    assert refreshed["n_total"] == whole["n_total"]


def test_tiny_width_collides_but_stays_one_sided(spark, skewed):
    rows, stream = skewed
    sk = FQ.cms_build(stream, "k", depth=2, width=16, num_shards=SHARDS)
    est = FQ.cms_estimate(
        rows.select("k", F.col("w").alias("exact")), "k", sk
    )
    est.cache()
    # collisions must inflate, never deflate
    assert est.filter(F.col("n_est") < F.col("exact")).count() == 0
    assert est.filter(F.col("n_est") > F.col("exact")).count() > 0


# --------------------------------------------------------------------------
# Misra-Gries mergeable heavy hitters
# --------------------------------------------------------------------------

def _mg_truth(keys):
    from collections import Counter

    return Counter(keys), len(keys)


def _zipf_keys(seed, n=2500, kmax=35):
    import random as _random

    rnd = _random.Random(seed)
    return [f"k{min(int(rnd.paretovariate(1.0)), kmax)}" for _ in range(n)]


def test_mg_validity_and_guarantee_laws(spark):
    """For every key of the stream: counter <= true, true - counter <=
    err (counter 0 if absent) — so any key with true > err is present.
    Checked after a 4-way shard + balanced merge tree."""
    from subgraph_extractor_spark.operators import freq as FQ

    keys = _zipf_keys(3)
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "i long, key string"
    )
    m = 8
    shards = [
        FQ.mg_summary(
            df.filter(F.col("i") % 4 == s).select(F.col("key").alias("t")),
            "t", m,
        )
        for s in range(4)
    ]
    merged = FQ.mg_merge(
        FQ.mg_merge(shards[0], shards[1], m),
        FQ.mg_merge(shards[2], shards[3], m),
        m,
    )
    rows = merged.collect()
    true, n = _mg_truth(keys)
    assert rows
    err = rows[0]["err"]
    present = set()
    for r in rows:
        assert r["n_total"] == n
        assert r["counter"] <= true[r["key"]]
        assert true[r["key"]] - r["counter"] <= r["err"]
        present.add(r["key"])
    # err stays within the theoretical budget Σ n_shard/(m+1) rounded
    assert err <= n // (m + 1) * 2 + 4
    for k, t in true.items():
        if t > err:
            assert k in present, (k, t, err)


def test_mg_oracle_replay_matches_spark(spark):
    """The whole shard-and-left-fold tree is a pure function of the
    data — DuckDB's QUALIFY-window replay must equal Spark row-for-row
    (counters, n_total AND err)."""
    import duckdb

    from subgraph_extractor_spark.operators import freq as FQ

    keys = _zipf_keys(7, n=1200)
    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "i long, key string")
    m = 6
    out = None
    for s in range(3):
        summ = FQ.mg_summary(
            df.filter(F.col("i") % 3 == s).select(F.col("key").alias("t")),
            "t", m,
        )
        out = summ if out is None else FQ.mg_merge(out, summ, m)
    vals = ",".join(f"({i},'{k}')" for i, k in rows)
    sql = FQ.mg_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(i, key)", "key", "i % 3", 3, m
    )
    assert sorted(duckdb.sql(sql).fetchall(), key=str) == sorted(
        map(tuple, out.collect()), key=str
    )


def test_mg_oracle_replay_empty_shard_and_cancelled_merge(spark):
    """The r9-ADVICE divergence class: the oracle's metadata must ride
    ALWAYS-1-ROW CTEs, so an EMPTY shard and a FULLY-CANCELLED merge
    (zero key rows survive) still replay the Spark fold's real
    (n_total, err) — not NULLs from DISTINCT-over-empty."""
    import duckdb

    from subgraph_extractor_spark.operators import freq as FQ

    # shard 1 is empty: every row lands in shard 0 or 2
    rows = [(i, k) for i, k in enumerate(["a"] * 5 + ["b"] * 3 + ["c"] * 2)]
    df = spark.createDataFrame(rows, "i long, key string")
    m = 2
    out = None
    for s in range(3):
        summ = FQ.mg_summary(
            df.filter((F.col("i") % 2) * 2 == s).select(
                F.col("key").alias("t")
            ),
            "t", m,
        )
        out = summ if out is None else FQ.mg_merge(out, summ, m)
    vals = ",".join(f"({i},'{k}')" for i, k in rows)
    sql = FQ.mg_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(i, key)",
        "key", "(i % 2) * 2", 3, m,
    )
    spark_rows = sorted(map(tuple, out.collect()), key=str)
    assert sorted(duckdb.sql(sql).fetchall(), key=str) == spark_rows
    # the metadata survived the empty shard: real totals, not NULL
    assert all(r[2] == 10 for r in spark_rows)

    # m=1 over two disjoint equal-count shards: the merge cancels every
    # key row; only the anchor survives, carrying (n_total=4, err=2)
    rows2 = [(0, "a"), (1, "b"), (2, "a"), (3, "b")]
    df2 = spark.createDataFrame(rows2, "i long, key string")
    out2 = FQ.mg_merge(
        FQ.mg_summary(
            df2.filter("i % 2 = 0").select(F.col("key").alias("t")), "t", 1
        ),
        FQ.mg_summary(
            df2.filter("i % 2 = 1").select(F.col("key").alias("t")), "t", 1
        ),
        1,
    )
    vals2 = ",".join(f"({i},'{k}')" for i, k in rows2)
    sql2 = FQ.mg_oracle_sql(
        f"SELECT * FROM (VALUES {vals2}) AS t(i, key)", "key", "i % 2", 2, 1
    )
    assert sorted(duckdb.sql(sql2).fetchall(), key=str) == sorted(
        map(tuple, out2.collect()), key=str
    ) == [(None, 0, 4, 2)]


def test_mg_single_shard_is_exact_topm(spark):
    """A summary of a stream with <= m distinct keys carries the exact
    counts with err 0; with > m keys, err = the largest pruned count."""
    from subgraph_extractor_spark.operators import freq as FQ

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 2], "key string"
    )
    full = {tuple(r) for r in FQ.mg_summary(df, "key", 3).collect()}
    assert full == {
        ("a", 5, 10, 0), ("b", 3, 10, 0), ("c", 2, 10, 0),
        (None, 0, 10, 0),  # unconditional metadata anchor
    }
    pruned = {tuple(r) for r in FQ.mg_summary(df, "key", 2).collect()}
    assert pruned == {("a", 5, 10, 2), ("b", 3, 10, 2), (None, 0, 10, 2)}


def test_mg_merge_is_deterministic_and_bounded(spark):
    """Merging m-row summaries yields <= m rows and identical output
    regardless of input partitioning."""
    from subgraph_extractor_spark.operators import freq as FQ

    keys = _zipf_keys(11, n=800)
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "i long, key string"
    )
    m = 5
    a = FQ.mg_summary(
        df.filter("i % 2 = 0").select(F.col("key").alias("t")), "t", m
    )
    b = FQ.mg_summary(
        df.filter("i % 2 = 1").repartition(7).select(F.col("key").alias("t")),
        "t", m,
    )
    r1 = sorted(map(tuple, FQ.mg_merge(a, b, m).collect()), key=str)
    r2 = sorted(map(tuple, FQ.mg_merge(a, b, m).collect()), key=str)
    assert r1 == r2
    assert len(r1) <= m + 1  # <= m key rows + the metadata anchor


def test_mg_lazy_fold_equals_eager_fold(spark):
    """The r11 single-reference merge: a fully LAZY left fold
    (eager=False, one job at materialization) must produce exactly the
    eager checkpoint-per-fold result — including the degenerate
    classes (empty substream, fully-cancelled merge, zero-row legacy
    side) — and over two zero-row legacy relations the merge must
    still yield the identity anchor, as the old 1-row-aggregate
    encoding did."""
    keys = _zipf_keys(23, n=900)
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "i long, key string"
    )
    m = 5
    # shard 2 empty: (i % 3) * 3 is never 2; shard layout mixes real
    # and empty substreams through the fold
    shards = [
        FQ.mg_summary(
            df.filter((F.col("i") % 3) * 3 == s).select(
                F.col("key").alias("t")
            ),
            "t", m,
        )
        for s in range(4)
    ]
    lazy = eager = None
    for s in shards:
        lazy = s if lazy is None else FQ.mg_merge(lazy, s, m, eager=False)
        eager = s if eager is None else FQ.mg_merge(eager, s, m)
    assert sorted(map(tuple, lazy.collect()), key=str) == sorted(
        map(tuple, eager.collect()), key=str
    )
    # fully-cancelled lazy merge keeps the anchor metadata
    a = FQ.mg_summary(
        spark.createDataFrame([("x",)] * 5, "key string"), "key", 1
    )
    b = FQ.mg_summary(
        spark.createDataFrame([("y",)] * 5, "key string"), "key", 1
    )
    assert [
        tuple(r) for r in FQ.mg_merge(a, b, 1, eager=False).collect()
    ] == [(None, 0, 10, 5)]
    # both sides zero-row legacy relations -> the identity anchor
    legacy = spark.createDataFrame(
        [], "key string, counter long, n_total long, err long"
    )
    assert [
        tuple(r) for r in FQ.mg_merge(legacy, legacy, 3).collect()
    ] == [(None, 0, 0, 0)]


def test_mg_validation(spark):
    from subgraph_extractor_spark.operators import freq as FQ

    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError):
        FQ.mg_summary(df, "key", 0)
    s = FQ.mg_summary(df, "key", 2)
    with pytest.raises(ValueError):
        FQ.mg_merge(s.drop("err"), s, 2)
    with pytest.raises(ValueError):
        FQ.mg_merge(s, s, 0)


def test_mg_empty_input_is_anchor_identity(spark):
    """mg_summary of an empty batch is the algebra's identity element —
    ONE anchor row (NULL, 0, 0, 0), never zero rows — and merging it on
    either side leaves a real summary unchanged.  (r8-advice bug: the
    old rows-carry-metadata encoding crossJoined 1-row metadata
    relations, so a zero-row side wiped BOTH sides' state — via the
    since-removed streaming sink, permanent data loss on any empty
    micro-batch.)"""
    empty = spark.createDataFrame([], "key string")
    e = FQ.mg_summary(empty, "key", 3)
    assert [tuple(r) for r in e.collect()] == [(None, 0, 0, 0)]
    df = spark.createDataFrame([("x",)] * 4 + [("y",)] * 2, "key string")
    s = FQ.mg_summary(df, "key", 3)
    expected = sorted(map(tuple, s.collect()), key=str)
    assert sorted(map(tuple, FQ.mg_merge(s, e, 3).collect()), key=str) == expected
    assert sorted(map(tuple, FQ.mg_merge(e, s, 3).collect()), key=str) == expected
    # a zero-row relation with the right columns (the legacy encoding
    # of "empty") also folds as identity instead of wiping the state
    legacy = spark.createDataFrame(
        [], "key string, counter long, n_total long, err long"
    )
    assert sorted(map(tuple, FQ.mg_merge(s, legacy, 3).collect()), key=str) == expected


def test_mg_fully_cancelled_merge_keeps_metadata(spark):
    """m=1 over two disjoint equal-count summaries cancels every key
    row (counter - C == 0 for all); the anchor must keep (n_total,
    err) so the validity law survives further folds."""
    a = FQ.mg_summary(
        spark.createDataFrame([("x",)] * 5, "key string"), "key", 1
    )
    b = FQ.mg_summary(
        spark.createDataFrame([("y",)] * 5, "key string"), "key", 1
    )
    ab = FQ.mg_merge(a, b, 1)
    assert [tuple(r) for r in ab.collect()] == [(None, 0, 10, 5)]
    # fold a third summary in: validity must hold vs the 15-row union
    c = FQ.mg_summary(
        spark.createDataFrame(
            [("z",)] * 4 + [("x",)], "key string"
        ),
        "key", 1,
    )
    final = {r["key"]: r for r in FQ.mg_merge(ab, c, 1).collect()}
    true = {"x": 6, "y": 5, "z": 4}
    any_row = next(iter(final.values()))
    assert any_row["n_total"] == 15
    err = any_row["err"]
    for k, t in true.items():
        got = final[k]["counter"] if k in final else 0
        assert got <= t and t - got <= err, (k, t, got, err)


def test_mg_grouped_fully_cancelled_group_keeps_metadata(spark):
    """A group whose merged counters fully cancel keeps its (n_total,
    err) via a per-group anchor row instead of vanishing — the same
    metadata-wipe class as the global merge, at group granularity."""
    a = FQ.mg_summary_grouped(
        spark.createDataFrame(
            [("g", "x")] * 5 + [("h", "p")] * 3, "grp string, key string"
        ),
        "key", 1, ["grp"],
    )
    b = FQ.mg_summary_grouped(
        spark.createDataFrame([("g", "y")] * 5, "grp string, key string"),
        "key", 1, ["grp"],
    )
    merged = FQ.mg_merge_grouped(a, b, 1, ["grp"])
    rows = {
        (r["grp"], r["key"]): (r["counter"], r["n_total"], r["err"])
        for r in merged.collect()
    }
    assert rows == {
        ("g", None): (0, 10, 5),  # fully-cancelled group: anchor only
        ("h", "p"): (3, 3, 0),
        ("h", None): (0, 3, 0),
    }
    # anchors fold correctly through a further per-group merge
    c = FQ.mg_summary_grouped(
        spark.createDataFrame([("g", "z")] * 4, "grp string, key string"),
        "key", 1, ["grp"],
    )
    final = {
        (r["grp"], r["key"]): (r["counter"], r["n_total"], r["err"])
        for r in FQ.mg_merge_grouped(merged, c, 1, ["grp"]).collect()
    }
    assert final == {
        ("g", "z"): (4, 14, 5),
        ("g", None): (0, 14, 5),
        ("h", "p"): (3, 3, 0),
        ("h", None): (0, 3, 0),
    }


def test_mg_spark_fold_matches_model_with_degenerate_substreams(spark):
    """The Spark faces fold exactly like the pure state algebra, over
    chains that include EMPTY substreams and full cancellations — the
    input class the r8 hypothesis model could not reach because it
    carries (n, err) out-of-band as a tuple."""
    from collections import Counter

    def build(stream, m):
        counts = Counter(stream)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        err = ranked[m][1] if len(ranked) > m else 0
        return dict(ranked[:m]), len(stream), err

    def merge(a, b, m):
        ca, na, ea = a
        cb, nb, eb = b
        summed = Counter(ca) + Counter(cb)
        ranked = sorted(summed.items(), key=lambda kv: (-kv[1], kv[0]))
        C = ranked[m][1] if len(ranked) > m else 0
        kept = {k: c - C for k, c in ranked[:m] if c - C > 0}
        return kept, na + nb, ea + eb + C

    cases = [
        ([[], ["x"] * 3 + ["y"], []], 2),
        ([["x"] * 5, ["y"] * 5, ["z"] * 4 + ["x"]], 1),
        ([[], [], []], 3),
        ([["a", "b", "c", "a"], [], ["b"] * 3, ["d", "d", "a"]], 2),
    ]
    for substreams, m in cases:
        state_df, state_py = None, None
        for s in substreams:
            df = (
                spark.createDataFrame([(k,) for k in s], "key string")
                if s
                else spark.createDataFrame([], "key string")
            )
            summ = FQ.mg_summary(df, "key", m)
            built = build(s, m)
            if state_df is None:
                state_df, state_py = summ, built
            else:
                state_df = FQ.mg_merge(state_df, summ, m)
                state_py = merge(state_py, built, m)
        counters, n, err = state_py
        rows = state_df.collect()
        exp = [(k, c, n, err) for k, c in counters.items()] + [
            (None, 0, n, err)  # the unconditional metadata anchor
        ]
        assert sorted(map(tuple, rows), key=str) == sorted(
            exp, key=str
        ), (substreams, m)


def test_mg_grouped_validity_per_group(spark):
    """Each group's summary independently satisfies the validity and
    guarantee laws, after a per-group merge of two sub-streams."""
    import random as _random
    from collections import Counter

    rnd = _random.Random(31)
    rows = []
    for i in range(3000):
        lang = rnd.choice(["en", "zh", "es"])
        k = f"{lang}-k{min(int(rnd.paretovariate(1.0)), 25)}"
        rows.append((i, lang, k))
    df = spark.createDataFrame(rows, "i long, lang string, key string")
    m = 5
    a = FQ.mg_summary_grouped(
        df.filter("i % 2 = 0").select("lang", "key"), "key", m, ["lang"]
    )
    b = FQ.mg_summary_grouped(
        df.filter("i % 2 = 1").select("lang", "key"), "key", m, ["lang"]
    )
    merged = FQ.mg_merge_grouped(a, b, m, ["lang"])
    true = {}
    n_by_lang = Counter()
    for _, lang, k in rows:
        true[(lang, k)] = true.get((lang, k), 0) + 1
        n_by_lang[lang] += 1
    by_lang = {}
    for r in merged.collect():
        assert r["n_total"] == n_by_lang[r["lang"]]
        # per-group anchors (key None) count 0 against a true freq of 0
        t = true.get((r["lang"], r["key"]), 0)
        assert r["counter"] <= t
        assert t - r["counter"] <= r["err"]
        by_lang.setdefault(r["lang"], (set(), r["err"]))[0].add(r["key"])
    for (lang, k), t in true.items():
        present, err = by_lang[lang]
        if t > err:
            assert k in present, (lang, k, t, err)


def test_mg_grouped_equals_global_per_group(spark):
    """A grouped summary restricted to one group == the global summary
    of that group's rows (same build rule and anchor representation,
    group-keyed instead of 1-row-broadcast)."""
    keys = _zipf_keys(41, n=900)
    rows = [(i, "g0" if i % 3 else "g1", k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "i long, grp string, key string")
    m = 6
    grouped = FQ.mg_summary_grouped(
        df.select("grp", "key"), "key", m, ["grp"]
    )
    for grp in ("g0", "g1"):
        got = sorted(
            (
                (r["key"], r["counter"], r["n_total"], r["err"])
                for r in grouped.filter(F.col("grp") == grp).collect()
            ),
            key=str,
        )
        exp = sorted(
            map(tuple, FQ.mg_summary(
                df.filter(F.col("grp") == grp).select("key"), "key", m
            ).collect()),
            key=str,
        )
        assert got == exp, grp


def test_mg_grouped_one_sided_group_passthrough(spark):
    """A group present in only one input passes through the merge
    unchanged."""
    a = FQ.mg_summary_grouped(
        spark.createDataFrame(
            [("g0", "x")] * 4 + [("g0", "y")], "grp string, key string"
        ),
        "key", 2, ["grp"],
    )
    b = FQ.mg_summary_grouped(
        spark.createDataFrame([("g1", "z")] * 3, "grp string, key string"),
        "key", 2, ["grp"],
    )
    merged = {
        (r["grp"], r["key"]): (r["counter"], r["n_total"], r["err"])
        for r in FQ.mg_merge_grouped(a, b, 2, ["grp"]).collect()
    }
    assert merged == {
        ("g0", "x"): (4, 5, 0),
        ("g0", "y"): (1, 5, 0),
        ("g0", None): (0, 5, 0),
        ("g1", "z"): (3, 3, 0),
        ("g1", None): (0, 3, 0),
    }


def test_mg_grouped_topm_shuffle_is_rank_limit_capped(spark):
    """The per-group top-(m+1) rank filter runs below the group
    exchange (a mega-group's counts never all shuffle)."""
    df = spark.createDataFrame(
        [("g", f"k{i % 7}") for i in range(50)], "grp string, key string"
    )
    out = FQ.mg_summary_grouped(df, "key", 3, ["grp"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    part = [i for i, l in enumerate(lines)
            if "WindowGroupLimit" in l and "Partial" in l]
    exch = [i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(grp" in l]
    assert part and exch, plan
    assert min(part) > min(exch), plan


def test_mg_grouped_validation(spark):
    df = spark.createDataFrame([("g", "a")], "grp string, key string")
    with pytest.raises(ValueError):
        FQ.mg_summary_grouped(df, "key", 2, [])
    with pytest.raises(ValueError):
        FQ.mg_summary_grouped(df, "key", 0, ["grp"])
    s = FQ.mg_summary_grouped(df, "key", 2, ["grp"])
    with pytest.raises(ValueError):
        FQ.mg_merge_grouped(s.drop("err"), s, 2, ["grp"])


def test_mg_state_algebra_property():
    """The Misra-Gries state algebra the Spark faces implement, checked
    directly (pure python, hypothesis): over ANY random stream split
    into ANY number of sub-streams folded left, the validity invariant
    holds — counter <= true and true - counter <= err for EVERY key
    (absents counting 0) — and the summary never exceeds m rows."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def build(stream, m):
        counts = Counter(stream)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        err = ranked[m][1] if len(ranked) > m else 0
        return dict(ranked[:m]), len(stream), err

    def merge(a, b, m):
        ca, na, ea = a
        cb, nb, eb = b
        summed = Counter(ca) + Counter(cb)
        ranked = sorted(summed.items(), key=lambda kv: (-kv[1], kv[0]))
        C = ranked[m][1] if len(ranked) > m else 0
        kept = {k: c - C for k, c in ranked[:m] if c - C > 0}
        return kept, na + nb, ea + eb + C

    @given(
        st.lists(
            st.lists(st.integers(0, 12), min_size=0, max_size=60),
            min_size=1,
            max_size=5,
        ),
        st.integers(1, 6),
    )
    @settings(max_examples=500, deadline=None)
    def check(substreams, m):
        state = build(substreams[0], m)
        for s in substreams[1:]:
            state = merge(state, build(s, m), m)
        counters, n, err = state
        true = Counter(k for s in substreams for k in s)
        assert n == sum(true.values())
        assert len(counters) <= m
        for k in set(true) | set(counters):
            c = counters.get(k, 0)
            assert c <= true[k]
            assert true[k] - c <= err
        # pigeonhole budget: err never exceeds n/(m+1) summed per fold
        assert err <= n  # sanity; the sharp bound is checked via laws

    check()


def test_mg_row_encoding_algebra_property():
    """Hypothesis over the ROW-LEVEL encoding the Spark faces use —
    key rows (counter >= 1) plus ONE unconditional (None, 0, n, err)
    metadata anchor — against the abstract (counters, n, err) algebra,
    over random stream splits INCLUDING empty substreams.  This is the
    input/encoding class the r8 model could not reach (it carried
    metadata out-of-band as a tuple), which is exactly how the
    metadata-wipe bug shipped: the encoding, not the algebra, was
    wrong."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    # abstract algebra (same as test_mg_state_algebra_property)
    def build(stream, m):
        counts = Counter(stream)
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        err = ranked[m][1] if len(ranked) > m else 0
        return dict(ranked[:m]), len(stream), err

    def merge(a, b, m):
        ca, na, ea = a
        cb, nb, eb = b
        summed = Counter(ca) + Counter(cb)
        ranked = sorted(summed.items(), key=lambda kv: (-kv[1], kv[0]))
        C = ranked[m][1] if len(ranked) > m else 0
        kept = {k: c - C for k, c in ranked[:m] if c - C > 0}
        return kept, na + nb, ea + eb + C

    # row-level encoding: mirrors freq.mg_summary / mg_merge exactly
    def rows_build(stream, m):
        counters, n, err = build(stream, m)
        return [(k, c, n, err) for k, c in counters.items()] + [
            (None, 0, n, err)
        ]

    def rows_merge(a_rows, b_rows, m):
        # metadata via a TOTAL 1-row aggregate (max; 0 on zero rows)
        na = max((r[2] for r in a_rows), default=0)
        ea = max((r[3] for r in a_rows), default=0)
        nb = max((r[2] for r in b_rows), default=0)
        eb = max((r[3] for r in b_rows), default=0)
        summed = Counter()
        for k, c, *_ in a_rows:
            if c > 0:
                summed[k] += c
        for k, c, *_ in b_rows:
            if c > 0:
                summed[k] += c
        ranked = sorted(summed.items(), key=lambda kv: (-kv[1], kv[0]))
        C = ranked[m][1] if len(ranked) > m else 0
        n, err = na + nb, ea + eb + C
        body = [
            (k, c - C, n, err) for k, c in ranked[:m] if c - C > 0
        ]
        return body + [(None, 0, n, err)]

    @given(
        st.lists(
            st.lists(st.integers(0, 12), min_size=0, max_size=60),
            min_size=1,
            max_size=5,
        ),
        st.integers(1, 6),
    )
    @settings(max_examples=500, deadline=None)
    def check(substreams, m):
        abstract = build(substreams[0], m)
        rows = rows_build(substreams[0], m)
        for s in substreams[1:]:
            abstract = merge(abstract, build(s, m), m)
            rows = rows_merge(rows, rows_build(s, m), m)
        counters, n, err = abstract
        exp = sorted(
            [(k, c, n, err) for k, c in counters.items()]
            + [(None, 0, n, err)],
            key=str,
        )
        assert sorted(rows, key=str) == exp
        # the encoding alone must reconstruct the metadata — the law
        # the old rows-carry-metadata encoding broke on empty key sets
        assert max((r[2] for r in rows), default=-1) == n
        assert max((r[3] for r in rows), default=-1) == err

    check()


def test_mg_grouped_lazy_fold_matches_checkpointed_and_global(spark):
    """r12 single-reference mg_merge_grouped: a 4-level fully LAZY
    in-plan fold (no checkpoints — the plan now grows linearly) equals
    the checkpoint-between-folds fold, and each group's folded summary
    equals the pinned GLOBAL mg_merge fold over that group's per-shard
    summaries — including a group absent from one shard."""
    keys = _zipf_keys(29, n=800)
    rows = [
        (i, "g0" if i % 3 else ("g1" if i % 5 else "g2"), k)
        for i, k in enumerate(keys)
    ]
    df = spark.createDataFrame(rows, "i long, grp string, key string")
    m = 4
    shard_dfs = [
        # shard 2 deliberately excludes g2: one-sided groups must ride
        # the fold unchanged at that level
        df.filter(
            ((F.col("i") % 4) == s)
            & ((F.lit(s) != 2) | (F.col("grp") != "g2"))
        )
        for s in range(4)
    ]
    grouped = [
        FQ.mg_summary_grouped(sd.select("grp", "key"), "key", m, ["grp"])
        for sd in shard_dfs
    ]
    lazy = ckpt = None
    for s in grouped:
        lazy = s if lazy is None else FQ.mg_merge_grouped(lazy, s, m, ["grp"])
        nxt = s if ckpt is None else FQ.mg_merge_grouped(ckpt, s, m, ["grp"])
        ckpt = nxt.localCheckpoint(eager=True)
    lrows = sorted(map(tuple, lazy.collect()), key=str)
    assert lrows == sorted(map(tuple, ckpt.collect()), key=str)
    for grp in ("g0", "g1", "g2"):
        glob = None
        for sd in shard_dfs:
            s = FQ.mg_summary(
                sd.filter(F.col("grp") == grp).select("key"), "key", m
            )
            glob = s if glob is None else FQ.mg_merge(glob, s, m)
        exp = sorted(((grp, *t) for t in map(tuple, glob.collect())), key=str)
        got = sorted((t for t in lrows if t[0] == grp), key=str)
        assert got == exp, grp
