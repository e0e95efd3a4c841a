"""Deterministic mergeable quantile summary (operators/quantiles.py):
exactness at n <= k, Spark == pure-python reference (build and folds),
the rank-validity law against true data, estimate serving, DuckDB
oracle replay, the metadata anchor, and a hypothesis sweep of the
algebra over random splits including empty substreams."""

import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators import quantiles as Q


# ---- pure-python reference (mirrors the operator's integer algebra) ----

def _E(n, k):
    return n // (2 * k) + 1 if n > 0 else 0


def _build(vals, k):
    v = sorted(vals)
    n = len(v)
    rows = []
    for i in range(k):
        w = ((i + 1) * n) // k - (i * n) // k
        if w <= 0:
            continue
        t = (i * n) // k + (w - 1) // 2
        rows.append((i, v[t], w))
    return rows, n, _E(n, k)


def _merge(a, b, k):
    ra, na, ea = a
    rb, nb, eb = b
    N = na + nb
    comb = {}
    for _, v, w in ra + rb:
        comb[v] = comb.get(v, 0) + w
    items = sorted(comb.items())
    rows = []
    for i in range(k):
        w = ((i + 1) * N) // k - (i * N) // k
        if w <= 0:
            continue
        t = (i * N) // k + (w - 1) // 2
        cum = 0
        for v, wt in items:
            cum += wt
            if cum > t:
                rows.append((i, v, w))
                break
    return rows, N, ea + eb + _E(N, k)


def _as_rows(state):
    rows, n, err = state
    return sorted(
        [(i, v, w, n, err) for i, v, w in rows] + [(None, None, 0, n, err)],
        key=str,
    )


def _answer(rows, r):
    cum = 0
    for _, v, w in sorted(rows, key=lambda t: t[1]):
        cum += w
        if cum > r:
            return v
    raise AssertionError("rank beyond total weight")


def _law(rows, n, err, allv):
    """Any target rank answered within err of a true rank of the
    answer value."""
    sv = sorted(allv)
    for r in range(n):
        v = _answer(rows, r)
        lo = sum(1 for x in sv if x < v)
        hi = sum(1 for x in sv if x <= v) - 1
        assert lo - err <= r <= hi + err, (r, v, lo, hi, err)


def test_exact_when_small(spark):
    vals = [7, 3, 3, 9, 1]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = sorted(
        map(tuple, Q.quantile_summary(df, "x", 8).collect()), key=str
    )
    assert got == _as_rows(_build(vals, 8))
    # every nonzero bucket has weight 1 -> the data itself, exactly
    body = [(v, w) for _, v, w, _, _ in got if w and w > 0]
    assert sorted(v for v, _ in body) == sorted(vals)
    assert all(w == 1 for _, w in body)


def test_build_matches_python_reference(spark):
    import random

    rnd = random.Random(5)
    vals = [rnd.randint(-50, 50) for _ in range(530)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    for k in (1, 3, 16):
        got = sorted(
            map(tuple, Q.quantile_summary(df, "x", k).collect()), key=str
        )
        assert got == _as_rows(_build(vals, k)), k


def test_fold_matches_python_and_validity_law(spark):
    import random

    rnd = random.Random(11)
    subs = [
        [rnd.randint(0, 999) for _ in range(rnd.randint(0, 400))]
        for _ in range(4)
    ]
    k = 12
    state_df, state_py = None, None
    for s in subs:
        df = (
            spark.createDataFrame([(v,) for v in s], "x long")
            if s
            else spark.createDataFrame([], "x long")
        )
        summ = Q.quantile_summary(df, "x", k)
        built = _build(s, k)
        if state_df is None:
            state_df, state_py = summ, built
        else:
            state_df = Q.quantile_merge(state_df, summ, k)
            state_py = _merge(state_py, built, k)
    got = sorted(map(tuple, state_df.collect()), key=str)
    assert got == _as_rows(state_py)
    rows, n, err = state_py
    allv = [x for s in subs for x in s]
    assert n == len(allv) and sum(w for _, _, w in rows) == n
    assert len(rows) <= k
    _law(rows, n, err, allv)
    # err stays a small multiple of the per-collapse slack, never n
    assert err <= 4 * (n // (2 * k) + 1)


def test_estimate_serves_within_err(spark):
    import random

    rnd = random.Random(23)
    a = [rnd.randint(0, 10_000) for _ in range(700)]
    b = [rnd.randint(0, 10_000) for _ in range(900)]
    k = 16
    dfa = spark.createDataFrame([(v,) for v in a], "x long")
    dfb = spark.createDataFrame([(v,) for v in b], "x long")
    merged = Q.quantile_merge(
        Q.quantile_summary(dfa, "x", k), Q.quantile_summary(dfb, "x", k), k
    )
    qs = [0.0, 0.1, 0.5, 0.9, 0.99, 1.0]
    got = {
        r["q"]: (r["rank"], r["value"])
        for r in Q.quantile_estimate(merged, qs).collect()
    }
    allv = sorted(a + b)
    n = len(allv)
    _, _, err = (
        None,
        None,
        merged.agg(F.max("err")).first()[0],
    )
    for q in qs:
        r, v = got[q]
        assert r == int(q * (n - 1))
        lo = sum(1 for x in allv if x < v)
        hi = sum(1 for x in allv if x <= v) - 1
        assert lo - err <= r <= hi + err, (q, r, v, lo, hi, err)


def test_empty_and_null_handling(spark):
    k = 4
    empty = spark.createDataFrame([], "x long")
    e = Q.quantile_summary(empty, "x", k)
    assert [tuple(r) for r in e.collect()] == [(None, None, 0, 0, 0)]
    vals = [5, 1, None, 3, None]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    s = Q.quantile_summary(df, "x", k)
    assert s.agg(F.max("n_total")).first()[0] == 3  # NULLs excluded
    # merging with the empty identity keeps the law (err grows by one
    # collapse slack, values re-bucketed — valid, tested)
    m = Q.quantile_merge(s, e, k)
    rows = [
        (r["idx"], r["value"], r["weight"])
        for r in m.collect()
        if r["weight"] > 0
    ]
    n = 3
    _law([(i, v, w) for i, v, w in rows], n, m.agg(F.max("err")).first()[0],
         [5, 1, 3])
    assert m.agg(F.max("n_total")).first()[0] == 3
    # estimate over an n=0 summary returns no rows
    assert Q.quantile_estimate(e, [0.5]).count() == 0


def test_oracle_replay_matches_spark(spark):
    import random

    import duckdb

    rnd = random.Random(31)
    rows = [(i, rnd.randint(0, 500)) for i in range(800)]
    df = spark.createDataFrame(rows, "i long, x long")
    k, n_shards = 10, 3
    state = None
    for s in range(n_shards):
        summ = Q.quantile_summary(
            df.filter(F.col("i") % n_shards == s).select("x"), "x", k
        )
        state = summ if state is None else Q.quantile_merge(state, summ, k)
    vals = ",".join(f"({i},{x})" for i, x in rows)
    sql = Q.quantile_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(i, x)",
        "x",
        f"i % {n_shards}",
        n_shards,
        k,
    )
    assert sorted(duckdb.sql(sql).fetchall(), key=str) == sorted(
        map(tuple, state.collect()), key=str
    )


def test_validation(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        Q.quantile_summary(df, "x", 0)
    s = Q.quantile_summary(df, "x", 2)
    with pytest.raises(ValueError):
        Q.quantile_merge(s.drop("err"), s, 2)
    with pytest.raises(ValueError):
        Q.quantile_merge(s, s, 0)
    with pytest.raises(ValueError):
        Q.quantile_estimate(s, [])
    with pytest.raises(ValueError):
        Q.quantile_estimate(s, [1.5])


def test_quantile_algebra_property():
    """Hypothesis over the pure algebra: random stream splits
    (including empty substreams), random k — the validity law, weight
    conservation, and boundedness hold after any left fold."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.lists(st.integers(0, 40), min_size=0, max_size=70),
            min_size=1,
            max_size=5,
        ),
        st.integers(1, 10),
    )
    @settings(max_examples=300, deadline=None)
    def check(substreams, k):
        state = _build(substreams[0], k)
        for s in substreams[1:]:
            state = _merge(state, _build(s, k), k)
        rows, n, err = state
        allv = [x for s in substreams for x in s]
        assert n == len(allv)
        assert sum(w for _, _, w in rows) == n
        assert len(rows) <= k
        if n:
            _law(rows, n, err, allv)

    check()


def test_grouped_build_equals_global_per_group(spark):
    """A grouped summary restricted to one group == the global summary
    of that group's rows (same bucket rule and anchor representation,
    group-keyed instead of broadcast)."""
    import random

    rnd = random.Random(43)
    rows = [
        ("g0" if i % 3 else "g1", rnd.randint(0, 200)) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "grp string, x long")
    k = 7
    grouped = Q.quantile_summary_grouped(df, "x", k, ["grp"])
    for grp in ("g0", "g1"):
        got = sorted(
            (
                (r["idx"], r["value"], r["weight"], r["n_total"], r["err"])
                for r in grouped.filter(F.col("grp") == grp).collect()
            ),
            key=str,
        )
        exp = sorted(
            map(
                tuple,
                Q.quantile_summary(
                    df.filter(F.col("grp") == grp).select("x"), "x", k
                ).collect(),
            ),
            key=str,
        )
        assert got == exp, grp


def test_grouped_merge_validity_per_group(spark):
    """Each group's merged summary independently satisfies the rank-
    validity law, including a group present on one side only (which
    re-collapses from its own samples) and per-group anchors."""
    import random

    rnd = random.Random(47)
    rows = []
    for i in range(900):
        grp = rnd.choice(["en", "zh"])
        rows.append((i, grp, rnd.randint(0, 500)))
    rows += [(10_000 + i, "solo", rnd.randint(0, 99)) for i in range(120)]
    df = spark.createDataFrame(rows, "i long, grp string, x long")
    k = 8
    a = Q.quantile_summary_grouped(
        df.filter("i % 2 = 0").select("grp", "x"), "x", k, ["grp"]
    )
    b = Q.quantile_summary_grouped(
        df.filter("i % 2 = 1").select("grp", "x"), "x", k, ["grp"]
    )
    merged = Q.quantile_merge_grouped(a, b, k, ["grp"])
    by_grp = {}
    for r in merged.collect():
        by_grp.setdefault(r["grp"], []).append(r)
    truth = {}
    for _, grp, x in rows:
        truth.setdefault(grp, []).append(x)
    assert set(by_grp) == set(truth)
    for grp, rws in by_grp.items():
        n = rws[0]["n_total"]
        err = rws[0]["err"]
        assert n == len(truth[grp])
        samples = [
            (r["idx"], r["value"], r["weight"]) for r in rws if r["weight"]
        ]
        assert sum(w for _, _, w in samples) == n
        assert any(r["weight"] == 0 and r["idx"] is None for r in rws)
        _law(samples, n, err, truth[grp])


def test_grouped_validation(spark):
    df = spark.createDataFrame([("g", 1)], "grp string, x long")
    with pytest.raises(ValueError):
        Q.quantile_summary_grouped(df, "x", 2, [])
    with pytest.raises(ValueError):
        Q.quantile_summary_grouped(df, "x", 0, ["grp"])
    s = Q.quantile_summary_grouped(df, "x", 2, ["grp"])
    with pytest.raises(ValueError):
        Q.quantile_merge_grouped(s.drop("err"), s, 2, ["grp"])
    with pytest.raises(ValueError):
        Q.quantile_merge_grouped(s, s, 0, ["grp"])


def test_grouped_oracle_replay_matches_spark(spark):
    """The grouped single-build oracle (per-group ROW_NUMBER + the
    same floor buckets) equals quantile_summary_grouped row-for-row,
    anchors included."""
    import random

    import duckdb

    rnd = random.Random(61)
    rows = [
        (rnd.choice(["a", "b", "c"]), rnd.randint(0, 300))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "grp string, x long")
    k = 6
    got = sorted(
        map(tuple, Q.quantile_summary_grouped(df, "x", k, ["grp"]).collect()),
        key=str,
    )
    vals = ",".join(f"('{g}',{x})" for g, x in rows)
    sql = Q.quantile_grouped_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(grp, x)", "x", "grp", "grp", k
    )
    assert sorted(duckdb.sql(sql).fetchall(), key=str) == got


def test_quantile_merge_zero_row_legacy_identity_anchor(spark):
    """r12 (r11 ADVICE): merging two ZERO-ROW relations — the legacy
    encoding of "empty" — yields the identity anchor (NULL, NULL, 0,
    0, 0), not an empty relation (the mg_merge seed discipline), and
    with a non-empty side the seed changes nothing: the result equals
    merging against the anchor-only summary of an empty batch."""
    legacy = spark.createDataFrame(
        [], "idx int, value long, weight long, n_total long, err long"
    )
    assert [
        tuple(r) for r in Q.quantile_merge(legacy, legacy, 4).collect()
    ] == [(None, None, 0, 0, 0)]
    assert [
        tuple(r)
        for r in Q.quantile_merge(legacy, legacy, 4, eager=False).collect()
    ] == [(None, None, 0, 0, 0)]
    s = Q.quantile_summary(
        spark.createDataFrame([(i,) for i in range(10)], "x long"), "x", 3
    )
    empty_summary = Q.quantile_summary(
        spark.createDataFrame([], "x long"), "x", 3
    )
    got = sorted(
        map(tuple, Q.quantile_merge(s, legacy, 3).collect()), key=str
    )
    exp = sorted(
        map(tuple, Q.quantile_merge(s, empty_summary, 3).collect()), key=str
    )
    assert got == exp and got


def test_quantile_grouped_lazy_fold_matches_checkpointed_and_global(spark):
    """r12 single-reference quantile_merge_grouped: a 4-level fully
    LAZY in-plan fold equals the checkpoint-between-folds fold, and
    each group's folded summary equals the GLOBAL quantile_merge fold
    over that group's per-shard summaries — including a group absent
    from one shard."""
    import random

    rnd = random.Random(51)
    rows = [
        (i, "g0" if i % 3 else ("g1" if i % 5 else "g2"),
         rnd.randint(0, 300))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "i long, grp string, x long")
    k = 5
    shard_dfs = [
        df.filter(
            ((F.col("i") % 4) == s)
            & ((F.lit(s) != 2) | (F.col("grp") != "g2"))
        )
        for s in range(4)
    ]
    grouped = [
        Q.quantile_summary_grouped(sd.select("grp", "x"), "x", k, ["grp"])
        for sd in shard_dfs
    ]
    lazy = ckpt = None
    for s in grouped:
        lazy = s if lazy is None else Q.quantile_merge_grouped(
            lazy, s, k, ["grp"]
        )
        nxt = s if ckpt is None else Q.quantile_merge_grouped(
            ckpt, s, k, ["grp"]
        )
        ckpt = nxt.localCheckpoint(eager=True)
    lrows = sorted(map(tuple, lazy.collect()), key=str)
    assert lrows == sorted(map(tuple, ckpt.collect()), key=str)
    for grp in ("g0", "g1", "g2"):
        glob = None
        for sd in shard_dfs:
            s = Q.quantile_summary(
                sd.filter(F.col("grp") == grp).select("x"), "x", k
            )
            glob = s if glob is None else Q.quantile_merge(glob, s, k)
        exp = sorted(((grp, *t) for t in map(tuple, glob.collect())), key=str)
        got = sorted((t for t in lrows if t[0] == grp), key=str)
        assert got == exp, grp
