"""Iterative graph centrality — PageRank-style quality weighting.

Web-corpus curation weights documents by the standing of their host in
the link graph (Common Crawl host-level ranks, OPIC-style crawl
prioritization); this module supplies that signal as a first-class
operator.  It is also the repo's second iterative-algorithm family
beside the connected-components clusterers (``dedup.py`` large-star /
small-star): a fixed number of join+aggregate rounds over an edge
table, with periodic ``localCheckpoint`` lineage truncation.

Arithmetic contract — integer fixed point, deliberately:

    r_0(v)   = scale                      ("1.0" per node)
    base     = ((den - num) * scale) div den          ((1-d) * scale)
    c_i(u,e) = r_i(u) div outdeg(u)       (per edge OCCURRENCE, floor)
    r_{i+1}(v) = base + (num * sum_{e: u->v} c_i(u,e)) div den

All quantities are non-negative BIGINTs and every operation (floor
division, multiplication, order-independent integer SUM) is exact and
identical on every engine — the full (node, rank) result is therefore
bit-portable and DuckDB-checkable by unrolling the iterations as
chained CTEs, the same full-value-oracle discipline as the rest of the
repo (float PageRank sums would differ in ulps across engines and
reduction orders).  Floor truncation loses < outdeg ulps of mass per
node per round — at the default scale of 1e12 that is a 1e-12-relative
perturbation, far below the float64 noise a conventional
implementation carries.

Semantics notes:

- Parallel edges count with multiplicity (a host linking twice sends
  twice the mass) — "weighted by link frequency" for free, and no
  distinct pass over the edge table.
- Dangling nodes (no out-edges) leak their mass: ranks answer "how
  much standing flows INTO v", the ordering signal corpus weighting
  needs; redistribution would add an all-nodes broadcast per round for
  no ordering benefit.  Total mass is therefore non-increasing.
- Overflow envelope: an in-sum is bounded by the surviving total mass
  <= N * scale, so ``num * N * scale`` must stay under 2^63 — at the
  default scale 1e12 that is N <= ~10^5; at web scale (N ~ 1e9 hosts)
  pass ``scale=10**8`` (still 8 significant digits of rank).

Scale shape (per iteration): one shuffle joining ranks onto edges by
src, one shuffle aggregating contributions by dst, one broadcast-free
left join back onto the node set — all keyed, no driver materialization
and no per-round growth.  The edge+outdegree table and the node set are
computed once and persisted across rounds; ranks are checkpointed every
``checkpoint_every`` rounds so the plan never deepens past a few
iterations (the same truncation idiom as ``dedup.connected_components``).
For recurring ranking over a standing graph, bucket the edge table by
``src`` (operators/bucketing.py) and the per-round rank join becomes
exchange-free on the edge side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edge_outdegrees(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(src, dst, outdeg) — each edge occurrence annotated with its
    source's out-degree (occurrence count, parallel edges included).
    One aggregate + one keyed join, both on ``src``."""
    od = edges.groupBy(src).agg(F.count(F.lit(1)).alias("_outdeg"))
    return edges.join(od, src)


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    checkpoint_every: int = 3,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
    init_ranks: DataFrame | None = None,
    plan_sink: list | None = None,
) -> DataFrame:
    """Integer fixed-point PageRank over a directed edge table.

    Returns (node, rank) for every node appearing as a source or a
    destination, rank a BIGINT on the module's fixed-point contract
    (see module docstring — exact, engine-portable, oracle-checkable).

    ``iters`` is fixed rather than convergence-tested: the driver
    contract needs a deterministic output, and power iteration's
    ordering stabilizes long before its values (10 rounds at d=0.85
    is the conventional curation-grade depth).

    ``seeds`` switches to PERSONALIZED PageRank (restart mass only on
    the seed set — rank becomes "standing relative to a trusted seed
    list", the corpus-curation relevance signal): seed nodes start at
    ``scale`` and receive the ``(1-d)`` restart term, all other nodes
    start at 0 and receive contributions only.  Seed ids not present
    in the graph are ignored; the arithmetic contract (and therefore
    the oracle unroll, via ``seeds_cte``) is unchanged.

    ``init_ranks`` (a (node, rank) table) WARM-STARTS the iteration —
    the incremental face, same as the repo's other standing-state
    operators: resume a long power iteration from a checkpointed rank
    table, or re-rank a grown graph from the previous epoch's ranks
    (far fewer rounds to ordering stability than a cold start).  The
    iteration is a pure deterministic function of (graph, start
    vector), so the CONTINUATION LAW holds exactly and is the tested
    contract: iterate(init=r_i, k) == iterate(init=r_0, i + k) bit for
    bit.  Nodes absent from ``init_ranks`` (new nodes after growth)
    start at the cold-start value for their seed status; extra ids in
    ``init_ranks`` that left the graph are ignored.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")

    # The edge table and node set are STATIC across rounds; persist
    # them pre-partitioned on their per-round join keys so every
    # iteration's joins satisfy their distribution requirement from the
    # cache instead of re-exchanging the (large) static side each round
    # — only the (small, changing) rank table shuffles per iteration.
    # Measured at sf0.1 (574k edges, 20k nodes, 10 rounds): ~2.4x.
    # Node ids keep their own type (host strings, hashes, ints — any
    # equi-joinable type works; an id cast here would silently NULL
    # non-numeric ids and destroy the result).
    ed = (
        edge_outdegrees(edges, src, dst)
        .select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col("_outdeg"),
        )
        .repartition("_src")
        .persist()
    )
    node_set = (
        ed.select(F.col("_src").alias("node"))
        .union(ed.select(F.col("_dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        node_set = node_set.withColumn("_seed", F.lit(1))
    else:
        marker = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .withColumn("_seed", F.lit(1))
        )
        node_set = node_set.join(marker, "node", "left").select(
            "node", F.coalesce(F.col("_seed"), F.lit(0)).alias("_seed")
        )
    nodes = node_set.repartition("node").persist()
    # Overflow envelope, part 1 (cold-start mass): an in-sum is bounded
    # by the surviving total mass <= N * scale, so num * N * scale must
    # stay under 2^63.  Spark's non-ANSI long arithmetic would WRAP
    # silently past that (while the DuckDB oracle's HUGEINT would not —
    # exactly the cross-engine divergence the integer contract exists
    # to prevent), so this is a hard error, not a docstring.  nodes is
    # persisted and needed anyway; the count is one tiny job.  Warm
    # starts are re-checked against their ACTUAL initial mass below.
    n_nodes = nodes.count()
    if damping_num * n_nodes * scale >= 1 << 63:
        ed.unpersist()
        nodes.unpersist()
        raise ValueError(
            f"overflow envelope exceeded: damping_num*N*scale = "
            f"{damping_num}*{n_nodes}*{scale} >= 2^63; lower `scale` "
            f"(e.g. 10**8 ranks ~1e9 nodes with 8 significant digits)"
        )
    base = (damping_den - damping_num) * scale // damping_den
    # seed-gated restart term and start mass (uniform case: every node
    # is a seed, so these reduce to the plain formulation)
    base_term = F.when(F.col("_seed") == 1, F.lit(base)).otherwise(
        F.lit(0)
    )
    start = F.when(F.col("_seed") == 1, F.lit(scale)).otherwise(F.lit(0))

    if init_ranks is None:
        ranks = nodes.select("node", start.cast("long").alias("rank"))
    else:
        prev = init_ranks.select(
            F.col("node"), F.col("rank").cast("long").alias("_prev")
        )
        ranks = nodes.join(prev, "node", "left").select(
            "node",
            F.coalesce(F.col("_prev"), start.cast("long")).alias("rank"),
        )
        # Overflow envelope, part 2 (warm-start mass): the N*scale bound
        # above assumes cold-start ranks <= scale.  A rank table
        # checkpointed under a LARGER scale (or any external table) can
        # carry more mass, and per-round mass only contracts toward the
        # stationary total, so the first rounds' in-sums are bounded by
        # the actual initial positive mass, not N*scale.  Sum through
        # DECIMAL so the guard itself cannot wrap; one tiny job over the
        # N-row rank table, warm-start path only.
        init_mass = (
            ranks.agg(
                F.sum(
                    F.greatest(F.col("rank"), F.lit(0)).cast("decimal(38,0)")
                ).alias("m")
            ).collect()[0]["m"]
        )
        init_mass = int(init_mass or 0)
        if damping_num * max(init_mass, n_nodes * scale) >= 1 << 63:
            ed.unpersist()
            nodes.unpersist()
            raise ValueError(
                f"overflow envelope exceeded for warm start: "
                f"damping_num * init_mass = {damping_num}*{init_mass} "
                f">= 2^63; the init_ranks table carries more mass than "
                f"N*scale = {n_nodes}*{scale} — rescale it to this "
                f"run's `scale` before resuming"
            )
    for i in range(iters):
        contribs = (
            ed.join(ranks, ed["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank div _outdeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                base_term
                + F.expr(
                    f"({damping_num} * coalesce(_s, 0L)) div {damping_den}"
                )
            )
            .cast("long")
            .alias("rank"),
        )
        if plan_sink is not None:
            # diagnostic surface for the per-round shuffle pin
            # (tests/test_graph.py): the SparkPlan of one round,
            # captured pre-checkpoint so the full round tree is visible
            plan_sink.append(
                ranks._jdf.queryExecution().executedPlan().toString()
            )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            # LAZY (r12, the CC-loop lesson): the checkpoint still
            # truncates the plan at every cadence point (the RDD
            # closure freezes when the checkpoint is taken), but its
            # materialization rides the FINAL eager checkpoint's job
            # instead of paying a barrier job per cadence point — the
            # whole fixed iteration is ONE job.  A/B at sf0.1
            # (scripts/pagerank_ab_r12.py, in git history; interleaved
            # min-of-3, 10 rounds, rows identical): eager-every-3 11.22 s
            # vs lazy-every-3 8.64 s; lazy-every-1 measured 8.07 s —
            # within window noise of lazy-every-3, so the pinned
            # every-3 cadence stays.  Failure envelope unchanged: all
            # segment blocks are computed inside the one job, and
            # localCheckpoint blocks were never recomputable anyway.
            ranks = ranks.localCheckpoint(eager=False)
    out = ranks.localCheckpoint(eager=True)
    ed.unpersist()
    nodes.unpersist()
    return out


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    seeds_cte: str | None = None,
) -> str:
    """The DuckDB replay of :func:`pagerank_fixed_point` — iterations
    unrolled as chained CTEs (standard SQL forbids aggregation in a
    recursive term), every operation the same exact integer op.

    ``edges_cte`` must be a CTE body selecting (src, dst);
    ``seeds_cte``, when given, one selecting (node) — the personalized
    restart set, mirrored exactly as the Spark side's seed gating.
    Integer SUM in DuckDB returns HUGEINT (float64 via pandas), so
    every aggregate is cast back to BIGINT — the r3 divergence class.
    """
    base = (damping_den - damping_num) * scale // damping_den
    parts = [
        f"ed AS ({edges_cte})",
        "od AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src)",
    ]
    if seeds_cte is None:
        parts.append(
            "nodes AS (SELECT node, 1 AS seed FROM ("
            "SELECT DISTINCT src AS node FROM ed"
            " UNION SELECT DISTINCT dst FROM ed))"
        )
    else:
        parts.append(f"sd AS ({seeds_cte})")
        parts.append(
            "nodes AS (SELECT n.node,"
            " CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS seed"
            " FROM (SELECT DISTINCT src AS node FROM ed"
            " UNION SELECT DISTINCT dst FROM ed) n"
            " LEFT JOIN (SELECT DISTINCT node FROM sd) s"
            " ON s.node = n.node)"
        )
    parts.append(
        f"r0 AS (SELECT node,"
        f" CAST(CASE WHEN seed = 1 THEN {scale} ELSE 0 END AS BIGINT)"
        f" AS rank FROM nodes)"
    )
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS (
            SELECT n.node,
                   CAST(CASE WHEN n.seed = 1 THEN {base} ELSE 0 END
                        + ({damping_num} * COALESCE(c.s, 0))
                        // {damping_den} AS BIGINT) AS rank
            FROM nodes n
            LEFT JOIN (
                SELECT ed.dst AS node,
                       CAST(SUM(r.rank // od.outdeg) AS BIGINT) AS s
                FROM ed
                JOIN od USING (src)
                JOIN r{i} r ON r.node = ed.src
                GROUP BY ed.dst
            ) c ON c.node = n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{iters}"
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph of
    ``edges`` (direction and multiplicity ignored; self-loops dropped)
    — the clustering/cohesion primitive next to the two iterative
    families here (PageRank, connected components).

    Degree-ordered orientation (the classic wedge-bounding trick):
    every undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, making each node's out-degree
    O(sqrt(m)) on any graph, so the wedge self-join — out-neighbors u →
    {v, w} joined on u — generates at most m^(3/2) candidate wedges
    instead of Σ deg² with its hub blow-up; one more equi-join against
    the oriented edges closes each wedge into a triangle exactly once.
    Three shuffles total (degree agg, wedge join, closure join), all
    equi-joins — no BNLJ anywhere.

    Wedge ORDERING filter (r12): the persisted oriented-edge table
    carries each out-neighbor's degree, so the wedge self-join keeps
    only pairs ordered by the SAME (degree, id) total order the
    orientation used — d_u*(d_u-1)/2 wedges per node instead of d_u²
    (both orderings + the diagonal).  A wedge (v, w) can close only if
    (v, w) is an oriented edge, which requires exactly that order, so
    the filter drops only never-closing rows (>2x fewer closure-join
    probes; interleaved A/B at sf0.1's 1.2M-edge clique graph: 1.19-
    1.35x, row sets identical — scripts/triangles_ab_r12.py, in git
    history).  Cost: one extra BIGINT per persisted edge row.

    Output: (node, n_triangles) for every node of the graph (0 rows
    for isolated ids never appearing in an edge; nodes in no triangle
    report 0).  Every count is an exact BIGINT — full-value
    oracle-checkable."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orientation key: (degree, id) — total order, so each undirected
    # edge gets exactly one direction
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.col("db").alias("dv"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.col("da").alias("dv"),
                )
            )
            .alias("o")
        )
        .select("o.u", "o.v", "o.dv")
    )
    ed = ed.persist()
    ed.count()
    # wedges u -> (v, w): pair of out-neighbors with v before w in the
    # SAME (degree, id) orientation order used for edges — the closing
    # edge (v, w) exists in `ed` iff the triangle exists, and only
    # order-respecting pairs can ever close, so the ordering predicate
    # (evaluated inside the equi-join on u, before any row is emitted)
    # halves the wedge stream without touching the result
    l, r = ed.alias("l"), ed.alias("r")
    wedges = l.join(
        r,
        on=[
            F.col("l.u") == F.col("r.u"),
            (F.col("l.dv") < F.col("r.dv"))
            | (
                (F.col("l.dv") == F.col("r.dv"))
                & (F.col("l.v") < F.col("r.v"))
            ),
        ],
    ).select(
        F.col("l.u").alias("w_u"),
        F.col("l.v").alias("w_v"),
        F.col("r.v").alias("w_w"),
    )
    # Closure join: the wedge table is the big side (up to m^1.5 rows),
    # the edge table the small one — when the PERSISTED edge table's
    # Catalyst stats say it fits an executor comfortably, broadcast it
    # so the wedge stream never shuffles (measured 1.4x at sf0.1's
    # 1.2M-edge clique graph); past the cutoff fall back to the keyed
    # shuffle join, which is the 100 TB shape.  Stats, not count: the
    # persisted table reports accurate sizeInBytes.
    closing = ed.select(F.col("u").alias("w_v"), F.col("v").alias("w_w"))
    try:
        ed_bytes = int(
            ed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        ed_bytes = None
    if ed_bytes is not None and ed_bytes <= 64 << 20:
        closing = F.broadcast(closing)
    tri = wedges.join(closing, ["w_v", "w_w"])
    per_node = (
        tri.select(F.explode(F.array("w_u", "w_v", "w_w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        deg.select(F.col("n").alias("node"))
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
        .localCheckpoint(eager=True)
    )
    ed.unpersist()
    return out


def hits_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
    scale: int = 10**12,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Integer fixed-point HITS (Kleinberg 1999): hub and authority
    scores over a directed edge table — the bipartite complement to
    PageRank's single standing signal (a curation corpus wants BOTH:
    authorities are the pages worth keeping, hubs are the link/index
    pages worth crawling from, rarely keeping).

    Arithmetic contract, mirroring the module's PageRank discipline
    but with MAX-normalization in place of HITS's usual L2 norm (a
    float sqrt is not engine-portable; dividing by the max is the
    standard practitioners' HITS variant and keeps every value an
    exact BIGINT in [0, scale]):

        h_0(u)     = scale
        araw(v)    = sum over in-edge occurrences of h(u)
        a(v)       = (araw(v) * scale) div max_w araw(w)
        hraw(u)    = sum over out-edge occurrences of a(v)
        h(u)       = (hraw(u) * scale) div max_w hraw(w)

    With at least one edge both maxima are strictly positive (every
    dst has an in-edge from a hub of positive score), so the division
    is total.  Parallel edges count with multiplicity, as in PageRank.
    Returns (node, hub, auth) for every node of the graph.

    Scale shape: the edge table is static — persisted ONCE,
    unpartitioned (the r12 A/B at 574k/2M/8M edges measured the
    single persist fastest at every scale, including past the
    score-broadcast threshold; see the in-body note); per iteration
    only the N-row score table shuffles (join on one endpoint, groupBy
    the other) plus the per-round edge-side exchange the joins plan
    themselves, and the two maxima ride back as 1-row broadcast
    anchors (bounded model state, no driver collect).
    ``localCheckpoint`` truncates lineage every
    ``checkpoint_every`` rounds.  Overflow envelope: an in-sum is
    bounded by m * scale (scores are <= scale after normalization), so
    ``m * scale`` must stay under 2^63 — checked up front against the
    edge count, the PageRank guard discipline.  The normalization's
    ``raw * scale`` product is bounded by m * scale^2 — past BIGINT —
    so it runs in DECIMAL(38,0) with SQL ``div`` (exact integral
    quotient, verified against DuckDB's HUGEINT ``//``); the quotient
    itself is <= scale, back in BIGINT range.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    # ONE unpartitioned persist (r12, reverting the r11 two-
    # pre-partitioned-views shape and resolving the r11 ADVICE note on
    # its 2x cached footprint of the largest relation): the A/B
    # (scripts/hits_ab.py + scripts/hits_scale_ab_r12.py, in git
    # history; interleaved, row sets identical) measured the single
    # persist FASTEST at every scale tried — fixture 574k edges/6
    # rounds: 16.5 vs 19.2 s (two partitioned persists) / 19.5 s (one
    # partitioned + derived dst view); 2M edges/4 rounds: 14.0 vs 17.7
    # / 13.9; 8M edges (~800k nodes, past the score-side broadcast
    # threshold — the SMJ regime the partitioned views were built
    # for): 44.8 vs 57.9 / 44.7.  The partitioned views never paid off
    # because a cached repartition's partitioning is not recognized by
    # the join planner under AQE (UnknownPartitioning on the
    # InMemoryRelation scan — the same effect that sank the r11
    # triangles pre-partitioning attempt), so both extra exchanges + the
    # second cache fill were pure cost.  Only the N-row score table
    # shuffles per iteration either way.
    ed = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).persist()
    ed_src = ed_dst = ed
    m_edges = ed_src.count()
    if m_edges * scale >= 1 << 63:
        ed.unpersist()
        raise ValueError(
            f"overflow envelope exceeded: m*scale = {m_edges}*{scale} "
            f">= 2^63; lower `scale`"
        )
    nodes = (
        ed_src.select(F.col("_src").alias("node"))
        .union(ed_src.select(F.col("_dst").alias("node")))
        .distinct()
        .repartition("node")
        .persist()
    )
    # r11: intermediate rounds run SPARSE — a node with no surviving
    # raw sum would normalize to a 0 score, and an absent row
    # contributes exactly what a 0-score row contributes to the next
    # half-round's sums (nothing), while the maxima are computed over
    # the raw sums either way (>= one node normalizes to `scale` each
    # half-round, so the anchors are identical).  Dropping the per-
    # round dense left-join against `nodes` removes a sort+SMJ stage
    # from EVERY barrier job; only the FINAL output densifies (the
    # returned contract — every node of the graph — is unchanged).
    # A/B at sf0.1 (574k edges, 6 rounds, interleaved min-of-3):
    # dense 12.3 s, sparse 7.8 s; value-identical row sets asserted
    # in-harness (scripts/hits_ab.py, kept in git history).
    norm = (
        lambda col: F.expr(  # noqa: E731
            f"(CAST(coalesce(_raw, 0L) AS DECIMAL(38,0))"
            f" * CAST({scale} AS DECIMAL(38,0)))"
            f" div CAST(_mx AS DECIMAL(38,0))"
        )
        .cast("long")
        .alias(col)
    )
    hubs = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auths = None
    for i in range(iters):
        araw = (
            ed_src.join(hubs, ed_src["_src"] == hubs["node"])
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("hub").alias("_raw"))
        )
        amax = araw.agg(F.max("_raw").alias("_mx"))
        auths = araw.crossJoin(F.broadcast(amax)).select(
            "node", norm("auth")
        )
        hraw = (
            ed_dst.join(auths, ed_dst["_dst"] == auths["node"])
            .groupBy(F.col("_src").alias("node"))
            .agg(F.sum("auth").alias("_raw"))
        )
        hmax = hraw.agg(F.max("_raw").alias("_mx"))
        hubs = hraw.crossJoin(F.broadcast(hmax)).select(
            "node", norm("hub")
        )
        # EVERY iteration, not every k-th: auths references araw twice
        # (the join and the max anchor) and hubs references hraw twice,
        # so un-truncated lineage REPLICATES 4x per round — Catalyst
        # analysis blows up combinatorially within a handful of
        # iterations (measured: 8 rounds on a 9-edge graph took 79 s
        # un-truncated, ~8 s truncated).  Each checkpoint is one small
        # job over the N-row score table.
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            auths = auths.localCheckpoint(eager=True)
            hubs = hubs.localCheckpoint(eager=True)
    out = (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).cast("long").alias("auth"),
        )
        .localCheckpoint(eager=True)
    )
    ed.unpersist()
    nodes.unpersist()
    return out


def hits_oracle_sql(
    edges_cte: str,
    iters: int = 8,
    scale: int = 10**12,
) -> str:
    """DuckDB replay of :func:`hits_fixed_point` — iterations unrolled
    as chained CTEs, every op the identical exact integer op (HUGEINT
    aggregates cast back to BIGINT, the r3 divergence class)."""
    parts = [
        f"ed AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT src AS node FROM ed"
        " UNION SELECT DISTINCT dst FROM ed)",
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM nodes)",
    ]
    for t in range(iters):
        parts.append(
            f"""ar{t} AS MATERIALIZED (
                SELECT ed.dst AS node, CAST(SUM(h.hub) AS BIGINT) AS raw
                FROM ed JOIN h{t} h ON h.node = ed.src
                GROUP BY ed.dst)"""
        )
        parts.append(
            f"""a{t + 1} AS MATERIALIZED (
                SELECT n.node,
                       CAST((COALESCE(ar.raw, 0)::HUGEINT * {scale})
                            // (SELECT MAX(raw) FROM ar{t}) AS BIGINT)
                           AS auth
                FROM nodes n LEFT JOIN ar{t} ar ON ar.node = n.node)"""
        )
        parts.append(
            f"""hr{t} AS MATERIALIZED (
                SELECT ed.src AS node, CAST(SUM(a.auth) AS BIGINT) AS raw
                FROM ed JOIN a{t + 1} a ON a.node = ed.dst
                GROUP BY ed.src)"""
        )
        parts.append(
            f"""h{t + 1} AS MATERIALIZED (
                SELECT n.node,
                       CAST((COALESCE(hr.raw, 0)::HUGEINT * {scale})
                            // (SELECT MAX(raw) FROM hr{t}) AS BIGINT)
                           AS hub
                FROM nodes n LEFT JOIN hr{t} hr ON hr.node = n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT h.node, h.hub, a.auth
        FROM h{iters} h JOIN a{iters} a ON a.node = h.node"""
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    checkpoint_every: int = 1,
    plan_sink: list | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) — community detection over an undirected view of the edge
    table, the density-based complement to the reachability-based
    connected components in ``dedup.py`` (CC merges anything touching;
    LPA groups nodes whose NEIGHBORHOODS agree, splitting chains at
    sparse cuts — the "topic cluster" signal of a link graph).

    Determinism contract (textbook LPA is randomized — order- and
    tie-random; every choice here is pinned so the FULL (node, label)
    table is engine-portable and full-value oracle-checkable):

    - synchronous rounds (all nodes update from the round-t labels);
    - label_0(v) = v (node ids must be orderable);
    - each round v adopts the most frequent label among its neighbor
      occurrences PLUS ITS OWN current label (one self-vote — the
      standard stabilizer that breaks the 2-cycle oscillation
      synchronous LPA exhibits on bipartite structure);
    - ties break on the SMALLEST label (the min-label discipline of
      the CC family).

    Parallel edges count with multiplicity (a pair linked twice votes
    twice — frequency-weighted, the module convention); direction is
    discarded (each edge occurrence votes both ways).  Fixed ``iters``
    rounds, no convergence test (a convergence test is a driver-side
    global aggregate per round; communities stabilize in a handful of
    rounds in practice — Raghavan's 95% claim — and a fixed count is
    reproducible).

    Scale shape (per round): the doubled adjacency persists ONCE,
    UNPARTITIONED (r12 — the HITS finding applied here: a cached
    repartition's partitioning is not recognized by the join planner
    under AQE, so the r11 ``repartition("nbr")`` before the persist paid
    a build-time E-row exchange for nothing; interleaved A/B at sf0.1, 4
    rounds, min-of-5: eager+partitioned 2.93 s vs eager+unpartitioned
    2.38 s, scripts/lpa_ab_r12.py, in git history); only the N-row label
    table shuffles.  The vote stream repartitions by ``node`` ONCE and
    both aggregates (the (node, label) count and the min-struct argmax)
    run on top WITHOUT further exchange — hashpartitioning(node)
    satisfies the clustering requirement of both grouping keys, so each
    round is exactly two shuffles (label join + vote repartition)
    instead of three (same-session A/B at sf0.1, 4 rounds, min-of-4:
    4.20 s two-exchange vs 3.86 s one-exchange; at scale it trades the
    map-side combine of the pair count for one fewer full-stage barrier
    and shuffles the same-order E-row stream once instead of twice).
    Votes reference the label table twice (the adjacency join and the
    self-vote union), so lineage replicates 2x per round —
    ``localCheckpoint`` truncates every ``checkpoint_every`` rounds (r9
    cadence table, measured with EAGER checkpoints: every-1 4.7 s,
    every-2 5.3 s, every-4 9.6 s for 4 rounds — the doubled lineage
    costs more than the barrier it saves, so every-1 stays the default).
    r12: the mid-loop checkpoints are LAZY (the pagerank round-fusion
    lesson): they still truncate per round, but materialize inside the
    final eager checkpoint's job — one job per run instead of one per
    round (lazy+unpartitioned 2.26 s min-of-5 vs 2.38
    eager+unpartitioned / 2.93 shipped-r11 in the same interleaved A/B).
    Counts are bounded by degree+1: no overflow envelope needed.

    Output: (node, label) for every node of the graph.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    ed = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    adj = (
        ed.union(ed.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
        .select(F.col("_a").alias("node"), F.col("_b").alias("nbr"))
        .persist()
    )
    nodes = adj.select("node").distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(iters):
        nbr_votes = (
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label")
                ),
                "nbr",
            ).select("node", "label")
        )
        votes = nbr_votes.unionByName(
            labels.select("node", "label")
        ).repartition("node")
        counted = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("_c")
        )
        # argmax by (count desc, label asc) as ONE more aggregate:
        # min of the (-count, label) struct — lexicographic struct
        # ordering, no per-node window
        labels = (
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_c")).alias("_nc"),
                        F.col("label").alias("label"),
                    )
                ).alias("_best")
            )
            .select("node", F.col("_best.label").alias("label"))
        )
        if plan_sink is not None:
            # diagnostic surface for the per-round shuffle pin
            # (tests/test_graph.py)
            plan_sink.append(
                labels._jdf.queryExecution().executedPlan().toString()
            )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            # LAZY (r12): truncates the doubled lineage per cadence
            # point exactly as before, materialized by the final
            # eager checkpoint's job — see the scale-shape paragraph
            # for the interleaved A/B numbers.
            labels = labels.localCheckpoint(eager=False)
    out = labels.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def lpa_oracle_sql(
    edges_cte: str,
    iters: int = 4,
) -> str:
    """DuckDB replay of :func:`label_propagation` — iterations
    unrolled as chained CTEs; the argmax is a deliberately different
    formulation (QUALIFY row_number over (count desc, label asc)
    instead of the min-struct aggregate)."""
    parts = [
        f"ed AS ({edges_cte})",
        "adj AS MATERIALIZED ("
        " SELECT src AS node, dst AS nbr FROM ed"
        " UNION ALL SELECT dst AS node, src AS nbr FROM ed)",
        "l0 AS (SELECT DISTINCT node, node AS label FROM adj)",
    ]
    for t in range(iters):
        parts.append(
            f"""v{t} AS (
                SELECT a.node, l.label
                FROM adj a JOIN l{t} l ON l.node = a.nbr
                UNION ALL SELECT node, label FROM l{t})"""
        )
        parts.append(
            f"""l{t + 1} AS MATERIALIZED (
                SELECT node, label FROM (
                    SELECT node, label,
                           ROW_NUMBER() OVER (
                               PARTITION BY node
                               ORDER BY COUNT(*) DESC, label ASC
                           ) AS rn
                    FROM v{t} GROUP BY node, label
                ) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, label FROM l{iters}"
    )
