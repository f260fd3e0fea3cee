"""Graph analytics over relational data (PageRank).

The supplier↔customer trade graph: an undirected edge for every
(supplier, customer) pair that traded, weighted by line revenue.
PageRank over it ranks entities by recursive trade centrality — the
classic iterative-algorithm shape (cf. the connected-components
operator, queries/_util.components).

Scale notes: the edge list is built with ONE aggregation over the
lineitem-orders join and persisted; each PageRank iteration is one
join + one groupBy on the node key, so the same hash partitioning is
reused across every round (at cluster scale, pre-`repartition` both
sides by node id to pin it). ``localCheckpoint`` per round truncates
lineage — without it round k re-executes rounds 1..k-1 (exponential
plan growth) — and each loop frees the checkpoint it replaced
(_util.free_checkpoint). PageRank and label propagation run a fixed
schedule; the only driver-side values are the fixpoint loops'
per-round convergence scalar and the final model-sized result.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from local_etl_spark.queries._util import (
    components,
    free_checkpoint,
    min_labels,
    t,
)
from local_etl_spark.registry import query


def _env_int(name: str, default: int) -> int:
    """Scale gates are env-parameterised (round rule: scale-dependent
    settings live in conf/env with local defaults) so a cluster deploy
    — or the sf1 8-vs-32-core scaling artifact — can force any tier
    without code edits."""
    try:
        return int(os.environ.get(name, str(default)))
    except ValueError:
        return default


def _dec_key(n):
    """Exact integer key whose order equals the LEXICOGRAPHIC order of
    str(n) over nonnegative int64 arrays (n < 10^12): decimal strings
    compare like the pair (n / 10^digits, digits) — scale the fraction
    to 10^12 exactly (n · 10^(12−digits), an integer) and pack the
    digit count into the low 4 bits. Digit count via exact integer
    threshold compares, never float log10. Lets the graph numpy tiers
    reproduce Spark's binary-UTF8 string comparisons on 'c<k>'/'s<k>'
    node names with pure int64 numpy ops (pytest-pinned against str
    sort on randomized inputs)."""
    import numpy as np

    n = np.asarray(n, np.int64)
    digits = np.ones(n.shape, np.int64)
    for j in range(1, 13):
        digits += n >= np.int64(10**j)
    return (n * np.int64(10) ** (12 - digits)) * 16 + digits


DAMPING = 0.85
N_ITER = 12
# broadcast the per-iteration rank vector while it plausibly fits an
# executor (~16 B/node → ~32 MB at the cap); past this the shuffle
# join takes over (see graph_pagerank body)
PR_BROADCAST_MAX_NODES = 2_000_000
# edge-cache packing target (see graph_pagerank body): re-partition
# the persisted edge relation to ~this many rows per partition, capped
# at the session parallelism — a pure local-regime optimization that
# no-ops once the edge list outgrows the cores
PR_EDGE_ROWS_PER_PART = 32_768


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted edges: supplier s traded with customer c.

    Node ids: suppliers as 's<k>', customers as 'c<k>'. Weight =
    revenue of the lines between them in EXACT integer cents (round
    12: the pagerank conversion needs order-free weights; the cents
    sum is the agg_minmax_by precedent that hash-matches DuckDB on
    this DOUBLE column, and every consumer only ranks by w).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("w")
        )
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("a"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("b"),
            "w",
        )
    )
    # undirected: emit both directions once, map-side
    return pair.select("a", "b", "w").unionAll(
        pair.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )


# Two tiers per iterative graph operator (pagerank, label_prop, mst):
# below this DIRECTED pair count the whole iteration replays on the
# driver in numpy over the collected (a, b, w) pair list — ~20 B/row,
# ≤ ~160 MB at the default gate, the llm CC_DRIVER_MAX_PAIRS
# collect-budget class. The replay is arithmetic-identical to the
# Spark expressions (float64 multiply/divide are IEEE-correctly-rounded
# in both; round-half-away = floor(x) + (frac ≥ 0.5) replicates Spark's
# HALF_UP round on positive doubles — the SAME replay
# tests/test_graph.py has pinned bit-for-bit since round 12; integer
# mass sums are order-free), so the tier changes job count (12
# per-round jobs → 1 collect), never values. Past the gate the one
# distributed loop runs; inside it PR_BROADCAST_MAX_NODES only picks
# the join hint for the per-round state. Both tiers and both join
# hints are pytest-forced via these gates.
PR_LOCAL_MAX_EDGES = _env_int("SPARK_GRAFT_PR_LOCAL_MAX_EDGES", 8_000_000)


def _pagerank_oracle(rounds: int) -> str:
    """Unrolled relational replay of the FIXED-POINT power iteration
    (rows-only→SQL conversion #16, round 12 — the flagship). The trick
    that makes the flagship iterative float op oracle-able WITHOUT the
    ordered-fold slowdown: ranks live as exact BIGINTs in units of
    1e-15, and each edge contribution rounds ONCE
    (round(rank·p) — the only float step, identical in both engines),
    so every cross-row sum is an ORDER-FREE exact integer aggregate —
    plain hash aggregation, map-side combine, no collect_list anywhere.
    Quantization error ≤ 0.5 ulp-of-1e-15 per edge per round, damped
    geometrically — the NumPy pytest still holds at 1e-9. Equality
    needs the engine to run the full ``rounds`` iterations, which both
    tiers of graph_pagerank always do."""
    # the 0.85/0.15e15 literals below are DAMPING baked into shared
    # expression text — guard against a silent constant drift
    assert DAMPING == 0.85, "update the baked oracle literals"
    head = f"""
    WITH pair AS MATERIALIZED (
        SELECT 's' || l_suppkey AS a, 'c' || o_custkey AS b,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_suppkey, o_custkey
    ),
    edges AS MATERIALIZED (
        SELECT a, b, w FROM pair
        UNION ALL
        SELECT b AS a, a AS b, w FROM pair
    ),
    outw AS (
        SELECT a, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY a
    ),
    norm AS MATERIALIZED (
        SELECT e.a, e.b, CAST(e.w AS DOUBLE) / o.outw AS p
        FROM edges e JOIN outw o ON o.a = e.a
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edges),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    r0 AS MATERIALIZED (
        SELECT node, CAST(round(1e15 / nn.n) AS BIGINT) AS rank
        FROM nodes CROSS JOIN nn
    )"""
    parts = [head]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
    r{k} AS MATERIALIZED (
        SELECT n.node,
               CAST(round(0.15e15 / (SELECT nn.n FROM nn)) AS BIGINT)
               + CAST(round(0.85 * CAST(coalesce(c.mass, 0) AS DOUBLE))
                      AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.b AS node,
                   CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) * e.p)
                                 AS BIGINT)) AS BIGINT) AS mass
            FROM norm e JOIN r{k - 1} r ON r.node = e.a
            GROUP BY e.b
        ) c ON c.node = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, CAST(rank AS DOUBLE) / 1e15 AS rank,
           substr(node, 1, 1) AS kind
    FROM r{rounds}"""
    )
    return "".join(parts)


@query(
    "graph_pagerank",
    family="graph",
    oracle=_pagerank_oracle(N_ITER),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier↔customer trade graph
    (damping 0.85, a fixed schedule of N_ITER = 12 synchronous
    iterations — power iteration in DataFrame algebra):

        rank(v) ← (1-d)/N + d · Σ_{u→v} rank(u) · w(u,v)/outw(u)

    The symmetric edge construction leaves no dangling nodes, so the
    rank mass is conserved and the (1-d)/N teleport term is exact.
    Per iteration: one shuffle join of edges with the rank vector on
    the source id and one groupBy on the destination — both on node
    keys, so Catalyst reuses one partitioning; edges (with their
    precomputed outgoing-weight normalization) are computed once and
    persisted.

    SQL-ORACLED since round 12 (conversion #16, the flagship): ranks
    are FIXED-POINT BIGINTs in units of 1e-15 — each edge term rounds
    once (the only float step, bit-identical both engines), so every
    cross-row sum is an order-free exact integer aggregate and the
    plan keeps plain hash aggregation with map-side combine (no
    ordered-fold collect_list cost, unlike the betweenness
    conversion — at 100 TB hub nodes aggregate partial integer sums
    exactly like any hot group key). _pagerank_oracle unrolls the
    N_ITER rounds relationally; quantization error is ≤ 5e-16/round,
    damped — tests/test_graph.py still checks convergence to a NumPy
    power iteration within 1e-9, mass conservation, AND replays the
    exact integer iteration in pure Python.
    """
    # r13: the directed (supplier, customer, cents) pair is PERSISTED
    # before the symmetric union / out-weight normalization reference
    # it — the union and the outw aggregate each embed the pair
    # subtree, so without the cache the lineitem⋈orders join executed
    # FOUR times inside one cache fill (measured 3.0 s → 1.6 s at
    # sf0.1). Node keys are INTEGER ids from the start (supplier k →
    # 2k, customer k → 2k+1 — a bijection; w/p values are unchanged,
    # so every downstream sum is identical); the 's<k>'/'c<k>' strings
    # are reconstructed only at the output edge.
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ipair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("w")
        )
        .select(
            (F.col("l_suppkey") * 2).cast("int").alias("a"),
            (F.col("o_custkey") * 2 + 1).cast("int").alias("b"),
            "w",
        )
        .persist()
    )
    n_pairs = ipair.count()
    n_edges = 2 * n_pairs
    if n_pairs == 0:
        # empty-graph guard (ADVICE r13): the numpy tier builds
        # pandas frames that cannot carry an explicit schema when
        # empty — return one here instead (reachable via corpus knobs,
        # never on shipped testdata)
        ipair.unpersist()
        return spark.createDataFrame(
            [], "node string, rank double, kind string"
        )
    if n_pairs <= PR_LOCAL_MAX_EDGES:
        # r14 tier (see PR_LOCAL_MAX_EDGES): collect the pair list
        # once and replay the whole fixed-point iteration in numpy —
        # 12 per-round Spark jobs collapse to ONE Arrow collect. Every
        # arithmetic step mirrors the Spark expressions exactly:
        #   p        = w / outw            (int64→float64 exact ≤2^53,
        #                                   IEEE division both engines)
        #   contrib  = round(rank_f · p)   (float64 product; HALF_UP on
        #                                   positives ≡ floor + frac≥.5)
        #   mass     = Σ contrib per dst   (int64, order-free exact)
        #   new      = teleport + round(0.85 · mass_f)
        # — the identical pure-Python replay is pinned bit-for-bit
        # against this query by tests/test_graph.py (r12), and the
        # tier-parity test forces this gate off and asserts equality.
        import numpy as np
        import pandas as pd

        pdf = ipair.toPandas()
        ipair.unpersist()
        a = pdf["a"].to_numpy()
        b = pdf["b"].to_numpy()
        w = pdf["w"].to_numpy(np.int64)
        # hash-based node indexing (pd.factorize) — the sorted-unique +
        # searchsorted form cost ~4.5 s of pure SORTING at the sf1
        # probe's 5.9M pairs; index assignment order is irrelevant to
        # the arithmetic, only the id↔index bijection matters
        codes, uniq = pd.factorize(np.concatenate([a, b]))
        n_edges_dir = len(w)
        ai = codes[:n_edges_dir]
        bi = codes[n_edges_dir:]
        n_nodes = int(len(uniq))
        outw = np.zeros(n_nodes, np.int64)
        np.add.at(outw, ai, w)
        np.add.at(outw, bi, w)
        p_ab = w / outw[ai]
        p_ba = w / outw[bi]
        consts = spark.sql(
            f"SELECT CAST(round(1e15 / {n_nodes}) AS BIGINT) AS r0,"
            f" CAST(round(0.15e15 / {n_nodes}) AS BIGINT) AS tp"
        ).first()
        r0, teleport = consts.r0, consts.tp

        def _rha(x):  # round half away from zero, x >= 0 (exact: the
            # frac subtraction is Sterbenz-exact for x ≥ 0)
            f = np.floor(x)
            return (f + (x - f >= 0.5)).astype(np.int64)

        rank = np.full(n_nodes, r0, np.int64)
        for _ in range(N_ITER):
            rf = rank.astype(np.float64)
            mass = np.zeros(n_nodes, np.int64)
            # the two directions accumulate separately — integer sums
            # are order-free, so two scatters ≡ one over the union
            np.add.at(mass, bi, _rha(rf[ai] * p_ab))
            np.add.at(mass, ai, _rha(rf[bi] * p_ba))
            rank = teleport + _rha(DAMPING * mass.astype(np.float64))
        out = spark.createDataFrame(
            pd.DataFrame(
                {
                    "node": [
                        ("c" if i % 2 else "s") + str(i // 2)
                        for i in uniq.tolist()
                    ],
                    "rank": rank.tolist(),
                }
            )
        )
        return out.select(
            "node",
            (F.col("rank").cast("double") / F.lit(1e15)).alias("rank"),
            F.substring("node", 1, 1).alias("kind"),
        )
    # distributed loop (> PR_LOCAL_MAX_EDGES)
    iedges = ipair.unionAll(
        ipair.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    # normalize outgoing weights once: P(u→v) = w/outw(u)
    ioutw = iedges.groupBy("a").agg(F.sum("w").alias("outw"))
    inorm0 = iedges.join(ioutw, "a").select(
        "a", "b", (F.col("w") / F.col("outw")).alias("p")
    )
    # SIZE-AWARE edge-cache packing (round 6, A/B-measured): 12
    # iterations × tiny stages × 32 tasks over a ~240k-row cache is
    # task-overhead-dominated at local scale. The clamp at
    # defaultParallelism makes this a no-op in the big-edge regime: at
    # 100 TB the formula exceeds the core count and the scan
    # partitioning stands.
    k_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            n_edges // PR_EDGE_ROWS_PER_PART + 1,
        ),
    )
    node_rel = (
        ipair.select("a")
        .unionAll(ipair.select(F.col("b").alias("a")))
        .distinct()
    )
    n_nodes = node_rel.count()  # model-sized (drives the teleport term)
    # rank-vector join strategy is SIZE-GATED (the llm_tfidf pattern):
    # below the threshold the per-iteration rank vector broadcasts
    # (~16 B/node), so the EDGE LIST — the big side — never shuffles
    # for the join at all and each iteration is one map-side join +
    # one node-keyed aggregate (A/B at sf0.1: 16.0 → 10.7 s).
    # Past the threshold (a rank vector too big to ship) the plain
    # shuffle join remains, which is the 1000-executor shape anyway.
    broadcast_ranks = n_nodes <= PR_BROADCAST_MAX_NODES
    # derive the string relations from the int-keyed pair cache (one
    # pass, identical values)
    _name = "concat(IF(pmod({c}, 2) = 0, 's', 'c'), CAST({c} DIV 2 AS STRING))"
    norm = (
        inorm0.selectExpr(
            _name.format(c="a") + " AS a",
            _name.format(c="b") + " AS b",
            "p",
        )
        .coalesce(k_parts)
        .persist()
    )
    norm.count()
    ipair.unpersist()
    nodes = norm.select(F.col("a").alias("node")).distinct().persist()
    ranks = nodes.select(
        "node",
        F.expr(f"CAST(round(1e15 / {n_nodes}) AS BIGINT)").alias("rank"),
    ).localCheckpoint()
    for _ in range(N_ITER):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            norm.join(r, norm.a == r.node)
            .groupBy(F.col("b").alias("node"))
            .agg(
                F.sum(
                    F.expr(
                        "CAST(round(CAST(rank AS DOUBLE) * p) AS BIGINT)"
                    )
                ).alias("mass")
            )
        )
        new_rank = F.expr(
            f"CAST(round(0.15e15 / {n_nodes}) AS BIGINT)"
            " + CAST(round(0.85 * CAST(coalesce(mass, 0) AS DOUBLE))"
            " AS BIGINT)"
        ).alias("rank")
        done = ranks
        ranks = (
            nodes.join(contrib, "node", "left")
            .select("node", new_rank)
            # per-round truncation; a sparser every-3rd-round schedule
            # was measured and saves nothing here — the per-iteration
            # edge-list shuffle, not the checkpoint job, is the cost
            .localCheckpoint()
        )
        free_checkpoint(done)
    norm.unpersist()
    nodes.unpersist()
    return ranks.select(
        "node",
        (F.col("rank").cast("double") / F.lit(1e15)).alias("rank"),
        F.substring("node", 1, 1).alias("kind"),
    )


@query(
    "graph_degree",
    family="graph",
    oracle="""
    WITH pair AS (
        SELECT l_suppkey, o_custkey,
               count(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_suppkey, o_custkey
    ),
    deg AS (
        SELECT 's' || CAST(l_suppkey AS VARCHAR) AS node,
               count(*) AS degree, CAST(sum(n_lines) AS BIGINT) AS n_lines
        FROM pair GROUP BY l_suppkey
        UNION ALL
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS node,
               count(*) AS degree, CAST(sum(n_lines) AS BIGINT) AS n_lines
        FROM pair GROUP BY o_custkey
    )
    SELECT substr(node, 1, 1) AS kind, degree,
           count(*) AS n_nodes,
           CAST(sum(n_lines) AS BIGINT) AS total_lines
    FROM deg
    GROUP BY 1, 2
    """,
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier↔customer trade graph: for
    each side of the bipartite graph, how many nodes have each degree
    (number of distinct counterparties) — the first diagnostic run on
    any graph before choosing partitioning (a power-law tail here is
    the skew that breaks naive edge-partitioned joins; cf.
    join_skew_salted). Exact counts end-to-end, so unlike
    graph_pagerank this one is SQL-oracled.

    Plan: the edge aggregate shuffles once on the (supp, cust) pair;
    both degree aggregates reuse subsets of that key, and the final
    histogram is distribution-sized. Nothing touches raw lineitem
    twice.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .persist()
    )
    sup = pair.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("degree"), F.sum("n_lines").alias("n_lines")
    ).select(F.lit("s").alias("kind"), "degree", "n_lines")
    cus = pair.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("degree"), F.sum("n_lines").alias("n_lines")
    ).select(F.lit("c").alias("kind"), "degree", "n_lines")
    return (
        sup.unionAll(cus)
        .groupBy("kind", "degree")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("n_lines").alias("total_lines"),
        )
    )


_NATION_EDGES_SQL = """
        SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                        greatest(c.c_nationkey, s.s_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
"""


def _nation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected nation-level trade edges (a < b): nations A and B are
    adjacent when any customer in one bought from any supplier in the
    other. Unlike the bipartite supplier↔customer graph (which cannot
    contain triangles), this projection is a general graph. The heavy
    part is the fact-fact lineitem⋈orders shuffle; both nation lookups
    broadcast, and the DISTINCT collapses to the (≤ nations²) edge set
    with map-side partial aggregation."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
    )
    return pairs.select(
        F.least("c_nationkey", "s_nationkey").alias("a"),
        F.greatest("c_nationkey", "s_nationkey").alias("b"),
    ).distinct()


@query(
    "graph_triangles",
    family="graph",
    oracle=f"""
    WITH e AS MATERIALIZED ({_NATION_EDGES_SQL}
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS n_triangles
    FROM member GROUP BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the nation trade graph — the
    clustering-structure primitive (triangle counting is the standard
    first 'is this graph community-shaped?' measurement, and the
    building block of clustering coefficients).

    Ordered enumeration (x < y < z via a<b edges joined tip-to-tail)
    counts each triangle exactly once with two equi-joins — never a
    cartesian wedge check. Scale: the dominant cost is the edge
    DERIVATION from 100 TB of fact data (one fact-fact shuffle +
    broadcast dims, then a distinct that collapses to ≤|V|² rows); the
    triangle join itself runs on the collapsed edge set. For graphs
    whose edge set is itself huge, the same query holds — the two
    joins hash-partition on edge endpoints (the standard distributed
    triangle enumeration).
    """
    e = _nation_edges(spark, sf_dir).persist()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    member = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return member.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "graph_jaccard",
    family="graph",
    oracle=f"""
    WITH e AS MATERIALIZED ({_NATION_EDGES_SQL}
    ),
    adj AS (
        SELECT a AS u, b AS n FROM e
        UNION ALL
        SELECT b AS u, a AS n FROM e
    ),
    deg AS (
        SELECT u, count(*) AS d FROM adj GROUP BY u
    ),
    common AS (
        SELECT x.u AS u, y.u AS v, count(*) AS c
        FROM adj x JOIN adj y ON x.n = y.n AND x.u < y.u
        GROUP BY x.u, y.u
    )
    SELECT c.u AS node_a, c.v AS node_b,
           CAST(c.c AS BIGINT) AS n_common,
           CAST(da.d AS BIGINT) AS deg_a,
           CAST(db.d AS BIGINT) AS deg_b,
           round(c.c * 1.0 / (da.d + db.d - c.c), 6) AS jaccard
    FROM common c
    JOIN deg da ON da.u = c.u
    JOIN deg db ON db.u = c.v
    """,
)
def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity for every connected nation pair
    — the structural-equivalence measure behind link prediction and
    role discovery (two nations trading with the same partners are
    interchangeable in the network even if they never trade directly).

    Exact counting form: |N(u)∩N(v)| via the adjacency self-join on
    the shared neighbor (hash-partitioned on the neighbor key — the
    standard 'wedge' enumeration), |N(u)∪N(v)| = deg(u)+deg(v)−common,
    so the only double is ONE division rounded to 6 dp. Scale: wedge
    count is Σ_n deg(n)², the inherent cost of exact Jaccard; for
    power-law graphs cap the hub degree or sample wedges (documented
    divergence), exactly like the df-cap in llm_dedup_ngram.
    """
    e = _nation_edges(spark, sf_dir)
    adj = (
        e.select(F.col("a").alias("u"), F.col("b").alias("n"))
        .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("n")))
        .persist()
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    common = (
        x.join(y, (F.col("x.n") == F.col("y.n")) & (F.col("x.u") < F.col("y.u")))
        .groupBy(F.col("x.u").alias("u"), F.col("y.u").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    da = deg.select(F.col("u").alias("_u"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("_v"), F.col("d").alias("deg_b"))
    return (
        common.join(F.broadcast(da), common.u == F.col("_u"))
        .join(F.broadcast(db), common.v == F.col("_v"))
        .select(
            F.col("u").alias("node_a"),
            F.col("v").alias("node_b"),
            F.col("c").cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.round(
                F.col("c")
                * F.lit(1.0)
                / (F.col("deg_a") + F.col("deg_b") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
    )


BFS_SOURCE = "s1"  # supplier 1
BFS_MAX_HOPS = 4


@query(
    "graph_bfs",
    family="graph",
    oracle=f"""
    WITH RECURSIVE pair AS (
        SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT a, b FROM pair UNION ALL SELECT b, a FROM pair
    ),
    bfs AS (
        SELECT '{BFS_SOURCE}' AS node, 0 AS hop
        UNION
        SELECT e.b AS node, bfs.hop + 1 AS hop
        FROM bfs JOIN edges e ON e.a = bfs.node
        WHERE bfs.hop < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(min(hop) AS INT) AS hop
    FROM bfs GROUP BY node ORDER BY node
    """,
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distance over the trade graph (source =
    supplier 1, bounded to BFS_MAX_HOPS=4 hops): the shortest-path
    skeleton of reachability/impact analysis, and the iterative twin
    the recursive-CTE oracle can check exactly — unlike pagerank's
    float fixpoint, hop counts are discrete, so this is the graph
    family's SQL-oracled iterative algorithm.

    Level-synchronous frontier expansion: each round joins the current
    frontier to the edge list (node-keyed equi-join), anti-joins the
    visited set (same key, so one partitioning serves both), and the
    first time a node is seen IS its minimum hop — no min() needed
    engine-side. The frontier/visited sets are node-sized, never
    path-sized (the oracle's UNION-dedup recursion is the same trick:
    per-level dedup keeps the working table ≤ |nodes| instead of
    exploding with path multiplicity). localCheckpoint per round
    truncates lineage exactly as graph_pagerank does, and each round
    frees the frontier and visited set it replaced. 4 rounds × one
    join each; every shuffle keys on the node id.
    """
    pair = trade_edges(spark, sf_dir).select("a", "b").distinct().persist()
    visited = spark.createDataFrame(
        [(BFS_SOURCE, 0)], "node string, hop int"
    ).localCheckpoint()
    frontier = visited
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(pair, frontier.node == pair.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint()
        )
        if frontier is not visited:
            free_checkpoint(frontier)
        frontier = nxt
        if nxt.isEmpty():
            break
        done = visited
        visited = visited.unionAll(nxt).localCheckpoint()
        free_checkpoint(done)
    free_checkpoint(frontier)
    pair.unpersist()
    return visited


KCORE_K = 3
KCORE_ORACLE_ROUNDS = 4  # unrolled peel rounds in the SQL witness


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled relational peel witness (rows-only→SQL conversion,
    VERDICT r10 #4). SQL recursion forbids the per-round degree
    aggregate and the supplier↔customer trade graph is far too large
    for the coreness LIST-MACHINE (≈600k undirected edges at sf0.1 vs
    the backbone's BETW_EDGE_BUDGET cap), so the peel is unrolled:
    round r keeps nodes with ≥k surviving neighbors and semi-joins the
    edge set down on both endpoints — exactly kcore_membership's loop
    body. The engine peels to the FIXPOINT; equality holds whenever
    the fixpoint arrives within ``rounds`` — measured 1 round at
    sf0.001/sf0.01 and 2 at sf0.1, and pinned with margin by
    tests/test_graph.py::test_kcore_oracle_round_margin so a corpus
    change fails loudly instead of as an oracle mismatch (the
    llm_dedup_ngram df-cap contract pattern)."""
    parts = [
        """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
    k{r} AS MATERIALIZED (
        SELECT a FROM (
            SELECT a FROM e{r} UNION ALL SELECT b FROM e{r}
        ) GROUP BY a HAVING count(*) >= {k}
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r} e
        JOIN k{r} x ON e.a = x.a
        JOIN k{r} y ON e.b = y.a
    )"""
        )
    parts.append(
        f"""
    SELECT node, CAST({k} AS INT) AS core_k
    FROM (
        SELECT a AS node FROM e{rounds}
        UNION
        SELECT b FROM e{rounds}
    )"""
    )
    return "".join(parts)


@query(
    "graph_kcore",
    family="graph",
    oracle=_kcore_oracle(KCORE_K, KCORE_ORACLE_ROUNDS),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition membership (k=3) of the trade graph: the
    maximal subgraph where every node keeps degree ≥ k — the standard
    dense-region extractor (spam rings, collusion clusters) and the
    graph family's iterative PEELING algorithm next to propagation
    (pagerank/cluster) and expansion (bfs).

    Level-synchronous peel: each round computes degrees over the
    SURVIVING edge set (one node-keyed aggregate), drops nodes under
    k, and semi-joins the edge set down on BOTH endpoints (the same
    node-keyed partitioning all rounds — no new shuffle key ever
    appears). The peel runs to the FIXPOINT (exit when a round drops
    nothing) — termination is a theorem, not a budget: every non-final
    round strictly shrinks the edge set, so rounds ≤ |E|. A fixed
    round cap here (the pre-r6 KCORE_MAX_ROUNDS=12, ADVICE r5) could
    return nodes with degree < k on a long-chain graph whose peel
    needs more rounds, silently violating the k-core contract.
    localCheckpoint truncates per-round lineage exactly like
    graph_pagerank/graph_bfs. The surviving edge relation only
    SHRINKS, so per-round cost is monotonically decreasing — the peel
    converges in a handful of rounds on power-law graphs at any
    scale.

    SQL-ORACLED since round 11 (the 8th rows-only→SQL conversion):
    the witness unrolls KCORE_ORACLE_ROUNDS peel rounds relationally
    (see _kcore_oracle — fixpoint margin pytest-pinned);
    tests/test_graph.py additionally checks exact membership equality
    against a driver-side reference peel.
    """
    edges = trade_edges(spark, sf_dir).select("a", "b").distinct()
    return kcore_membership(edges, KCORE_K)


def kcore_membership(edges: DataFrame, k: int) -> DataFrame:
    """Fixpoint peel over a symmetric (a, b) edge DataFrame — the
    graph_kcore engine, factored out so tests can feed adversarial
    topologies (the >12-round long-chain cascade from ADVICE r5).
    Each round frees the edge set and keep set it replaced; the
    returned frame reads only the last edge set."""
    edges = edges.localCheckpoint()
    while True:
        deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        # cheap fixpoint probe BEFORE the expensive round (r12 sf1
        # ledger: the peel is checkpoint-I/O-bound — every round
        # rewrites the full surviving edge relation, and the final
        # no-drop confirmation round used to pay that too; probing the
        # drop count first makes confirmation one aggregate job,
        # halving the rounds on fast-converging graphs at ANY scale)
        if deg.filter(F.col("d") < k).isEmpty():
            break
        keep = deg.filter(F.col("d") >= k).select("a").localCheckpoint()
        done = edges
        edges = (
            edges.join(keep, "a", "semi")
            .join(keep.select(F.col("a").alias("b")), "b", "semi")
            .localCheckpoint()
        )
        free_checkpoint(done)
        free_checkpoint(keep)
    return (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("core_k", F.lit(k))
        .orderBy("node")
    )


@query(
    "graph_link_predict",
    family="graph",
    oracle=f"""
    WITH e AS MATERIALIZED ({_NATION_EDGES_SQL}
    ),
    adj AS (
        SELECT a AS u, b AS n FROM e
        UNION ALL
        SELECT b AS u, a AS n FROM e
    ),
    deg AS (
        SELECT u, count(*) AS d FROM adj GROUP BY u
    ),
    wedge AS (
        SELECT x.u AS u, y.u AS v, x.n AS n, dn.d AS dn
        FROM adj x
        JOIN adj y ON x.n = y.n AND x.u < y.u
        JOIN deg dn ON dn.u = x.n
    )
    SELECT u AS node_a, v AS node_b,
           CAST(count(*) AS BIGINT) AS n_common,
           round(list_sum(list(1.0 / ln(CAST(dn AS DOUBLE)) ORDER BY n)), 6)
               AS adamic_adar,
           round(list_sum(list(1.0 / CAST(dn AS DOUBLE) ORDER BY n)), 6)
               AS resource_alloc
    FROM wedge GROUP BY u, v
    """,
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores for every wedge-connected nation pair:
    Adamic–Adar (Σ 1/ln deg(n) over common neighbors — rare shared
    partners count more) and Resource Allocation (Σ 1/deg(n), the
    stronger empirical predictor) — the classic 'who trades next'
    features next to graph_jaccard's structural overlap.

    Determinism: both scores are multi-term double sums, so each pair
    folds its common-neighbor terms in EXPLICIT neighbor order — the
    established list_sum(list(x ORDER BY n)) ≡
    aggregate(array_sort(collect_list(struct(n, x)))) identity; ln is
    engine-agreeing on this corpus exactly as agg_entropy's oracle
    already proves. A common neighbor always has degree ≥ 2, so
    1/ln(d) is never 1/0. Scale: the same wedge enumeration as
    graph_jaccard (Σ deg² — cap hubs on power-law graphs, the
    documented df-cap analogue), plus one broadcast degree join.
    """
    e = _nation_edges(spark, sf_dir)
    adj = (
        e.select(F.col("a").alias("u"), F.col("b").alias("n"))
        .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("n")))
        .persist()
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    wedge = (
        x.join(y, (F.col("x.n") == F.col("y.n")) & (F.col("x.u") < F.col("y.u")))
        .join(
            F.broadcast(deg.select(F.col("u").alias("_n"), F.col("d").alias("dn"))),
            F.col("x.n") == F.col("_n"),
        )
        .select(
            F.col("x.u").alias("u"),
            F.col("y.u").alias("v"),
            F.col("x.n").alias("n"),
            "dn",
        )
    )
    aa_fold = (
        "aggregate(transform(array_sort(collect_list(struct(n, dn))),"
        " s -> 1.0 / ln(CAST(s.dn AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    ra_fold = (
        "aggregate(transform(array_sort(collect_list(struct(n, dn))),"
        " s -> 1.0 / CAST(s.dn AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    return wedge.groupBy(
        F.col("u").alias("node_a"), F.col("v").alias("node_b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.round(F.expr(aa_fold), 6).alias("adamic_adar"),
        F.round(F.expr(ra_fold), 6).alias("resource_alloc"),
    )


LPA_ROUNDS = 6


def _label_prop_oracle(rounds: int) -> str:
    """Unrolled relational replay of the alternating-side LPA schedule
    (rows-only→SQL conversion #14, round 12). Unlike the k-core peel
    there is NO fixpoint margin to pin: the engine runs EXACTLY
    LPA_ROUNDS rounds, so the witness unrolls the same fixed count and
    equality is schedule-exact by construction. Each round is one
    edge×label join + a (node, label) weight aggregate + a
    deterministic argmax — row_number() ORDER BY sum(w) DESC, label
    replays the engine's min(struct(-wt, nl)) tie-break exactly
    (weights are exact BIGINT cents; labels are ASCII, binary order in
    both engines). Cents via CAST(round(x*100) AS BIGINT), the
    agg_minmax_by precedent that hash-matches on this DOUBLE column."""
    parts = [
        """
    WITH pair AS MATERIALIZED (
        SELECT 's' || l_suppkey AS a, 'c' || o_custkey AS b,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_suppkey, o_custkey
    ),
    edges AS MATERIALIZED (
        SELECT a, b, w FROM pair
        UNION ALL
        SELECT b AS a, a AS b, w FROM pair
    ),
    lab0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS label FROM edges
    )"""
    ]
    for r in range(rounds):
        side = "s" if r % 2 == 0 else "c"
        parts.append(
            f""",
    ad{r} AS MATERIALIZED (
        SELECT node, new_label FROM (
            SELECT e.a AS node, l.label AS new_label,
                   row_number() OVER (
                       PARTITION BY e.a
                       ORDER BY sum(e.w) DESC, l.label
                   ) AS rn
            FROM edges e JOIN lab{r} l ON l.node = e.b
            WHERE substr(e.a, 1, 1) = '{side}'
            GROUP BY e.a, l.label
        ) WHERE rn = 1
    ),
    lab{r + 1} AS MATERIALIZED (
        SELECT n.node,
               CASE WHEN substr(n.node, 1, 1) = '{side}'
                    THEN coalesce(x.new_label, n.label)
                    ELSE n.label END AS label
        FROM lab{r} n LEFT JOIN ad{r} x ON x.node = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, label AS community, substr(node, 1, 1) AS kind
    FROM lab{rounds}"""
    )
    return "".join(parts)


@query(
    "graph_label_prop",
    family="graph",
    oracle=_label_prop_oracle(LPA_ROUNDS),
)
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by label propagation (Raghavan et al. 2007)
    over the trade graph — the soft-clustering sibling of
    llm_dedup_cluster's connected components (CC finds REACHABILITY;
    LPA finds densely-traded communities inside one giant component).

    Determinism, the two classic LPA failure modes closed:
      • synchronous updates OSCILLATE on bipartite graphs — and the
        supplier↔customer graph is exactly bipartite — so rounds
        alternate sides (suppliers adopt on even rounds, customers on
        odd): a two-coloring schedule is oscillation-free and fully
        deterministic, no random sweep order;
      • ties: edge weights are EXACT integer cents (a double revenue
        sum has order-dependent low bits → engine-arbitrary argmax),
        and the adopted label is min(struct(-weight, label)) — max
        weight, then lexicographically least label.

    Scale: per round, one join of the (side-filtered) edge list with
    the label vector on the neighbor key + one node-keyed aggregate —
    the graph_pagerank shape; labels localCheckpoint per round, and each
    round frees the labels it replaced.

    SQL-ORACLED since round 12 (the 14th rows-only→SQL conversion):
    the schedule is a FIXED LPA_ROUNDS-round unroll (not a fixpoint),
    so _label_prop_oracle replays it round-exact relationally with no
    convergence margin to pin. tests/test_graph.py additionally
    replays the exact schedule in pure Python and asserts
    label-for-label equality.
    """
    # r13: persist the directed int-keyed pair BEFORE the symmetric
    # union references it twice (the graph_pagerank double-execution
    # fix); supplier k → 2k, customer k → 2k+1, strings reconstructed
    # at the output edge only.
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ipair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("w")
        )
        .select(
            (F.col("l_suppkey") * 2).cast("int").alias("a"),
            (F.col("o_custkey") * 2 + 1).cast("int").alias("b"),
            "w",
        )
        .persist()
    )
    n_pairs = ipair.count()
    if n_pairs == 0:
        # empty-graph guard (ADVICE r13): explicit schema, never an
        # empty pandas frame
        ipair.unpersist()
        return spark.createDataFrame(
            [], "node string, community string, kind string"
        )
    if n_pairs <= PR_LOCAL_MAX_EDGES:
        # r14 tier (the graph_pagerank PR_LOCAL_MAX_EDGES shape):
        # collect the pair list once and replay all LPA_ROUNDS in
        # numpy — 6 per-round jobs collapse to ONE Arrow collect.
        # Everything is exact: weights sum as int64 (order-free), and
        # the argmax min(struct(-wt, nl)) is replayed as a lexsort on
        # (-wt, string-rank) where string-rank is each label's index
        # in the LEXICOGRAPHICALLY sorted node-name universe — node
        # names are pure-ASCII 'c<k>'/'s<k>', so Python/numpy string
        # sort order ≡ Spark's binary UTF8 order, and rank order ≡
        # label order. The tier-parity test forces this gate off and
        # asserts label-for-label equality.
        import numpy as np
        import pandas as pd

        pdf = ipair.toPandas()
        ipair.unpersist()
        a = pdf["a"].to_numpy()
        b = pdf["b"].to_numpy()
        w = pdf["w"].to_numpy(np.int64)
        # hash-based node indexing (see graph_pagerank — sorted-unique
        # + searchsorted cost pure sorting time at the sf1 probe)
        codes, uniq = pd.factorize(np.concatenate([a, b]))
        ne = len(w)
        ai = codes[:ne]
        bi = codes[ne:]
        n = int(len(uniq))
        ids = np.asarray(uniq, np.int64)
        names = np.array(
            [("c" if i % 2 else "s") + str(i // 2) for i in ids.tolist()]
        )
        order = np.argsort(names)  # node-sized lexicographic sort —
        # ≡ Spark UTF8 order on these pure-ASCII names
        lrank = np.empty(n, np.int64)
        lrank[order] = np.arange(n)
        names_by_rank = names[order]
        # per-side adopter views, precomputed once: for each round
        # parity, the (adopter, neighbor, weight) triples from both
        # symmetric directions — the parity masks never change
        adopt_side = {}
        for side_mod in (0, 1):
            m1 = (ids[ai] % 2) == side_mod
            m2 = (ids[bi] % 2) == side_mod
            aa = np.concatenate([ai[m1], bi[m2]])
            nb = np.concatenate([bi[m1], ai[m2]])
            wv = np.concatenate([w[m1], w[m2]])
            adopt_side[side_mod] = (aa, nb, wv)
        state = lrank.copy()  # each node starts labeled with itself
        nbig = np.int64(n)
        for r in range(LPA_ROUNDS):
            side_mod = 0 if r % 2 == 0 else 1  # 's' even, 'c' odd
            aa, nb, wv = adopt_side[side_mod]
            nl = state[nb]
            kcodes, kuniq = pd.factorize(aa * nbig + nl)
            wt = np.zeros(len(kuniq), np.int64)
            np.add.at(wt, kcodes, wv)
            ga = kuniq // nbig
            gnl = kuniq % nbig
            # argmax = min(struct(-wt, nl)): dense two-pass — max wt
            # per adopter, then min label-rank among the maxima (exact
            # integer compares only)
            best_wt = np.full(n, -1, np.int64)
            np.maximum.at(best_wt, ga, wt)
            tied = wt == best_wt[ga]
            best_nl = np.full(n, nbig, np.int64)
            np.minimum.at(best_nl, ga[tied], gnl[tied])
            upd = best_wt >= 0
            state[upd] = best_nl[upd]
        out = spark.createDataFrame(
            pd.DataFrame(
                {
                    "node": names.tolist(),
                    "label": names_by_rank[state].tolist(),
                }
            )
        )
        return out.select(
            "node",
            F.col("label").alias("community"),
            F.substring("node", 1, 1).alias("kind"),
        )
    # distributed loop (> PR_LOCAL_MAX_EDGES), with the same
    # size-aware edge-cache packing as graph_pagerank (§14.5):
    # 6 rounds × tiny stages × 32 tasks is scheduler-bound locally;
    # the clamp no-ops once edges outgrow the cores
    n_edges = 2 * n_pairs
    k_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            n_edges // PR_EDGE_ROWS_PER_PART + 1,
        ),
    )
    inode_rel = (
        ipair.select("a")
        .unionAll(ipair.select(F.col("b").alias("a")))
        .distinct()
    )
    n_nodes = inode_rel.count()
    # derive the string relations from the int-keyed pair cache (one
    # pass, identical values)
    _name = "concat(IF(pmod({c}, 2) = 0, 's', 'c'), CAST({c} DIV 2 AS STRING))"
    edges = (
        ipair.unionAll(
            ipair.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .selectExpr(
            _name.format(c="a") + " AS a",
            _name.format(c="b") + " AS b",
            "w",
        )
        .coalesce(k_parts)
        .persist()
    )
    edges.count()
    ipair.unpersist()
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    # label vector broadcast below the pagerank gate: the EDGE list —
    # the big side — never shuffles for the per-round label join
    broadcast_labels = n_nodes <= PR_BROADCAST_MAX_NODES
    for r in range(LPA_ROUNDS):
        side = "s" if r % 2 == 0 else "c"
        nbr = labels.select(
            F.col("node").alias("b"), F.col("label").alias("nl")
        )
        if broadcast_labels:
            nbr = F.broadcast(nbr)
        adopted = (
            edges.filter(F.substring("a", 1, 1) == side)
            .join(nbr, "b")
            .groupBy("a", "nl")
            .agg(F.sum("w").cast("bigint").alias("wt"))
            .groupBy("a")
            .agg(
                F.min(F.struct((-F.col("wt")).alias("nw"), F.col("nl")))
                .getField("nl")
                .alias("new_label")
            )
            .select(F.col("a").alias("node"), "new_label")
        )
        done = labels
        labels = (
            labels.join(adopted, "node", "left")
            .select(
                "node",
                F.when(
                    F.substring("node", 1, 1) == side,
                    F.coalesce("new_label", "label"),
                )
                .otherwise(F.col("label"))
                .alias("label"),
            )
            .localCheckpoint()
        )
        free_checkpoint(done)
    edges.unpersist()
    return labels.select(
        "node",
        F.col("label").alias("community"),
        F.substring("node", 1, 1).alias("kind"),
    )


_DUCK_NATION_EDGES = """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                        greatest(c.c_nationkey, s.s_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    )
"""


@query(
    "graph_clustering_coeff",
    family="graph",
    oracle=_DUCK_NATION_EDGES
    + """
    , und AS (
        SELECT a AS node, b AS nb FROM e
        UNION ALL SELECT b, a FROM e
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM und GROUP BY node
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcnt AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
        GROUP BY node
    )
    SELECT deg.node, deg.degree,
           CAST(COALESCE(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN deg.degree >= 2
                      THEN CAST(2 * COALESCE(tcnt.n_triangles, 0) AS DOUBLE)
                           / (deg.degree * (deg.degree - 1))
                      ELSE CAST(0 AS DOUBLE) END, 6) + 0.0
               AS clustering_coeff
    FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation — the per-node
    community-density measure built on graph_triangles' machinery:
    CC(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the fraction of v's
    neighbor pairs that are themselves connected. Together with
    graph_degree and graph_triangles this completes the standard
    'is this graph community-shaped?' triple; deg ≤ 1 nodes carry
    CC = 0 by convention.

    Determinism: degree and triangle counts are exact integers over
    the DISTINCT undirected edge set (derivation from the 100 TB fact
    tables = broadcast dims + one fact shuffle, then a ≤|V|² distinct
    collapse — the graph_triangles scale story); the coefficient is
    one IEEE division of exact integers.
    """
    e = _nation_edges(spark, sf_dir).persist()
    und = e.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        e.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = und.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    t2 = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint")
    return deg.join(tcnt, "node", "left").select(
        "node",
        "degree",
        t2.alias("n_triangles"),
        (
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    (F.lit(2) * t2).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            )
            + 0.0
        ).alias("clustering_coeff"),
    )


@query(
    "graph_assortativity",
    family="graph",
    oracle="""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
    dc AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY c),
    pairs AS (
        SELECT ds.d AS dx, dc.d AS dy
        FROM e JOIN ds ON e.s = ds.s JOIN dc ON e.c = dc.c
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS m_edges,
               CAST(sum(dx) AS BIGINT) AS sdx,
               CAST(sum(dy) AS BIGINT) AS sdy,
               CAST(sum(dx * dy) AS BIGINT) AS sxy1,
               CAST(sum(dx * dx) AS BIGINT) AS sxx1,
               CAST(sum(dy * dy) AS BIGINT) AS syy1
        FROM pairs
    )
    SELECT CAST(2 * m_edges AS BIGINT) AS n_directed_edges,
           round((CAST(2 * m_edges AS DOUBLE) * (2 * sxy1)
                  - CAST(sdx + sdy AS DOUBLE) * (sdx + sdy))
                 / (CAST(2 * m_edges AS DOUBLE) * (sxx1 + syy1)
                    - CAST(sdx + sdy AS DOUBLE) * (sdx + sdy)), 6) + 0.0
               AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the BIPARTITE supplier↔customer trade
    graph — Newman's degree-mixing coefficient: the Pearson
    correlation of endpoint degrees over the directed edge list.
    Bipartite trade graphs are canonically DISASSORTATIVE (high-degree
    suppliers serve long tails of low-degree customers); the nation
    projection is useless here — it is complete at every shipped SF
    (all degrees equal, zero variance — the first draft divided by
    zero on exactly that). With degree, triangles, clustering
    coefficient and Jaccard this completes the structural profile.

    Symmetrization in closed form: for the both-directions edge list,
    n = 2m, Σx = Σy = Σ(dₛ+d_c), Σxy = 2Σdₛd_c, Σx² = Σy² =
    Σ(dₛ²+d_c²) — so ONE directional pass yields the exact symmetric
    Pearson, and because Σx = Σy and Σx² = Σy² the denominator needs
    no sqrt at all ((n·Σx²−(Σx)²) appears squared under it): r =
    (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²), a ratio of exact integers.

    Scale: the edge set is the trade_edges derivation (one fact-fact
    shuffle + distinct); degree attaches are co-partitioned joins;
    the moment aggregate is one row. Integer moments: degrees ≤ |C|,
    Σd² ≤ m·|C|² — BIGINT holds through sf1 with 10⁶ headroom; at
    true 100 TB widths stage the moments in DECIMAL(38,0).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        .persist()
    )
    ds = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("dx"))
    dc = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("dy"))
    pairs = e.join(ds, "s").join(dc, "c").select("dx", "dy")
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_edges"),
        F.sum("dx").cast("bigint").alias("sdx"),
        F.sum("dy").cast("bigint").alias("sdy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy1"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx1"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy1"),
    )
    n = (F.lit(2) * F.col("m_edges")).cast("double")
    ssum = (F.col("sdx") + F.col("sdy")).cast("double")
    num = n * (2 * F.col("sxy1")) - ssum * ssum
    den = n * (F.col("sxx1") + F.col("syy1")) - ssum * ssum
    return m.select(
        (F.lit(2) * F.col("m_edges")).cast("bigint").alias(
            "n_directed_edges"
        ),
        (F.round(num / den, 6) + 0.0).alias("assortativity"),
    )


# --- Sampled-source betweenness (round 9) -----------------------------

BETW_EDGE_BUDGET = 40  # top trade edges kept (complete graph is degenerate)
BETW_SOURCE_MOD = 3  # sample sources: nationkey % 3 == 0


def _backbone(spark: SparkSession, sf_dir: str) -> list[tuple[int, int]]:
    """Sparse backbone of the nation trade graph, collected: the
    assortativity/clustering ops showed the raw nation projection is
    COMPLETE at every shipped SF — and betweenness on a complete graph
    is identically zero. Keep the BETW_EDGE_BUDGET heaviest (a, b)
    edges by lineitem count under the exact total order (cnt DESC, a,
    b), the standard network-backbone extraction. (a, b) is the group
    key, so the order is total and the top-K limit (one
    TakeOrderedAndProject) selects exactly the oracle's rnk ≤ budget
    rows. The list is ≤ BETW_EDGE_BUDGET rows at every corpus size, so
    the three backbone operators run on the driver."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = w.orderBy(F.desc("cnt"), "a", "b").limit(BETW_EDGE_BUDGET)
    return [(r.a, r.b) for r in top.collect()]


def _adjacency(pairs: list[tuple[int, int]]) -> dict[int, set[int]]:
    """Undirected neighbour sets of an (a, b) edge list."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


BETW_ORACLE_DEPTH = 5  # unrolled BFS levels in the SQL witness


def _betweenness_oracle(depth: int) -> str:
    """Unrolled relational sampled-Brandes witness (rows-only→SQL
    conversion #15, round 12). Forward: BETW_ORACLE_DEPTH BFS levels
    with exact-BIGINT σ path counts (each level = candidate join +
    anti-vs-visited + grouped σ sum — order-free integers). Backward:
    per-depth dependency deltas where EVERY double fold is ordered —
    the successor ratio sum folds ORDER BY the successor node and the
    per-node betweenness sum folds ORDER BY source, replaying the
    engine's array_sort(collect_list(...)) aggregates term for term
    (the llm_mmr_diversify ordered-float-fold discipline). Equality
    needs the BFS to exhaust within ``depth`` levels — measured max
    depth 3 at every shipped SF, margin pinned by
    tests/test_graph.py::test_betweenness_oracle_depth_margin (the
    kcore margin-pin pattern)."""
    parts = [
        f"""
    WITH w AS MATERIALIZED (
        SELECT least(c_nationkey, s_nationkey) AS a,
               greatest(c_nationkey, s_nationkey) AS b,
               count(*) AS cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
        GROUP BY 1, 2
    ),
    backbone AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk
            FROM w
        ) WHERE rnk <= {BETW_EDGE_BUDGET}
    ),
    edges AS MATERIALIZED (
        SELECT a AS u, b AS v FROM backbone
        UNION ALL SELECT b AS u, a AS v FROM backbone
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges),
    sources AS MATERIALIZED (
        SELECT node AS src FROM nodes WHERE node % {BETW_SOURCE_MOD} = 0
    ),
    lvl0 AS MATERIALIZED (
        SELECT src, src AS node, CAST(1 AS BIGINT) AS sigma FROM sources
    ),
    vis0 AS MATERIALIZED (SELECT src, node FROM lvl0)"""
    ]
    for d in range(1, depth + 1):
        parts.append(
            f""",
    lvl{d} AS MATERIALIZED (
        SELECT f.src, e.v AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
        FROM lvl{d - 1} f
        JOIN edges e ON e.u = f.node
        LEFT JOIN vis{d - 1} x ON x.src = f.src AND x.node = e.v
        WHERE x.node IS NULL
        GROUP BY f.src, e.v
    ),
    vis{d} AS MATERIALIZED (
        SELECT * FROM vis{d - 1} UNION ALL SELECT src, node FROM lvl{d}
    )"""
        )
    parts.append(
        f""",
    del{depth} AS MATERIALIZED (
        SELECT src, node, sigma, 0.0 AS delta FROM lvl{depth}
    )"""
    )
    for d in range(depth, 1, -1):
        parts.append(
            f""",
    con{d} AS MATERIALIZED (
        SELECT d.src, e.u AS node,
               list_sum(list((1.0 + d.delta) / CAST(d.sigma AS DOUBLE)
                             ORDER BY d.node)) AS ratio_sum
        FROM del{d} d JOIN edges e ON e.v = d.node
        GROUP BY d.src, e.u
    ),
    del{d - 1} AS MATERIALIZED (
        SELECT l.src, l.node, l.sigma,
               coalesce(c.ratio_sum, 0.0) * CAST(l.sigma AS DOUBLE)
                   AS delta
        FROM lvl{d - 1} l
        LEFT JOIN con{d} c ON c.src = l.src AND c.node = l.node
    )"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT src, node, delta FROM del{d}"
        for d in range(depth, 0, -1)
    )
    parts.append(
        f""",
    alld AS (
        {union}
    ),
    bc AS (
        SELECT node, list_sum(list(delta ORDER BY src)) AS raw
        FROM alld WHERE node <> src GROUP BY node
    ),
    meta AS (
        -- zero-source guard mirrors the engine's 'if n_sources else
        -- 0.0' (ADVICE r12): an empty sample yields scale 0, not a
        -- division by zero
        SELECT CASE WHEN (SELECT count(*) FROM sources) > 0
                    THEN (SELECT CAST(count(*) AS DOUBLE) FROM nodes)
                         / (SELECT CAST(count(*) AS DOUBLE) FROM sources)
                         / 2.0
                    ELSE 0.0 END AS scale,
               (SELECT count(*) FROM sources) AS ns
    )
    SELECT n.node AS node,
           round(coalesce(b.raw, 0.0) * m.scale, 6) + 0.0 AS betweenness,
           CAST(m.ns AS BIGINT) AS n_sources
    FROM nodes n LEFT JOIN bc b ON b.node = n.node CROSS JOIN meta m"""
    )
    return "".join(parts)


@query(
    "graph_betweenness_sample",
    family="graph",
    oracle=_betweenness_oracle(BETW_ORACLE_DEPTH),
)
def graph_betweenness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes betweenness centrality on the trade
    backbone (VERDICT r8 #9 — completes the centrality pair with
    pagerank: pagerank measures where mass settles, betweenness
    measures who brokers). Sources are the deterministic sample
    {{v : v % {BETW_SOURCE_MOD} == 0}}; the estimate is the standard
    sampled-Brandes sum scaled by |V|/|S|, halved for undirectedness.

    Brandes (2001), level-synchronous, on the driver: the backbone is
    at most BETW_EDGE_BUDGET edges at every corpus size (_backbone), so
    the corpus-sized work — the 4-table edge derivation and its top-K
    — stays in Spark and the loop runs over the collected list:
      forward — multi-source BFS carrying σ (shortest-path counts):
        each candidate (src, child) sums its parents' σ before the
        visited set grows (exact integers);
      backward — dependency accumulation per depth d = maxd..1:
        δ_v = Σ_{w : succ on SP} σ_v/σ_w · (1 + δ_w); the σ ratio
        keeps only true shortest-path successors because BFS depths
        differ by exactly 1.

    SQL-ORACLED since round 12 (the 15th rows-only→SQL conversion):
    the two float δ sums are ORDERED folds — each (src, node)'s
    successor terms fold in successor order and each node's deltas
    fold in source order — so every double accumulates in the sequence
    that DuckDB's list_sum(list(x ORDER BY k)) replays bit-for-bit
    (_betweenness_oracle; BFS-depth margin pytest-pinned like the
    kcore peel). The final round/scale arithmetic stays in Spark
    expressions on the local relation, so no float op moves engines.
    The pure-Python Brandes replay pytest stays as the independent
    ground truth.

    Scale: the heavy stage is the edge derivation (one fact-fact
    shuffle, the graph_triangles cost model); source sampling is the
    knob that bounds the Brandes work (exact is |V| BFS passes; an
    ε-approximation needs O(log|V|/ε²) sampled sources regardless of
    graph size).
    """
    adj = _adjacency(_backbone(spark, sf_dir))
    nodes = sorted(adj)
    sources = [v for v in nodes if v % BETW_SOURCE_MOD == 0]
    n_nodes, n_sources = len(nodes), len(sources)

    # forward: level-synchronous multi-source BFS with exact-int σ —
    # candidate (src, child) sums parent σ BEFORE visited is updated,
    # exactly like the engine's anti-join + grouped sum
    dist: dict[tuple[int, int], int] = {(s, s): 0 for s in sources}
    sigma: dict[tuple[int, int], int] = {(s, s): 1 for s in sources}
    levels: list[list[tuple[int, int]]] = [[(s, s) for s in sources]]
    frontier = levels[0]
    while frontier:
        nxt: dict[tuple[int, int], int] = {}
        for src, node in frontier:
            sg = sigma[(src, node)]
            for v in adj[node]:
                if (src, v) not in dist:
                    nxt[(src, v)] = nxt.get((src, v), 0) + sg
        if not nxt:
            break
        d = len(levels)
        for k, sg in nxt.items():
            dist[k] = d
            sigma[k] = sg
        frontier = list(nxt)
        levels.append(frontier)
    maxd = len(levels) - 1

    # backward: per-depth dependency deltas; every float op replays
    # the oracle's ordered folds — term = (1.0+δ_w)/σ_w, ratio sums
    # fold 0.0-seeded in w-node ASC order, δ_v = ratio_sum·σ_v
    acc: dict[tuple[int, int], float] = {}
    delta: dict[tuple[int, int], float] = {
        k: 0.0 for k in levels[maxd]
    }
    for depth in range(maxd, 0, -1):
        acc.update(delta)
        contrib: dict[tuple[int, int], list[tuple[int, float]]] = {}
        for src, w_node in levels[depth]:
            term = (1.0 + delta[(src, w_node)]) / float(
                sigma[(src, w_node)]
            )
            for u in adj[w_node]:
                contrib.setdefault((src, u), []).append((w_node, term))
        delta = {}
        for k in levels[depth - 1]:
            lst = contrib.get(k)
            if lst:
                lst.sort()
                rs = 0.0
                for _, term in lst:
                    rs += term
                delta[k] = rs * float(sigma[k])
            else:
                delta[k] = 0.0
    scale = float(n_nodes) / float(n_sources) / 2.0 if n_sources else 0.0

    per_node: dict[int, list[tuple[int, float]]] = {}
    for (src, node), dl in acc.items():
        if node != src:
            per_node.setdefault(node, []).append((src, dl))
    raw: dict[int, float] = {}
    for node, lst in per_node.items():
        lst.sort()
        r = 0.0
        for _, dl in lst:
            r += dl
        raw[node] = r

    out = spark.createDataFrame(
        [(node, raw.get(node)) for node in nodes],
        "node int, raw double",
    )
    return out.select(
        "node",
        (
            F.round(
                F.coalesce(F.col("raw"), F.lit(0.0)) * F.lit(scale), 6
            )
            + 0.0
        ).alias("betweenness"),
        F.lit(n_sources).cast("bigint").alias("n_sources"),
    )


@query(
    "graph_closeness_sample",
    family="graph",
    oracle=f"""
    WITH RECURSIVE w AS MATERIALIZED (
        SELECT least(c_nationkey, s_nationkey) AS a,
               greatest(c_nationkey, s_nationkey) AS b,
               count(*) AS cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
        GROUP BY 1, 2
    ),
    backbone AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk
            FROM w
        ) WHERE rnk <= {BETW_EDGE_BUDGET}
    ),
    edges AS MATERIALIZED (
        SELECT a AS u, b AS v FROM backbone
        UNION ALL SELECT b AS u, a AS v FROM backbone
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges),
    sources AS MATERIALIZED (
        SELECT node AS src FROM nodes WHERE node % {BETW_SOURCE_MOD} = 0
    ),
    bfs AS (
        SELECT src, src AS node, 0 AS dist FROM sources
        UNION
        SELECT bfs.src, e.v AS node, bfs.dist + 1 AS dist
        FROM bfs JOIN edges e ON e.u = bfs.node
        WHERE bfs.dist < 30
    ),
    sp AS (SELECT src, node, min(dist) AS dist FROM bfs GROUP BY src, node),
    cnts AS (
        SELECT node, dist,
               CAST(count(*) AS DOUBLE) / CAST(dist AS DOUBLE) AS term
        FROM sp WHERE dist > 0 GROUP BY node, dist
    ),
    fold AS (
        SELECT node,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                                list(term ORDER BY dist)),
                   (acc, x) -> acc + x) AS h_raw
        FROM cnts GROUP BY node
    ),
    m AS (
        SELECT CAST((SELECT count(*) FROM nodes) - 1 AS DOUBLE)
                   / CAST((SELECT count(*) FROM sources) AS DOUBLE)
                   AS scale,
               (SELECT count(*) FROM sources) AS ns
    )
    SELECT n.node AS node,
           round(coalesce(f.h_raw, CAST(0 AS DOUBLE)) * m.scale, 6)
               + CAST(0 AS DOUBLE) AS harmonic,
           CAST(m.ns AS BIGINT) AS n_sources
    FROM nodes n CROSS JOIN m LEFT JOIN fold f ON n.node = f.node
    """,
)
def graph_closeness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source HARMONIC closeness on the trade backbone —
    completing the centrality trio (pagerank: where mass settles;
    betweenness: who brokers; closeness: who reaches everyone
    fastest). Harmonic form (Boldi–Vigna): H(v) = Σ_s 1/d(s,v),
    the closeness variant that handles disconnected pairs natively
    (unreachable ⇒ 0 contribution, no infinite mean) — the right
    choice on a top-K backbone that may shed nodes. Undirected edges
    make d(s,v) = d(v,s), so distances FROM the sampled sources
    estimate every node's centrality, scaled by (|V|−1)/|S|.

    Driver form: the graph_betweenness_sample forward pass minus the
    σ path counts — a level-synchronous multi-source BFS over the
    collected backbone (_backbone, ≤ BETW_EDGE_BUDGET edges at every
    corpus size; the corpus-sized edge derivation stays in Spark).

    SQL-ORACLED since round 10 (VERDICT r9 #4 — the 5th rows-only→SQL
    conversion): BFS distances are exact integers, so the only float
    is Σ 1/d — made order-deterministic by folding per-distance terms
    (count_d/d, at most diameter many) 0.0-seeded in dist-ASC order,
    the sequence DuckDB's ``list_reduce(list_prepend(0.0, list(term
    ORDER BY dist)), +)`` replays.
    The oracle replays the whole pipeline: backbone rank, multi-source
    recursive-CTE BFS (UNION-dedup, dist < 30 — a safe bound, any
    shortest path on a ≤25-node nation graph is < 25), min-dist
    extraction, ordered fold, and the (|V|−1)/|S| scale as one shared
    double division. The pure-Python BFS replay pytest stays as the
    independent ground truth.

    Scale: identical cost model to betweenness — the edge derivation
    dominates, and the source-sample size is the precision/work knob.
    The final round/scale arithmetic stays in Spark expressions.
    """
    adj = _adjacency(_backbone(spark, sf_dir))
    nodes = sorted(adj)
    sources = [v for v in nodes if v % BETW_SOURCE_MOD == 0]
    n_nodes, n_sources = len(nodes), len(sources)

    # level-synchronous multi-source BFS (exact integer distances)
    dist: dict[tuple[int, int], int] = {(s, s): 0 for s in sources}
    frontier = [(s, s) for s in sources]
    d = 0
    while frontier:
        d += 1
        nxt = []
        seen = set()
        for src, node in frontier:
            for v in adj[node]:
                k = (src, v)
                if k not in dist and k not in seen:
                    seen.add(k)
                    nxt.append(k)
        for k in nxt:
            dist[k] = d
        frontier = nxt

    scale = float(n_nodes - 1) / float(n_sources) if n_sources else 0.0
    # per-distance terms folded in dist-ASC order — the oracle's
    # list_reduce identity, replayed with the same 0.0-seeded
    # sequential adds (term = count_d / d, both exact-int operands)
    per_node: dict[int, dict[int, int]] = {}
    for (src, node), dd in dist.items():
        if dd > 0:
            cnts = per_node.setdefault(node, {})
            cnts[dd] = cnts.get(dd, 0) + 1
    h_raw: dict[int, float] = {}
    for node, cnts in per_node.items():
        acc = 0.0
        for dd in sorted(cnts):
            acc += float(cnts[dd]) / float(dd)
        h_raw[node] = acc

    out = spark.createDataFrame(
        [(node, h_raw.get(node)) for node in nodes],
        "node int, h_raw double",
    )
    return out.select(
        "node",
        (
            F.round(
                F.coalesce(F.col("h_raw"), F.lit(0.0)) * F.lit(scale), 6
            )
            + 0.0
        ).alias("harmonic"),
        F.lit(n_sources).cast("bigint").alias("n_sources"),
    )


@query(
    "graph_coreness",
    family="graph",
    oracle=f"""
    WITH RECURSIVE w AS MATERIALIZED (
        SELECT least(c_nationkey, s_nationkey) AS a,
               greatest(c_nationkey, s_nationkey) AS b,
               count(*) AS cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
        GROUP BY 1, 2
    ),
    backbone AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk
            FROM w
        ) WHERE rnk <= {BETW_EDGE_BUDGET}
    ),
    init AS (
        SELECT 1 AS k,
               list(list_value(CAST(a AS BIGINT), CAST(b AS BIGINT))
                    ORDER BY a, b) AS edges,
               list_sort(list_distinct(flatten(
                   list(list_value(CAST(a AS BIGINT), CAST(b AS BIGINT)))
               ))) AS nodes,
               CAST([] AS STRUCT(node BIGINT, core INT)[]) AS done
        FROM backbone
    ),
    peel AS (
        SELECT k, edges, nodes, done FROM init
        UNION ALL
        SELECT
          CASE WHEN len(low) > 0 THEN k ELSE k + 1 END AS k,
          CASE WHEN len(low) > 0
               THEN list_filter(edges, e -> NOT list_contains(low, e[1])
                                        AND NOT list_contains(low, e[2]))
               ELSE edges END AS edges,
          CASE WHEN len(low) > 0
               THEN list_filter(nodes, n -> NOT list_contains(low, n))
               ELSE nodes END AS nodes,
          CASE WHEN len(low) > 0
               THEN done || list_transform(
                   low, n -> {{'node': n, 'core': k - 1}})
               ELSE done END AS done
        FROM (
          SELECT k, edges, nodes, done,
                 list_filter(nodes, n ->
                     len(list_filter(edges, e -> e[1] = n OR e[2] = n)) < k
                 ) AS low
          FROM peel
        )
        WHERE len(nodes) > 0
    )
    SELECT CAST(u.node AS BIGINT) AS node, CAST(u.core AS INT) AS core
    FROM (SELECT done FROM peel WHERE len(nodes) = 0) f,
         LATERAL unnest(f.done) AS t(u)
    """,
)
def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core DECOMPOSITION of the trade backbone: every node's
    core number (the largest k whose k-core contains it) — the
    per-node generalization of graph_kcore's single-k membership, and
    the standard density ranking (spam rings, engagement tiers,
    graph-sampling priorities). Exact integers end to end, so unlike
    most iterative graph algorithms this one is SQL-ORACLED: the
    oracle replays the peel as a single-row LIST-MACHINE recursive CTE
    (state = (k, edge list, node list, assignments); each step either
    peels the current low-degree set or advances k — pure scalar list
    lambdas, which the recursion allows where aggregates are not).

    Engine form: the batch peel the oracle's list machine replays, in
    plain Python over the collected backbone (_backbone, ≤
    BETW_EDGE_BUDGET edges at every corpus size; the corpus-sized edge
    derivation stays in Spark). While nodes remain, every node whose
    degree among the survivors is under the current k gets core k−1
    and is removed at once; if none is, k advances. Termination: every
    step removes ≥1 node or increments k ≤ max-degree+1.
    """
    adj = _adjacency(_backbone(spark, sf_dir))
    core: dict[int, int] = {}
    alive = set(adj)
    k = 1
    while alive:
        low = {v for v in alive if len(adj[v] & alive) < k}
        if not low:
            k += 1
            continue
        alive -= low
        core.update(dict.fromkeys(low, k - 1))
    return spark.createDataFrame(
        sorted(core.items()), "node bigint, core int"
    )


# --- Borůvka minimum spanning forest (round 13) --------------------------

MST_ROUNDS = 8  # Borůvka rounds unrolled in the ORACLE only (measured
# fixpoint 3/4/6 at sf0.001/0.01/0.1 — margin ≥ 2, pytest-pinned); the
# engine loops run to their fixpoint under _boruvka_cap
MST_CC_ITERS = 34  # per-round CC Jacobi iterations in the oracle
# (measured max 27 at sf0.1 — margin 7, pytest-pinned)
# numpy-tier gate (the graph_pagerank PR_LOCAL_MAX_EDGES shape): below
# this directed pair count the WHOLE Borůvka loop replays in numpy on
# the collected pair list — the per-round Spark argmin jobs collapse
# to one Arrow collect. The per-component argmin min(struct(w, u, v))
# is replayed as a lexsort on (w, u_rank, v_rank), where the ranks
# index the lexicographically sorted node-name universe (pure-ASCII
# names: numpy string sort ≡ Spark binary UTF8 order), so the unique
# MSF's total order is bit-identical. Past the gate the one
# distributed Borůvka loop runs. Tier-parity pytest forces the gate
# off and asserts row equality.
MST_LOCAL_MAX_EDGES = _env_int("SPARK_GRAFT_MST_LOCAL_MAX_EDGES", 8_000_000)

_BORUVKA_CAP_MSG = "graph_mst: cross edges left after ⌈log2 V⌉ + 1 rounds"


def _boruvka_cap(n_nodes: int) -> int:
    """Loop bound of both graph_mst tiers: every component with a cross
    edge merges each round, so those components at least halve and
    ⌈log2 V⌉ selecting rounds reach the fixpoint; the round after them
    finds no cross edge. A loop that exhausts the cap raises."""
    return (n_nodes - 1).bit_length() + 1


def _mst_oracle() -> str:
    """Unrolled relational Borůvka (round 13 — completes the graph
    shelf): per round, every component picks its minimum cross edge
    under the TOTAL key (w, u, v) — exact BIGINT cents + binary string
    order, so the forest is the unique MSF and provably equals Kruskal
    under the same order (pytest replays an independent union-find
    Kruskal). Component labels after each accumulate step come from
    MST_CC_ITERS Jacobi iterations of
    lab' = least(lab, lab∘lab, neighbor-min) — warm-started from the
    previous round's labels; measured convergence ≤ 27 iterations at
    sf0.1 (margin pinned). Labels are internal: any algorithm yielding
    the same PARTITION yields the same cross-edge sets and per-block
    argmins, which is why the engine's union-find labelling and this
    Jacobi unroll agree exactly. Every CTE is MATERIALIZED — the
    weight chain references each lab table three times and DuckDB
    would otherwise re-inline it exponentially (the _qc_oracle
    lesson)."""
    parts = [
        """medges AS MATERIALIZED (
    SELECT 'c' || o_custkey AS u, 's' || l_suppkey AS v,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS w
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
mnodes AS MATERIALIZED (
    SELECT u AS node FROM medges UNION SELECT v FROM medges
),
comp0 AS MATERIALIZED (SELECT node, node AS lab FROM mnodes),
sel0 AS MATERIALIZED (
    SELECT u, v, w FROM medges WHERE 1 = 0
)"""
    ]
    for r in range(1, MST_ROUNDS + 1):
        p = r - 1
        parts.append(f"""mins{r} AS MATERIALIZED (
    SELECT u, v, w FROM (
        SELECT c, u, v, w,
               row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rk
        FROM (
            SELECT cu.lab AS c, e.u, e.v, e.w
            FROM medges e
            JOIN comp{p} cu ON e.u = cu.node
            JOIN comp{p} cv ON e.v = cv.node
            WHERE cu.lab <> cv.lab
            UNION ALL
            SELECT cv.lab, e.u, e.v, e.w
            FROM medges e
            JOIN comp{p} cu ON e.u = cu.node
            JOIN comp{p} cv ON e.v = cv.node
            WHERE cu.lab <> cv.lab))
    WHERE rk = 1
),
sel{r} AS MATERIALIZED (
    SELECT DISTINCT u, v, w FROM (
        SELECT u, v, w FROM sel{p}
        UNION ALL SELECT u, v, w FROM mins{r})
),
msym{r} AS MATERIALIZED (
    SELECT u AS n, v AS o FROM sel{r}
    UNION ALL SELECT v, u FROM sel{r}
),
lab{r}_0 AS MATERIALIZED (SELECT node, lab FROM comp{p})""")
        for j in range(1, MST_CC_ITERS + 1):
            parts.append(f"""lab{r}_{j} AS MATERIALIZED (
    SELECT l.node,
           least(l.lab, j.lab, coalesce(nb.nlab, l.lab)) AS lab
    FROM lab{r}_{j - 1} l
    JOIN lab{r}_{j - 1} j ON j.node = l.lab
    LEFT JOIN (SELECT s.n AS node, min(x.lab) AS nlab
               FROM msym{r} s JOIN lab{r}_{j - 1} x ON x.node = s.o
               GROUP BY s.n) nb ON nb.node = l.node
)""")
        parts.append(
            f"comp{r} AS MATERIALIZED "
            f"(SELECT node, lab FROM lab{r}_{MST_CC_ITERS})"
        )
    joined = ",\n".join(parts)
    return f"""
WITH {joined}
SELECT s.u, s.v, s.w, c.lab AS component
FROM sel{MST_ROUNDS} s JOIN comp{MST_ROUNDS} c ON c.node = s.u
"""


@query("graph_mst", family="graph", oracle=_mst_oracle())
def graph_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest of the trade graph (VERDICT r12
    #6 — completes the graph shelf: centrality trio + communities +
    cores + components + MST): the cheapest backbone connecting every
    supplier/customer, edge weights = exact trade cents. Emits every
    forest edge (u, v, w) plus its final component label.

    Algorithm (the distributed-MSF textbook shape): per round, each
    component picks its minimum cross edge under the TOTAL order
    (w, u, v) — with a total order the MSF is UNIQUE, so Borůvka here
    provably equals Kruskal (pytest replays an independent union-find
    Kruskal plus a networkx total-weight check). Selected edges
    accumulate; components are the connected components of the
    accumulated forest. Components at least halve per round, so both
    tiers loop until no cross edge is left and raise past ⌈log2 V⌉ + 1
    rounds (_boruvka_cap); the shipped SFs reach the fixpoint in
    3/4/6 rounds, inside the oracle's MST_ROUNDS unroll
    (margin-pinned).

    Scale: below MST_LOCAL_MAX_EDGES the whole loop replays in numpy
    off one Arrow collect. Above it, the per-round cost is ONE join of
    the (persisted) edge relation against the node-sized component
    map plus one per-component argmin — both key on node/component
    ids, the map-side-combinable shape; the edge relation never
    rewrites. The accumulated forest is NODE-sized (≤ V−1 edges); its
    component labels come from the shared components operator (its
    CC_DRIVER_MAX_PAIRS gate picks the tier; labels are
    partition-invariant, so every tier agrees bit-for-bit — pytest
    forces each gate to 0).
    Deterministic: integers and strings end to end, no floats
    anywhere."""
    # r13 optimization (the graph_pagerank shape): one persisted
    # int-keyed pair cache (customer k → 2k+1, supplier k → 2k) —
    # join/group keys are ints, while the argmin STRUCT keeps the
    # 'c…'/'s…' strings so the (w, u, v) total order (and thus the
    # unique MSF) is bit-identical to the oracle's.
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ipair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("w")
        )
        .select(
            (F.col("o_custkey") * 2 + 1).cast("int").alias("ui"),
            (F.col("l_suppkey") * 2).cast("int").alias("vi"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("u"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("v"),
            "w",
        )
        .persist()
    )
    n_pairs = ipair.count()
    if n_pairs == 0:
        # empty-graph guard (ADVICE r13)
        ipair.unpersist()
        return spark.createDataFrame(
            [], "u string, v string, w bigint, component string"
        )
    if n_pairs <= MST_LOCAL_MAX_EDGES:
        # r14 tier (see MST_LOCAL_MAX_EDGES): one Arrow collect of the
        # INT columns only, then the SAME Borůvka rounds —
        # per-component argmin over cross edges, both component sides,
        # same-edge-picked-twice dedup, forest labels by min_labels —
        # entirely in numpy. The (w, u, v) total order is encoded ONCE
        # as a global integer edge rank: string order of 'c<digits>'
        # names is reproduced by the exact integer key _dec_key
        # (pytest-pinned against str sort), edges are lexsorted once
        # by (w, key(u), key(v)), and every per-round argmin becomes a
        # plain np.minimum.at over int64 ranks — so the selected edge
        # multiset and the final min-name component labels are
        # bit-identical to the distributed loop below.
        import numpy as np
        import pandas as pd

        pdf = ipair.select("ui", "vi", "w").toPandas()
        ipair.unpersist()
        uiA = pdf["ui"].to_numpy(np.int64)
        viA = pdf["vi"].to_numpy(np.int64)
        we = pdf["w"].to_numpy(np.int64)
        # hash-based node indexing (see graph_pagerank), then renumbered
        # in NAME order — 'c…' (odd id) before 's…', each by _dec_key —
        # so min_labels' least index is the least member name
        codes, uniq = pd.factorize(np.concatenate([uiA, viA]))
        uniq = np.asarray(uniq, np.int64)
        by_name = np.argsort(
            _dec_key(uniq // 2) + (uniq % 2 == 0) * (np.int64(1) << 60)
        )
        ids = uniq[by_name]
        pos = np.empty_like(by_name)
        pos[by_name] = np.arange(by_name.size)
        ne = len(we)
        uix, vix = pos[codes[:ne]], pos[codes[ne:]]
        nn = int(ids.size)
        # global edge rank under (w, u, v): u is always 'c<k>' and v
        # always 's<k>', so within each column the string order is the
        # decimal-string order of k — _dec_key exactly
        o = np.lexsort((_dec_key(viA // 2), _dec_key(uiA // 2), we))
        edge_rank = np.empty(o.size, np.int64)
        edge_rank[o] = np.arange(o.size)
        big = np.int64(o.size)
        sel = np.empty(0, np.int64)
        comp = np.arange(nn)
        for _ in range(_boruvka_cap(nn)):
            cu, cv = comp[uix], comp[vix]
            m = cu != cv
            if not m.any():
                break
            best = np.full(nn, big, np.int64)
            er = edge_rank[m]
            np.minimum.at(best, cu[m], er)
            np.minimum.at(best, cv[m], er)
            # both-sides dedup: an edge picked by both its components
            sel = np.concatenate([sel, o[np.unique(best[best < big])]])
            comp = min_labels(uix[sel], vix[sel], nn)
        else:
            raise RuntimeError(_BORUVKA_CAP_MSG)

        def names(i: np.ndarray) -> np.ndarray:
            return np.char.add(
                np.where(i % 2 == 1, "c", "s"), (i // 2).astype(str)
            )

        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "u": names(uiA[sel]),
                    "v": names(viA[sel]),
                    "w": we[sel],
                    "component": names(ids[comp[uix[sel]]]),
                }
            ),
            "u string, v string, w bigint, component string",
        )
    # distributed loop (> MST_LOCAL_MAX_EDGES): string relations
    # derived from the pair cache
    inode_rel = (
        ipair.select(F.col("ui").alias("i"))
        .unionAll(ipair.select(F.col("vi").alias("i")))
        .distinct()
    )
    n_nodes = inode_rel.count()
    # before round 1 every node is its own component, so every edge is
    # a cross edge
    cross = ipair.select("u", "v", "w").localCheckpoint()
    ipair.unpersist()
    comp = (
        cross.select(F.col("u").alias("node"))
        .unionAll(cross.select("v"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    bcast = n_nodes <= PR_BROADCAST_MAX_NODES  # node-sized map: the
    # pagerank broadcast gate — below it the edge relation never
    # shuffles for the component join
    sel: DataFrame | None = None  # selected-forest accumulator
    for _ in range(_boruvka_cap(n_nodes)):
        cu = comp.withColumnRenamed("node", "u").withColumnRenamed(
            "lab", "cu"
        )
        cv = comp.withColumnRenamed("node", "v").withColumnRenamed(
            "lab", "cv"
        )
        if bcast:
            cu, cv = F.broadcast(cu), F.broadcast(cv)
        # non-cross edges can NEVER become cross again (components only
        # merge) — keep only cross edges for the next round, so the
        # per-round join shrinks monotonically
        done = cross
        cross = (
            done.select("u", "v", "w")
            .join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint()
        )
        free_checkpoint(done)
        if sel is None:
            # round 1: the initial map; later maps are components() output
            free_checkpoint(comp)
        # both component sides in ONE pass (a unionAll of two selects
        # re-executes the join per branch); min(struct(w,u,v)) IS the
        # argmin — the key carries the whole edge
        mins = (
            cross.select(
                F.explode(F.array("cu", "cv")).alias("c"), "u", "v", "w"
            )
            .groupBy("c")
            .agg(F.min(F.struct("w", "u", "v")).alias("k"))
            .select("k.u", "k.v", "k.w")
            .distinct()
        )
        mins = mins.localCheckpoint()
        if mins.isEmpty():
            free_checkpoint(mins)
            break
        if sel is None:
            sel = mins
        else:
            done = sel
            sel = sel.unionAll(mins).distinct().localCheckpoint()
            free_checkpoint(done)
            free_checkpoint(mins)
        # every node is in the forest from round 1 on (each singleton
        # picks an edge), so the forest's labels cover the whole map
        comp = components(sel.select("u", "v")).select(
            F.col("id").alias("node"), F.col("label").alias("lab")
        )
    else:
        raise RuntimeError(_BORUVKA_CAP_MSG)
    free_checkpoint(cross)
    return sel.join(
        comp.withColumnRenamed("node", "u").withColumnRenamed(
            "lab", "component"
        ),
        "u",
    ).select("u", "v", "w", "component")
