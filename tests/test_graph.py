"""graph_pagerank ≡ NumPy power iteration on the same matrix."""

from __future__ import annotations

import numpy as np

from local_etl_spark.queries.graph import DAMPING, N_ITER, graph_pagerank, trade_edges

SF = "/root/testdata/sf0.001"


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = trade_edges(spark, SF).collect()
    nodes = sorted({r["a"] for r in edges} | {r["b"] for r in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for r in edges:
        W[idx[r["a"]], idx[r["b"]]] += r["w"]
    P = W / W.sum(axis=1, keepdims=True)  # row-stochastic (no dangling)
    rank = np.full(n, 1.0 / n)
    for _ in range(N_ITER):
        rank = (1.0 - DAMPING) / n + DAMPING * (P.T @ rank)

    got = {r["node"]: r["rank"] for r in graph_pagerank(spark, SF).collect()}
    assert set(got) == set(nodes)
    # mass conserved (no dangling nodes): Σrank = 1
    assert abs(sum(got.values()) - 1.0) < 1e-9
    diff = max(abs(got[nd] - rank[idx[nd]]) for nd in nodes)
    assert diff < 1e-9, diff
    # sanity: ranking is non-degenerate
    assert len({round(v, 12) for v in got.values()}) > n // 2


def test_kcore_matches_reference_peel(spark):
    """graph_kcore must equal a driver-side iterative peel of the same
    edge set: repeatedly delete nodes with degree < k until stable."""
    from local_etl_spark.queries.graph import KCORE_K, trade_edges
    from local_etl_spark.registry import get

    sf = "/root/testdata/sf0.01"
    edges = {
        (r["a"], r["b"])
        for r in trade_edges(spark, sf).select("a", "b").distinct().collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    while True:
        drop = {n for n, nb in adj.items() if len(nb) < KCORE_K}
        if not drop:
            break
        for n in drop:
            adj.pop(n)
        for nb in adj.values():
            nb.difference_update(drop)
    got = {r["node"] for r in get("graph_kcore").fn(spark, sf).collect()}
    assert got == set(adj)
    assert got, "k-core unexpectedly empty at k=3"


def test_kcore_oracle_round_margin(spark):
    """The SQL witness unrolls KCORE_ORACLE_ROUNDS peel rounds
    (_kcore_oracle), so oracle ≡ engine only while the fixpoint arrives
    within that budget. Pin the margin on ALL shipped corpora incl.
    sf0.1 (ADVICE r11): the driver-side peel must converge in
    ≤ KCORE_ORACLE_ROUNDS − 1 rounds (measured: 1 at sf0.001/sf0.01,
    2 at sf0.1) — a corpus change that eats the margin fails HERE, not
    as an opaque oracle mismatch in the sf0.1 sweep."""
    from local_etl_spark.queries.graph import (
        KCORE_K,
        KCORE_ORACLE_ROUNDS,
        trade_edges,
    )

    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        edges = {
            (r["a"], r["b"])
            for r in trade_edges(spark, sf)
            .select("a", "b")
            .distinct()
            .collect()
        }
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
        rounds = 0
        while True:
            rounds += 1
            drop = {n for n, nb in adj.items() if len(nb) < KCORE_K}
            if not drop:
                break
            for n in drop:
                adj.pop(n)
            for nb in adj.values():
                nb.difference_update(drop)
        assert rounds <= KCORE_ORACLE_ROUNDS - 1, (sf, rounds)


def test_kcore_long_chain_peels_to_fixpoint(spark):
    """ADVICE r5: the pre-r6 fixed KCORE_MAX_ROUNDS=12 cap could return
    an unconverged superset (nodes with degree < k) on a graph whose
    peel needs more rounds. Adversarial topology: a 40-node path plus a
    separate 4-clique, k=2. Only the path's two current ENDPOINTS have
    degree < 2 each round, so the chain dissolves two nodes per round —
    ~19 rounds, past the old cap, which would have returned mid-chain
    nodes whose within-survivor degree is 1. The true 2-core is exactly
    the clique; the fixpoint peel must find it."""
    from local_etl_spark.queries.graph import kcore_membership

    n = 40
    path = [(f"p{i}", f"p{i+1}") for i in range(n - 1)]
    clique_nodes = [f"q{i}" for i in range(4)]
    clique = [
        (clique_nodes[i], clique_nodes[j])
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    sym = [(a, b) for a, b in path + clique] + [
        (b, a) for a, b in path + clique
    ]
    edges = spark.createDataFrame(sym, "a string, b string")
    got = {r["node"] for r in kcore_membership(edges, 2).collect()}
    assert got == set(clique_nodes), got
    # every survivor keeps degree >= k within the survivors — the
    # contract the old cap could violate
    import collections

    deg = collections.Counter()
    for a, b in path + clique:
        if a in got and b in got:
            deg[a] += 1
            deg[b] += 1
    assert all(deg[v] >= 2 for v in got)


def test_label_prop_matches_python_replay(spark):
    """graph_label_prop must equal a pure-Python replay of the exact
    schedule: alternating-side adoption (suppliers even rounds,
    customers odd), exact integer-cent weights, (max weight, then min
    label) tie-break."""
    from collections import defaultdict

    from local_etl_spark.catalog import table
    from local_etl_spark.queries.graph import LPA_ROUNDS
    from local_etl_spark.registry import get
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("w")
        )
        .collect()
    )
    adj = defaultdict(list)
    for r in pairs:
        s, c, w = f"s{r['l_suppkey']}", f"c{r['o_custkey']}", r["w"]
        adj[s].append((c, w))
        adj[c].append((s, w))
    labels = {n: n for n in adj}
    for rnd in range(LPA_ROUNDS):
        side = "s" if rnd % 2 == 0 else "c"
        new = dict(labels)
        for n in adj:
            if not n.startswith(side):
                continue
            wt = defaultdict(int)
            for m, w in adj[n]:
                wt[labels[m]] += w
            new[n] = min(wt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    got = {
        r["node"]: r["community"]
        for r in get("graph_label_prop").fn(spark, sf).collect()
    }
    assert got == labels


def test_betweenness_matches_python_brandes(spark):
    """graph_betweenness_sample ≡ textbook Brandes (Brandes 2001) run
    in pure Python from the same sampled sources on the same top-K
    backbone, independently rebuilt from the parquet via DuckDB."""
    from collections import defaultdict, deque

    import duckdb

    from local_etl_spark.queries.graph import (
        BETW_EDGE_BUDGET,
        BETW_SOURCE_MOD,
        graph_betweenness_sample,
    )

    con = duckdb.connect()
    try:
        pairs = con.execute(
            f"""
            SELECT least(c.c_nationkey, s.s_nationkey) AS a,
                   greatest(c.c_nationkey, s.s_nationkey) AS b,
                   count(*) AS cnt
            FROM read_parquet('{SF}/lineitem.parquet') l
            JOIN read_parquet('{SF}/orders.parquet') o
                 ON l.l_orderkey = o.o_orderkey
            JOIN read_parquet('{SF}/customer.parquet') c
                 ON o.o_custkey = c.c_custkey
            JOIN read_parquet('{SF}/supplier.parquet') s
                 ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2 ORDER BY cnt DESC, a, b
            LIMIT {BETW_EDGE_BUDGET}
            """
        ).fetchall()
    finally:
        con.close()

    adj: dict[int, set[int]] = defaultdict(set)
    for a, b, _ in pairs:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    sources = [v for v in nodes if v % BETW_SOURCE_MOD == 0]
    bc = dict.fromkeys(nodes, 0.0)
    for s in sources:
        # forward BFS with path counts
        dist = {s: 0}
        sigma = {s: 1}
        order = []
        dq = deque([s])
        while dq:
            v = dq.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        # backward dependency accumulation
        delta = dict.fromkeys(order, 0.0)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]

    scale = len(nodes) / len(sources) / 2.0
    got = {
        r["node"]: r
        for r in graph_betweenness_sample(spark, SF).collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v]["n_sources"] == len(sources)
        assert abs(got[v]["betweenness"] - bc[v] * scale) < 2e-6, v
    # the backbone is sparse enough to have real brokers
    assert any(x > 0 for x in bc.values())


def test_betweenness_oracle_depth_margin():
    """The SQL witness unrolls BETW_ORACLE_DEPTH BFS levels
    (_betweenness_oracle), so oracle ≡ engine only while every sampled
    source exhausts its component within that budget. Pin the margin
    on ALL shipped corpora: max BFS depth must be
    ≤ BETW_ORACLE_DEPTH − 2 (measured 3 everywhere, budget 5) — a
    corpus change that eats the margin fails HERE, not as an opaque
    oracle mismatch (the kcore margin-pin pattern)."""
    from collections import defaultdict, deque

    import duckdb

    from local_etl_spark.queries.graph import (
        BETW_EDGE_BUDGET,
        BETW_ORACLE_DEPTH,
        BETW_SOURCE_MOD,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        try:
            pairs = con.execute(
                f"""
                SELECT least(c.c_nationkey, s.s_nationkey) AS a,
                       greatest(c.c_nationkey, s.s_nationkey) AS b
                FROM read_parquet('/root/testdata/{sf}/lineitem.parquet') l
                JOIN read_parquet('/root/testdata/{sf}/orders.parquet') o
                     ON l.l_orderkey = o.o_orderkey
                JOIN read_parquet('/root/testdata/{sf}/customer.parquet') c
                     ON o.o_custkey = c.c_custkey
                JOIN read_parquet('/root/testdata/{sf}/supplier.parquet') s
                     ON l.l_suppkey = s.s_suppkey
                WHERE c.c_nationkey <> s.s_nationkey
                GROUP BY 1, 2 ORDER BY count(*) DESC, a, b
                LIMIT {BETW_EDGE_BUDGET}
                """
            ).fetchall()
        finally:
            con.close()
        adj: dict[int, set[int]] = defaultdict(set)
        for a, b in pairs:
            adj[a].add(b)
            adj[b].add(a)
        maxd = 0
        for s in sorted(adj):
            if s % BETW_SOURCE_MOD != 0:
                continue
            dist = {s: 0}
            dq = deque([s])
            while dq:
                v = dq.popleft()
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        dq.append(w)
            maxd = max(maxd, max(dist.values()))
        assert maxd <= BETW_ORACLE_DEPTH - 2, (sf, maxd)


def test_closeness_matches_python_bfs(spark):
    """graph_closeness_sample ≡ pure-Python BFS harmonic sums from the
    same sampled sources on the same independently rebuilt backbone."""
    from collections import defaultdict, deque

    import duckdb

    from local_etl_spark.queries.graph import (
        BETW_EDGE_BUDGET,
        BETW_SOURCE_MOD,
        graph_closeness_sample,
    )

    con = duckdb.connect()
    try:
        pairs = con.execute(
            f"""
            SELECT least(c.c_nationkey, s.s_nationkey) AS a,
                   greatest(c.c_nationkey, s.s_nationkey) AS b,
                   count(*) AS cnt
            FROM read_parquet('{SF}/lineitem.parquet') l
            JOIN read_parquet('{SF}/orders.parquet') o
                 ON l.l_orderkey = o.o_orderkey
            JOIN read_parquet('{SF}/customer.parquet') c
                 ON o.o_custkey = c.c_custkey
            JOIN read_parquet('{SF}/supplier.parquet') s
                 ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2 ORDER BY cnt DESC, a, b
            LIMIT {BETW_EDGE_BUDGET}
            """
        ).fetchall()
    finally:
        con.close()

    adj: dict[int, set[int]] = defaultdict(set)
    for a, b, _ in pairs:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    sources = [v for v in nodes if v % BETW_SOURCE_MOD == 0]
    h = dict.fromkeys(nodes, 0.0)
    for s in sources:
        dist = {s: 0}
        dq = deque([s])
        while dq:
            v = dq.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
        for v, d in dist.items():
            if d > 0:
                h[v] += 1.0 / d

    scale = (len(nodes) - 1) / len(sources)
    got = {
        r["node"]: r for r in graph_closeness_sample(spark, SF).collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v]["n_sources"] == len(sources)
        assert abs(got[v]["harmonic"] - h[v] * scale) < 2e-6, v
    assert any(x > 0 for x in h.values())


def test_coreness_python_replay(spark):
    """Third implementation for graph_coreness: the textbook peeling
    algorithm (Batagelj–Zaversnik bucket variant) over the SAME
    backbone edges, in pure Python — independent of both the engine's
    relational peel and the oracle's list-machine recursion."""
    import duckdb

    from local_etl_spark.queries.graph import BETW_EDGE_BUDGET, graph_coreness

    con = duckdb.connect()
    try:
        edges = con.execute(
            f"""
            WITH w AS (
                SELECT least(c_nationkey, s_nationkey) AS a,
                       greatest(c_nationkey, s_nationkey) AS b,
                       count(*) AS cnt
                FROM read_parquet('{SF}/lineitem.parquet') li
                JOIN read_parquet('{SF}/orders.parquet') o
                  ON l_orderkey = o_orderkey
                JOIN read_parquet('{SF}/customer.parquet') c
                  ON o_custkey = c_custkey
                JOIN read_parquet('{SF}/supplier.parquet') s
                  ON l_suppkey = s_suppkey
                WHERE c_nationkey <> s_nationkey
                GROUP BY 1, 2
            )
            SELECT a, b FROM (
                SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b)
                       AS rnk FROM w
            ) WHERE rnk <= {BETW_EDGE_BUDGET}
            """
        ).fetchall()
    finally:
        con.close()
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # textbook peel: repeatedly remove min-degree nodes, core(v) =
    # max k reached when v is removed
    deg = {v: len(ns) for v, ns in adj.items()}
    core: dict[int, int] = {}
    k = 0
    alive = set(adj)
    while alive:
        v = min(alive, key=lambda x: deg[x])
        k = max(k, deg[v])
        core[v] = k
        alive.remove(v)
        for u in adj[v]:
            if u in alive:
                deg[u] -= 1
    got = {
        r["node"]: r["core"]
        for r in graph_coreness(spark, SF).collect()
    }
    assert got == core


def test_pagerank_integer_replay_and_no_early_exit(spark):
    """The fixed-point iteration replayed EXACTLY in pure Python
    (round-half-away on the exact double, matching Spark/DuckDB round
    on positives): final scaled ranks equal the engine's bit-for-bit,
    AND every round's integer L1 delta stays ≥ the early-exit
    threshold — the unrolled oracle assumes all N_ITER rounds run, so
    a corpus change that lets the exit fire fails HERE, not as an
    opaque oracle mismatch."""
    import math
    from collections import defaultdict

    from local_etl_spark.queries.graph import (
        PR_SCALE,
        PR_TOL_L1,
        graph_pagerank,
    )

    def rha(x: float) -> int:  # round half away from zero, x >= 0
        f = math.floor(x)
        return f + 1 if x - f >= 0.5 else f

    # all three shipped SFs — the oracle ships (and is swept) at sf0.1
    # too, so the no-early-exit margin must hold there as well
    # (ADVICE r12; the kcore/betweenness margin-pin pattern)
    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        edges = trade_edges(spark, sf).collect()
        outw: dict[str, int] = defaultdict(int)
        for r in edges:
            outw[r["a"]] += r["w"]
        adj = [(r["a"], r["b"], r["w"] / outw[r["a"]]) for r in edges]
        nodes = sorted(outw)
        n = len(nodes)
        rank = {v: rha(1e15 / n) for v in nodes}
        teleport = rha(0.15e15 / n)
        for it in range(N_ITER):
            mass: dict[str, int] = defaultdict(int)
            for a, b, p in adj:
                mass[b] += rha(float(rank[a]) * p)
            new = {
                v: teleport + rha(0.85 * float(mass.get(v, 0)))
                for v in nodes
            }
            l1 = sum(abs(new[v] - rank[v]) for v in nodes)
            assert l1 >= PR_TOL_L1 * PR_SCALE, (sf, it, l1)
            rank = new
        got = {
            r["node"]: r["rank"] for r in graph_pagerank(spark, sf).collect()
        }
        assert got == {v: float(rank[v]) / 1e15 for v in nodes}, sf


def test_mst_equals_kruskal_and_networkx(spark):
    """graph_mst's Borůvka forest must EQUAL an independent union-find
    Kruskal under the same total key (w, u, v) — with a total edge
    order the MSF is unique, so two different algorithms agreeing is a
    real cross-check — and its total weight must equal networkx's
    minimum_spanning_edges sum (weight totals are tie-break-invariant
    across ALL minimum spanning forests)."""
    import networkx as nx

    from local_etl_spark.queries.graph import trade_edges
    from local_etl_spark.registry import get

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        from pyspark.sql import functions as F

        edges = [
            (r["a"], r["b"], r["w"])
            for r in trade_edges(spark, sf)
            .filter(F.col("a") < F.col("b"))
            .collect()
        ]
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v, _w in edges:
            parent[u] = u
            parent[v] = v
        want = set()
        for w, u, v in sorted((w, u, v) for u, v, w in edges):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
                want.add((u, v, w))
        got_rows = get("graph_mst").fn(spark, sf).collect()
        got = {(r["u"], r["v"], r["w"]) for r in got_rows}
        assert got == want, sf
        # networkx weight cross-check (independent implementation)
        g = nx.Graph()
        for u, v, w in edges:
            g.add_edge(u, v, weight=w)
        nx_w = sum(
            d["weight"]
            for _u, _v, d in nx.minimum_spanning_edges(g, data=True)
        )
        assert sum(w for _u, _v, w in got) == nx_w, sf
        # component labels are the true min-label partition
        comp_of = {}
        for r in got_rows:
            comp_of.setdefault(r["u"], r["component"])
            assert r["component"] == comp_of[r["u"]]


def test_mst_distributed_fallback_matches_fast_path(spark, monkeypatch):
    """Force each graph_mst gate to 0 in turn and diff against the
    default numpy tier: MST_LOCAL_MAX_EDGES=0 runs the distributed
    Borůvka loop with driver union-find forest labels, and
    MST_UF_MAX_EDGES=0 as well runs it with distributed Jacobi labels.
    Rows must be IDENTICAL on every leg (labels are partition-invariant;
    all legs compute min labels of the same unique forest)."""
    import local_etl_spark.queries.graph as G
    from local_etl_spark.registry import get

    sf = "/root/testdata/sf0.001"

    def rows():
        return {
            (r["u"], r["v"], r["w"], r["component"])
            for r in get("graph_mst").fn(spark, sf).collect()
        }

    numpy_tier = rows()
    monkeypatch.setattr(G, "MST_LOCAL_MAX_EDGES", 0)
    union_find_labels = rows()
    assert union_find_labels == numpy_tier
    monkeypatch.setattr(G, "MST_UF_MAX_EDGES", 0)
    jacobi_labels = rows()
    assert jacobi_labels == numpy_tier


def test_dec_key_matches_decimal_string_order():
    """_dec_key (the graph driver tiers' integer stand-in for Spark's
    binary-UTF8 string comparisons on node names) must induce EXACTLY
    the lexicographic order of str(n) — boundary values + randomized
    sweep."""
    import random

    import numpy as np

    from local_etl_spark.queries.graph import _dec_key

    rng = random.Random(42)
    vals = [0, 1, 2, 9, 10, 11, 99, 100, 101, 999, 1000, 10**12 - 1] + [
        rng.randrange(0, 10**12) for _ in range(5000)
    ]
    k = _dec_key(np.array(vals, np.int64))
    by_str = sorted(range(len(vals)), key=lambda i: str(vals[i]))
    by_key = sorted(range(len(vals)), key=lambda i: (int(k[i]), str(vals[i])))
    assert [str(vals[i]) for i in by_str] == [str(vals[i]) for i in by_key]
    # equal keys only for equal values
    seen: dict[int, int] = {}
    for v, kk in zip(vals, k.tolist()):
        assert seen.setdefault(kk, v) == v


def test_graph_driver_tier_parity(spark, monkeypatch):
    """Every surviving leg of graph_pagerank / graph_label_prop must
    produce identical rows: the default numpy tier, the distributed
    loop with the broadcast join hint (PR_LOCAL_MAX_EDGES=0), and the
    distributed loop with the shuffle join (PR_BROADCAST_MAX_NODES=0
    as well). The distributed loop contains code (the _name
    selectExpr reconstruction) that no shipped SF reaches; this forces
    each gate to 0 in turn and diffs against the default path."""
    import local_etl_spark.queries.graph as G
    from local_etl_spark.registry import get

    sf = "/root/testdata/sf0.001"
    for name in ("graph_pagerank", "graph_label_prop"):
        fn = get(name).fn
        base = sorted(map(tuple, fn(spark, sf).collect()))
        monkeypatch.setattr(G, "PR_LOCAL_MAX_EDGES", 0)
        bcast = sorted(map(tuple, fn(spark, sf).collect()))
        assert bcast == base, f"{name}: broadcast leg diverges"
        monkeypatch.setattr(G, "PR_BROADCAST_MAX_NODES", 0)
        shuffle = sorted(map(tuple, fn(spark, sf).collect()))
        assert shuffle == base, f"{name}: shuffle leg diverges"
        monkeypatch.undo()


def test_graph_empty_corpus_guard(spark, tmp_path):
    """ADVICE r13 (low): a zero-edge corpus must return explicit-schema
    empty results, not crash in createDataFrame(pandas) schema
    inference. Build a corpus whose orders/lineitem share no keys."""
    import shutil

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "empty_graph")
    shutil.copytree(src, dst)
    # orders keyed far away from every lineitem orderkey -> empty join
    spark.read.parquet(f"{src}/orders.parquet").selectExpr(
        "o_orderkey + 900000000 AS o_orderkey",
        *[c for c in spark.read.parquet(f"{src}/orders.parquet").columns if c != "o_orderkey"],
    ).write.mode("overwrite").parquet(f"{dst}/orders.parquet")
    from local_etl_spark.registry import get

    for name, cols in (
        ("graph_pagerank", ["node", "rank", "kind"]),
        ("graph_label_prop", ["node", "community", "kind"]),
        ("graph_mst", ["u", "v", "w", "component"]),
    ):
        df = get(name).fn(spark, dst)
        assert df.columns == cols
        assert df.count() == 0


def test_mst_oracle_margins(spark):
    """The oracle unrolls MST_ROUNDS Borůvka rounds and MST_CC_ITERS
    Jacobi CC iterations per round; pin BOTH margins on every shipped
    SF by replaying the exact procedures in Python: fixpoint within
    MST_ROUNDS − 2 selecting rounds, and every round's warm-started
    lab' = min(lab, lab∘lab, neighbor-min) iteration reaching the true
    partition within MST_CC_ITERS − 5."""
    from pyspark.sql import functions as F

    from local_etl_spark.queries.graph import (
        MST_CC_ITERS,
        MST_ROUNDS,
        trade_edges,
    )

    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        edges = [
            (r["a"], r["b"], r["w"])
            for r in trade_edges(spark, sf)
            .filter(F.col("a") < F.col("b"))
            .collect()
        ]
        nodes = sorted({u for u, v, w in edges} | {v for u, v, w in edges})

        def true_cc(sel):
            parent = {n: n for n in nodes}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for u, v, _w in sel:
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[ru] = rv
            groups = {}
            for n in nodes:
                groups.setdefault(find(n), []).append(n)
            out = {}
            for g in groups.values():
                m = min(g)
                for n in g:
                    out[n] = m
            return out

        comp = {n: n for n in nodes}
        sel = set()
        rounds = 0
        while True:
            best = {}
            for u, v, w in edges:
                cu, cv = comp[u], comp[v]
                if cu == cv:
                    continue
                k = (w, u, v)
                for c in (cu, cv):
                    if c not in best or k < best[c]:
                        best[c] = k
            if not best:
                break
            rounds += 1
            sel |= {(u, v, w) for (w, u, v) in best.values()}
            want = true_cc(sel)
            adj = {}
            for u, v, _w in sel:
                adj.setdefault(u, []).append(v)
                adj.setdefault(v, []).append(u)
            lab = dict(comp)
            j = 0
            while lab != want:
                j += 1
                assert j <= MST_CC_ITERS - 5, (sf, rounds, j)
                lab = {
                    n: min(
                        [lab[n], lab.get(lab[n], lab[n])]
                        + [lab[x] for x in adj.get(n, ())]
                    )
                    for n in nodes
                }
            comp = want
        assert rounds <= MST_ROUNDS - 2, (sf, rounds)
