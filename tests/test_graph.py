"""Graph-operator tests: fixed-point PageRank determinism and
structural correctness, the connected-components kernel against a
union-find model (components are also covered via the dedup suites
and the recursive-CTE oracle), and the four fixed-round kernels
(BFS, SSSP, k-core, label propagation) against plain-Python models
and the co-purchase queries built on them."""

import random
from collections import Counter

import pytest

from gasket_spark.operators import graph
from gasket_spark.operators.graph import connected_components, pagerank
from tests.conftest import jobs_fired


@pytest.fixture(scope="module")
def star_graph(spark):
    # b is pointed at by everyone; a gets b's whole mass back
    return spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("d", "b"), ("b", "a")],
        "src string, dst string")


class TestPageRank:
    def test_hub_ranks_highest_and_mass_conserves(self, spark,
                                                  star_graph):
        ranks = {r.v: r.rank for r in
                 pagerank(star_graph, max_iter=25).collect()}
        assert set(ranks) == {"a", "b", "c", "d"}
        # b absorbs three links; a absorbs b's entire rank; c,d only
        # get teleport mass
        assert ranks["b"] > ranks["a"] > ranks["c"]
        assert abs(ranks["c"] - ranks["d"]) < 1e-9
        # floor-division mass loss is bounded: total stays ~1
        assert 0.99 < sum(ranks.values()) <= 1.0 + 1e-9

    def test_fixpoint_is_partition_independent(self, spark, star_graph):
        """Integer-space arithmetic: the SAME longs must come out no
        matter how the edges are partitioned — the property a
        double-sum PageRank cannot offer."""
        one = {(r.v, r.rank) for r in
               pagerank(star_graph.repartition(1), max_iter=10).collect()}
        many = {(r.v, r.rank) for r in
                pagerank(star_graph.repartition(7), max_iter=10).collect()}
        assert one == many

    def test_dangling_mass_redistributes(self, spark):
        # b has no out-links: its mass must not vanish
        g = spark.createDataFrame([("a", "b")], "src string, dst string")
        ranks = {r.v: r.rank for r in pagerank(g, max_iter=25).collect()}
        assert 0.99 < sum(ranks.values()) <= 1.0 + 1e-9
        assert ranks["b"] > ranks["a"]


def _model_pagerank(edges, max_iter, damping=0.85):
    """Plain-Python statement of pagerank's integer recurrence over
    the distinct (u, w) edges: {vertex: rank}."""
    scale = 1_000_000_000_000
    d_num, d_den = int(damping * 100), 100
    out = set(edges)
    verts = {x for e in out for x in e}
    n = len(verts)
    deg = Counter(u for u, _ in out)
    r = dict.fromkeys(verts, scale // n)
    for _ in range(max_iter):
        in_mass = dict.fromkeys(verts, 0)
        for u, w in out:
            in_mass[w] += int(float(r[u]) / float(deg[u]))
        t = sum(r.values())
        linked = sum(r[v] for v in verts if deg[v])
        base = (t - t * d_num // d_den
                + (t - linked) * d_num // d_den) // n
        r = {v: int(float(base) + float(in_mass[v] * d_num) / d_den)
             for v in verts}
    return {v: float(x) / float(scale) for v, x in r.items()}


def _random_graph(seed, as_string):
    """Seeded random digraph with repeated edges and dangling vertices
    (targets that never appear as a source)."""
    rnd = random.Random(seed)
    nv = rnd.randint(5, 80)
    edges = [(rnd.randrange(nv), rnd.randrange(nv))
             for _ in range(rnd.randint(nv, 4 * nv))]
    edges += edges[: len(edges) // 3]                  # duplicates
    edges += [(rnd.randrange(nv), nv + k) for k in range(3)]  # dangling
    rnd.shuffle(edges)
    if as_string:
        return [(f"n{u}", f"n{w}") for u, w in edges]
    return [(u * 1_000_000_007, w * 1_000_000_007) for u, w in edges]


class TestPageRankKernel:
    @pytest.mark.parametrize("as_string", [False, True],
                             ids=["long", "string"])
    @pytest.mark.parametrize("parts", [1, 7])
    def test_matches_python_model(self, spark, as_string, parts):
        """Bit-identical to the plain-Python recurrence on seeded
        random graphs, whatever the id type and input partitioning."""
        typ = "string" if as_string else "long"
        for seed in range(3):
            edges = _random_graph(seed, as_string)
            df = spark.createDataFrame(edges, f"src {typ}, dst {typ}")
            got = {r.v: r.rank for r in
                   pagerank(df.repartition(parts), max_iter=8).collect()}
            assert got == _model_pagerank(edges, 8), (seed, typ, parts)

    def test_empty_edge_set_gives_empty_result(self, spark):
        df = spark.createDataFrame([], "src string, dst string")
        ranks, n_jobs = jobs_fired(spark, lambda: pagerank(df, max_iter=8))
        assert n_jobs == 0
        assert ranks.collect() == []

    def test_q_pagerank_builds_lazily_and_persists_nothing(self, spark):
        """The query's build fires no job beyond its table scan's
        schema read, and its action leaves no persistent RDD behind."""
        from gasket_spark.io import read_table
        from gasket_spark.queries import QUERIES
        from tests.conftest import SF_SMALL

        _, scan_jobs = jobs_fired(
            spark, lambda: read_table(spark, SF_SMALL, "lineitem"))
        jsc = spark.sparkContext._jsc
        before = set(dict(jsc.getPersistentRDDs()))
        df, n_jobs = jobs_fired(
            spark, lambda: QUERIES["q_pagerank"](spark, SF_SMALL))
        assert n_jobs == scan_jobs
        assert len(df.collect()) == 20
        assert set(dict(jsc.getPersistentRDDs())) - before == set()

    def test_edge_guard_raises_above_limit(self, spark, monkeypatch):
        monkeypatch.setattr(graph, "GRAPH_MAX_EDGES", 2)
        df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                   "src long, dst long")
        with pytest.raises(Exception, match="GRAPH_MAX_EDGES"):
            graph.pagerank(df, max_iter=2).collect()


def _model_components(edges):
    """Union-find over the edges with no NULL endpoint:
    {vertex: the minimum vertex of its component}."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _random_pair_graph(seed, as_string):
    """Seeded undirected graph of small clusters, with duplicate,
    reversed and self edges."""
    rnd = random.Random(seed)
    nv = rnd.randint(5, 80)
    edges = [(rnd.randrange(nv), rnd.randrange(nv))
             for _ in range(rnd.randint(1, nv))]
    edges += edges[: len(edges) // 3]                       # duplicates
    edges += [(w, u) for u, w in edges[: len(edges) // 4]]  # reversed
    edges += [(u, u) for u in rnd.sample(range(nv), 3)]     # self
    rnd.shuffle(edges)
    if as_string:
        return [(f"d{u}é", f"d{w}é") for u, w in edges]
    return [(u * 1_000_000_007 - 10**10, w * 1_000_000_007 - 10**10)
            for u, w in edges]


class TestComponentsKernel:
    @pytest.mark.parametrize("as_string", [False, True],
                             ids=["long", "string"])
    @pytest.mark.parametrize("parts", [1, 7])
    def test_matches_union_find_model(self, spark, as_string, parts):
        typ = "string" if as_string else "long"
        for seed in range(3):
            edges = _random_pair_graph(seed, as_string)
            df = spark.createDataFrame(edges, f"id_a {typ}, id_b {typ}")
            got = {r.v: r.component_id for r in
                   connected_components(df.repartition(parts)).collect()}
            assert got == _model_components(edges), (seed, typ, parts)

    def test_empty_edge_set_gives_empty_result(self, spark):
        df = spark.createDataFrame([], "id_a long, id_b long")
        comp, n_jobs = jobs_fired(spark, lambda: connected_components(df))
        assert n_jobs == 0
        assert comp.collect() == []

    def test_null_endpoints_are_dropped(self, spark):
        df = spark.createDataFrame([(1, None), (None, 2), (None, None),
                                    (4, 3)], "id_a long, id_b long")
        got = {(r.v, r.component_id)
               for r in connected_components(df).collect()}
        assert got == {(3, 3), (4, 3)}

    def test_edge_guard_raises_above_limit(self, spark, monkeypatch):
        monkeypatch.setattr(graph, "GRAPH_MAX_EDGES", 2)
        df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                   "id_a long, id_b long")
        with pytest.raises(Exception, match="GRAPH_MAX_EDGES"):
            graph.connected_components(df).collect()

    def test_q_dedup_components_builds_lazily_on_warm_pairs(self, spark):
        """With the shared pair graph already cached, the query's
        build fires no job and its action leaves no persistent RDD
        behind."""
        from gasket_spark.queries import QUERIES
        from tests.conftest import SF_SMALL

        QUERIES["q_dedup_ngram"](spark, SF_SMALL)
        jsc = spark.sparkContext._jsc
        before = set(dict(jsc.getPersistentRDDs()))
        df, n_jobs = jobs_fired(
            spark, lambda: QUERIES["q_dedup_components"](spark, SF_SMALL))
        assert n_jobs == 0
        assert df.collect()
        assert set(dict(jsc.getPersistentRDDs())) - before == set()


class TestSssp:
    def test_matches_reference_bellman_ford(self, spark):
        """The frontier-pruned Spark loop must equal a plain
        4-round Bellman-Ford run in local Python over the collected
        edge list (full relaxation, no pruning)."""
        from gasket_spark.queries import QUERIES
        from gasket_spark.queries.relational import _copurchase_edges
        from tests.conftest import SF_SMALL

        e = _copurchase_edges(spark, SF_SMALL).collect()
        adj = []
        for r in e:
            w = 1 + (r["u"] + 2 * r["v"]) % 7
            adj.append((r["u"], r["v"], w))
            adj.append((r["v"], r["u"], w))
        root = min(u for u, _, _ in adj)
        dist = {root: 0}
        for _ in range(4):
            prev = dict(dist)
            for u, v, w in adj:
                if u in prev and prev[u] + w < dist.get(v, 1 << 60):
                    dist[v] = min(dist.get(v, 1 << 60), prev[u] + w)
        got = {r["part_node"]: r["dist"]
               for r in QUERIES["q_graph_sssp"](spark, SF_SMALL).collect()}
        assert got == dist

    def test_weights_symmetric_and_positive(self, spark):
        """Edge weights derive from the canonical u<v edge, so both
        directions carry the same strictly positive weight."""
        from gasket_spark.queries.relational import _copurchase_edges
        from tests.conftest import SF_SMALL

        e = _copurchase_edges(spark, SF_SMALL).collect()
        for r in e:
            w = 1 + (r["u"] + 2 * r["v"]) % 7
            assert 1 <= w <= 7


class TestKcore:
    def test_bounded_peel_reaches_fixed_point_here(self, spark):
        """At this graph size 6 rounds converge: every surviving node
        keeps degree >= 3 within the surviving subgraph, i.e. the
        result IS the 3-core, and one more peel changes nothing."""
        from gasket_spark.queries import QUERIES
        from tests.conftest import SF_SMALL

        rows = QUERIES["q_graph_kcore"](spark, SF_SMALL).collect()
        assert rows, "3-core unexpectedly empty"
        assert min(r["degree"] for r in rows) >= 3


class TestLabelProp:
    def test_labels_partition_the_vertex_set(self, spark):
        """Communities partition V: sizes sum to |V|, every community
        label is itself a vertex id."""
        from gasket_spark.queries import QUERIES
        from gasket_spark.queries.relational import _copurchase_edges
        from tests.conftest import SF_SMALL

        rows = QUERIES["q_graph_labelprop"](spark, SF_SMALL).collect()
        e = _copurchase_edges(spark, SF_SMALL).collect()
        nodes = {r["u"] for r in e} | {r["v"] for r in e}
        assert sum(r["n_nodes"] for r in rows) == len(nodes)
        assert all(r["community"] in nodes for r in rows)
        assert all(r["min_node"] in nodes for r in rows)


def _model_arcs(edges):
    """Both directions of every distinct undirected edge."""
    pairs = {(min(a, b), max(a, b)) for a, b in edges}
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def _model_bfs(edges, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    frontier = {min(adj)}
    hops = {min(adj): 0}
    for d in range(1, max_hops + 1):
        frontier = {m for n in frontier for m in adj[n]} - set(hops)
        hops.update((m, d) for m in frontier)
    return hops


def _model_sssp(edges, rounds):
    arcs = [(a, b, c) for a, b, c in edges] + \
        [(b, a, c) for a, b, c in edges]
    dist = {min(a for a, _, _ in arcs): 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, c in arcs:
            if a in dist and dist[a] + c < nxt.get(b, 1 << 62):
                nxt[b] = dist[a] + c
        dist = nxt
    return dist


def _model_kcore(edges, k, rounds):
    live = _model_arcs(edges)
    for _ in range(rounds):
        deg = Counter(a for a, _ in live)
        live = [(a, b) for a, b in live if deg[a] >= k and deg[b] >= k]
    return dict(Counter(a for a, _ in live))


def _model_labelprop(edges, rounds):
    arcs = _model_arcs(edges)
    label = {v: v for arc in arcs for v in arc}
    for _ in range(rounds):
        cnt = Counter((b, label[a]) for a, b in arcs)
        best = {}
        for (node, lab), c in cnt.items():
            if node not in best or (-c, lab) < best[node]:
                best[node] = (-c, lab)
        label = {v: lab for v, (_, lab) in best.items()}
    return label


_FIXED_ROUND = {
    "bfs_hops": (lambda df: graph.bfs_hops(df, "a", "b", max_hops=4),
                 lambda e: _model_bfs(e, 4)),
    "shortest_paths": (
        lambda df: graph.shortest_paths(df, "a", "b", "w", rounds=4),
        lambda e: _model_sssp(e, 4)),
    "kcore_peel": (lambda df: graph.kcore_peel(df, "a", "b", k=3, rounds=6),
                   lambda e: _model_kcore(e, 3, 6)),
    "label_propagation": (
        lambda df: graph.label_propagation(df, "a", "b", rounds=3),
        lambda e: _model_labelprop(e, 3)),
}


class TestFixedRoundKernels:
    @pytest.mark.parametrize("parts", [1, 7])
    @pytest.mark.parametrize("op", sorted(_FIXED_ROUND))
    def test_matches_python_model(self, spark, op, parts):
        """Each kernel equals its plain-Python model on seeded graphs
        with duplicate, reversed and self edges, under any input
        partitioning."""
        run, model = _FIXED_ROUND[op]
        for seed in range(3):
            edges = _random_pair_graph(seed, as_string=False)
            rnd = random.Random(seed)
            rows = [(a, b, rnd.randint(1, 7)) for a, b in edges]
            df = spark.createDataFrame(rows, "a long, b long, w long")
            got = {r[0]: r[1] for r in run(df.repartition(parts)).collect()}
            want = model(rows if op == "shortest_paths" else edges)
            assert got == want, (op, seed, parts)

    @pytest.mark.parametrize("op", sorted(_FIXED_ROUND))
    def test_edge_guard_raises_above_limit(self, spark, monkeypatch, op):
        monkeypatch.setattr(graph, "GRAPH_MAX_EDGES", 2)
        df = spark.createDataFrame([(1, 2, 1), (2, 3, 1), (3, 1, 1)],
                                   "a long, b long, w long")
        with pytest.raises(Exception, match="GRAPH_MAX_EDGES"):
            _FIXED_ROUND[op][0](df).collect()

    @pytest.mark.parametrize("name", ["q_graph_bfs", "q_graph_sssp",
                                      "q_graph_kcore",
                                      "q_graph_labelprop"])
    def test_query_builds_lazily(self, spark, name):
        """The query's build fires no job beyond its table scan's
        schema read (test_query_runs checks that it pins nothing)."""
        from gasket_spark.io import read_table
        from gasket_spark.queries import QUERIES
        from tests.conftest import SF_SMALL

        _, scan_jobs = jobs_fired(
            spark, lambda: read_table(spark, SF_SMALL, "lineitem"))
        df, n_jobs = jobs_fired(spark, lambda: QUERIES[name](spark, SF_SMALL))
        assert n_jobs == scan_jobs
        assert df.collect()
