"""Graph operators as one Spark pass plus one in-memory kernel.

Every operator here shares a shape: a lazy Spark pass projects the
edge list (pagerank and connected_components also ``dropDuplicates``
it), and the edges then go, as one group on a constant column, to a
single ``applyInPandas`` kernel that runs every round of the
algorithm in numpy. At this engine's graph sizes (the near-dup pair
graph, the co-purchase graph) a per-round Spark loop pays a job, its
tasks and a checkpoint per round for very little data, so the
in-memory loop is faster, and the result is a lazy plan that persists
nothing. ``GRAPH_MAX_EDGES`` is the size contract of the one worker
that holds the graph; :func:`_one_kernel` checks it for every
operator.

:func:`connected_components` resolves near-duplicate clusters.
``dedup_by_pairs`` uses a one-pass star approximation (drop every
larger-id endpoint), which over-drops when duplicate clusters chain:
a~b, b~c with a<b<c drops BOTH b and c even if a~c was never observed.
Proper cluster resolution labels each doc with its component's min id
and keeps exactly one survivor per component.

:func:`pagerank` is fixed-point PageRank with integer arithmetic, so
its result is bit-identical under any partitioning.

The fixed-round traversals take an undirected edge list and run a
constant number of rounds from the smallest vertex or from every
vertex: :func:`bfs_hops` (hop distance), :func:`shortest_paths`
(Bellman-Ford), :func:`kcore_peel` (bounded k-core peeling) and
:func:`label_propagation` (synchronous mode-of-neighbours labels).
Integer arithmetic and total-order tie-breaks make each result
deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType)


# Size contract of every single-task kernel here: all edges reach one
# Python worker, as the pandas frame they arrive in plus a few int64
# code arrays per edge.
GRAPH_MAX_EDGES = 20_000_000


def _one_kernel(df: DataFrame, kernel, schema: StructType,
                op: str) -> DataFrame:
    """Run ``kernel`` once over all of ``df`` as one pandas frame, as a
    lazy plan (``groupBy(F.lit(0))`` hits an internal error in
    pyspark 4.1, so the constant is a column). An empty ``df`` has no
    group, so the kernel does not run and the result is empty. More
    than ``GRAPH_MAX_EDGES`` rows fail the kernel loudly, naming
    ``op``, instead of exhausting the worker."""
    # read here, on the driver: the kernel runs in a worker process
    # that imports its own copy of this module
    max_edges = GRAPH_MAX_EDGES

    def _guarded(pdf):
        if len(pdf) > max_edges:
            raise ValueError(
                f"{op}: {len(pdf)} edges exceed GRAPH_MAX_EDGES="
                f"{max_edges}, the size one in-memory kernel holds")
        return kernel(pdf)

    return (df.withColumn("_g", F.lit(0)).groupBy("_g")
            .applyInPandas(_guarded, schema))


def _codes(pdf):
    """(a codes, b codes, vertices) of the endpoint columns ``a`` and
    ``b`` of :func:`_edge_pass`: vertices coded in sorted order, so
    code 0 is the smallest vertex and a smaller code is a smaller
    id."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    codes, verts = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True), sort=True)
    return codes[:m], codes[m:], np.asarray(verts)


def _edge_pass(edges: DataFrame, src: str, dst: str,
               *extra: Column) -> DataFrame:
    """The lazy Spark pass every kernel here starts from: endpoints as
    ``a``/``b`` plus any ``extra`` columns, rows with a NULL dropped."""
    return (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                         *extra).dropna())


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b") -> DataFrame:
    """Label every vertex of the undirected ``edges`` graph with its
    component's minimum vertex id. Returns (v, component_id), one row
    per vertex that ends any edge; a self edge (a, a) makes ``a`` a
    vertex.

    Shape: one distributed ``dropDuplicates`` of the (least, greatest)
    endpoint pairs, then one ``applyInPandas`` kernel that runs
    min-label propagation with pointer jumping to its fixpoint in
    numpy. Vertices are coded in sorted order, so the minimum code of a
    component is its minimum id. Each round takes, per edge, the
    smaller label of its two ends, lowers both ends' labels to it,
    then replaces each label by its label's label; labels only fall
    and each stays a vertex of its own component, so the fixpoint, in
    which both ends of every edge agree, gives every vertex its
    component's minimum. Deterministic under any partitioning.

    The returned DataFrame is a lazy plan: building it fires no job
    and persists nothing. Edges with a NULL endpoint are dropped; an
    empty edge set gives an empty result."""
    # dropna before least/greatest, which skip a NULL argument
    und = (_edge_pass(edges, src, dst)
           .select(F.least("a", "b").alias("a"),
                   F.greatest("a", "b").alias("b"))
           .dropDuplicates())
    v_type = und.schema["a"].dataType

    def _fixpoint(pdf):
        import numpy as np
        import pandas as pd

        u, w, verts = _codes(pdf)
        label = np.arange(len(verts))
        while True:
            low = np.minimum(label[u], label[w])
            nxt = label.copy()
            np.minimum.at(nxt, u, low)
            np.minimum.at(nxt, w, low)
            nxt = nxt[nxt]
            if np.array_equal(nxt, label):
                break
            label = nxt
        return pd.DataFrame({"v": verts, "component_id": verts[label]})

    return _one_kernel(und, _fixpoint, StructType([
        StructField("v", v_type), StructField("component_id", v_type)]),
        "connected_components")


def dedup_by_components(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Cluster-correct survivor resolution: connected-components over
    the pair graph, keep the min-id doc per component (docs in no pair
    are their own component and always survive)."""
    comp = connected_components(pairs)
    labeled = df.join(comp.withColumnRenamed("v", id_col), id_col, "left")
    return labeled.filter(
        F.col("component_id").isNull()
        | (F.col(id_col) == F.col("component_id"))).drop("component_id")


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, max_iter: int = 20) -> DataFrame:
    """PageRank in FIXED-POINT arithmetic: ranks are longs in
    micro-units (1e12 = mass 1.0), contributions truncate an IEEE
    double division to a long, and every per-round sum is an integer
    sum — so the result is bit-identical under any partitioning (a
    double-sum PageRank drifts with association order). The tiny
    mass lost to truncation decays the total by < |V| ulp per round —
    deterministic, and irrelevant to ranking.

    Shape: ONE Spark pass plus one in-memory loop. The distributed
    ``dropDuplicates`` of (u, w) is the only data-sized step; the
    distinct edges then go, as one group on a constant column, to a
    single ``applyInPandas`` kernel that runs all ``max_iter`` rounds
    in numpy. Per round, with ``t`` the total rank, ``l`` the rank
    held by vertices with out-edges and ``n`` the vertex count::

        c       = trunc(double(r[u]) / double(deg[u]))   per edge
        in_mass = int64 sum of c per w
        base    = (t - t*85 div 100 + (t - l)*85 div 100) div n
        r'      = trunc(double(base) + double(in_mass*85) / 100)

    which is the arithmetic of the unrolled SQL oracle
    (queries/relational.py:_pagerank_oracle). The returned DataFrame
    is a lazy plan: building it fires no job and persists nothing.
    Edges with a NULL endpoint are dropped; an empty edge set gives an
    empty result. Returns (v, rank) with rank scaled back to doubles
    summing ≈ 1."""
    SCALE = 1_000_000_000_000
    d_num, d_den = int(damping * 100), 100
    out = _edge_pass(edges, src, dst).dropDuplicates()
    v_type = out.schema["a"].dataType

    def _rounds(pdf):
        import numpy as np
        import pandas as pd

        u, w, verts = _codes(pdf)
        n = len(verts)
        deg = np.bincount(u, minlength=n)
        linked = deg > 0
        deg_u = deg[u].astype(np.float64)
        r = np.full(n, SCALE // n, dtype=np.int64)
        for _ in range(max_iter):
            c = (r[u].astype(np.float64) / deg_u).astype(np.int64)
            in_mass = np.zeros(n, dtype=np.int64)
            np.add.at(in_mass, w, c)
            t, lk = int(r.sum()), int(r[linked].sum())
            base = (t - t * d_num // d_den
                    + (t - lk) * d_num // d_den) // n
            r = (np.float64(base)
                 + (in_mass * d_num).astype(np.float64) / d_den
                 ).astype(np.int64)
        return pd.DataFrame({"v": verts, "r": r})

    ranks = _one_kernel(out, _rounds, StructType([
        StructField("v", v_type), StructField("r", LongType())]),
        "pagerank")
    return ranks.select(
        "v", (F.col("r").cast("double") / F.lit(float(SCALE)))
        .alias("rank"))


def bfs_hops(edges: DataFrame, src: str = "src", dst: str = "dst",
             max_hops: int = 4) -> DataFrame:
    """Breadth-first hop distance, at most ``max_hops``, from the
    smallest vertex of the undirected ``edges`` graph. Returns
    (v, hops int), one row per vertex reached, the root at hops 0.

    Per round the kernel marks the unvisited neighbours of the
    frontier as the next level: the level-by-level BFS of the unrolled
    SQL oracle (queries/relational.py:_bfs_oracle_sql), in which each
    level is a distinct frontier, never an enumeration of walks."""
    e = _edge_pass(edges, src, dst)
    v_type = e.schema["a"].dataType

    def _levels(pdf):
        import numpy as np
        import pandas as pd

        u, w, verts = _codes(pdf)
        s, t = np.concatenate([u, w]), np.concatenate([w, u])
        hops = np.full(len(verts), -1, dtype=np.int32)
        hops[0] = 0
        frontier = hops == 0
        for d in range(1, max_hops + 1):
            nxt = np.zeros(len(verts), dtype=bool)
            nxt[t[frontier[s]]] = True
            nxt &= hops < 0
            hops[nxt] = d
            frontier = nxt
        seen = hops >= 0
        return pd.DataFrame({"v": verts[seen], "hops": hops[seen]})

    return _one_kernel(e, _levels, StructType([
        StructField("v", v_type), StructField("hops", IntegerType())]),
        "bfs_hops")


def shortest_paths(edges: DataFrame, src: str = "src", dst: str = "dst",
                   weight: str = "w", rounds: int = 4) -> DataFrame:
    """Weighted shortest paths by ``rounds`` rounds of Bellman-Ford
    from the smallest vertex of the undirected ``edges`` graph, whose
    integer ``weight`` column applies in both directions. Returns
    (v, dist bigint), one row per vertex whose cheapest walk of at
    most ``rounds`` edges is found.

    Each round relaxes every edge out of every reached vertex and
    keeps the minimum: the MIN-merge of the unrolled SQL oracle
    (queries/relational.py:_sssp_oracle_sql), in exact int64
    arithmetic."""
    e = _edge_pass(edges, src, dst, F.col(weight).alias("c"))
    v_type = e.schema["a"].dataType

    def _relax(pdf):
        import numpy as np
        import pandas as pd

        u, w, verts = _codes(pdf)
        c = pdf["c"].to_numpy(dtype=np.int64)
        s, t = np.concatenate([u, w]), np.concatenate([w, u])
        c = np.concatenate([c, c])
        unset = np.iinfo(np.int64).max
        dist = np.full(len(verts), unset, dtype=np.int64)
        dist[0] = 0
        for _ in range(rounds):
            out = dist[s] != unset
            nxt = dist.copy()
            np.minimum.at(nxt, t[out], dist[s[out]] + c[out])
            dist = nxt
        seen = dist != unset
        return pd.DataFrame({"v": verts[seen], "dist": dist[seen]})

    return _one_kernel(e, _relax, StructType([
        StructField("v", v_type), StructField("dist", LongType())]),
        "shortest_paths")


def _distinct_arcs(u, w, n):
    """Both directions of every distinct undirected edge (u, w), as
    (source codes, target codes)."""
    import numpy as np

    lo, hi = np.minimum(u, w), np.maximum(u, w)
    key = np.unique(lo.astype(np.int64) * n + hi)
    lo, hi = key // n, key % n
    return np.concatenate([lo, hi]), np.concatenate([hi, lo])


def kcore_peel(edges: DataFrame, src: str = "src", dst: str = "dst",
               k: int = 3, rounds: int = 6) -> DataFrame:
    """``rounds`` rounds of k-core peeling on the undirected ``edges``
    graph (duplicates collapse). Each round keeps the vertices of
    degree >= ``k`` and then the edges whose both ends were kept.
    Returns (v, degree bigint): each vertex with an edge left, and its
    degree in the peeled graph.

    The arithmetic of the unrolled SQL oracle
    (queries/relational.py:_kcore_oracle_sql): bounding the rounds
    makes the operator an anytime contract both engines state
    identically."""
    e = _edge_pass(edges, src, dst)
    v_type = e.schema["a"].dataType

    def _peel(pdf):
        import numpy as np
        import pandas as pd

        u, w, verts = _codes(pdf)
        n = len(verts)
        s, t = _distinct_arcs(u, w, n)
        live = np.ones(len(s), dtype=bool)
        for _ in range(rounds):
            keep = np.bincount(s[live], minlength=n) >= k
            live &= keep[s] & keep[t]
        deg = np.bincount(s[live], minlength=n)
        left = deg > 0
        return pd.DataFrame({"v": verts[left],
                             "degree": deg[left].astype(np.int64)})

    return _one_kernel(e, _peel, StructType([
        StructField("v", v_type), StructField("degree", LongType())]),
        "kcore_peel")


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", rounds: int = 3) -> DataFrame:
    """``rounds`` rounds of synchronous label propagation on the
    undirected ``edges`` graph (duplicates collapse). Every vertex
    starts with its own id as its label; each round it takes the most
    frequent label among its neighbours, ties to the smallest label.
    Returns (v, label), one row per vertex.

    The arithmetic of the unrolled SQL oracle
    (queries/relational.py:_labelprop_oracle_sql): integer counts and a
    total-order tie-break, so the result is deterministic."""
    e = _edge_pass(edges, src, dst)
    v_type = e.schema["a"].dataType

    def _propagate(pdf):
        import numpy as np
        import pandas as pd

        u, w, verts = _codes(pdf)
        n = len(verts)
        s, t = _distinct_arcs(u, w, n)
        label = np.arange(n, dtype=np.int64)
        for _ in range(rounds):
            pair, cnt = np.unique(t * n + label[s], return_counts=True)
            node, lab = pair // n, pair % n
            # per node: highest count first, then the smallest label
            order = np.lexsort((lab, -cnt, node))
            node, lab = node[order], lab[order]
            first = np.r_[True, node[1:] != node[:-1]]
            label[node[first]] = lab[first]
        return pd.DataFrame({"v": verts, "label": verts[label]})

    return _one_kernel(e, _propagate, StructType([
        StructField("v", v_type), StructField("label", v_type)]),
        "label_propagation")
