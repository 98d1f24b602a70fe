"""Graph operators as one Spark pass plus one in-memory kernel.

Both operators here share a shape: the only data-sized step is a
distributed ``dropDuplicates`` of the edge list; the distinct edges
then go, as one group on a constant column, to a single
``applyInPandas`` kernel that runs every round of the algorithm in
numpy. At this engine's graph sizes (the near-dup pair graph, the
co-purchase graph) a per-round Spark loop pays a job, its tasks and a
checkpoint per round for very little data, so the in-memory loop is
faster; a module-constant edge limit per operator is the size
contract of the one worker that holds the graph.

:func:`connected_components` resolves near-duplicate clusters.
``dedup_by_pairs`` uses a one-pass star approximation (drop every
larger-id endpoint), which over-drops when duplicate clusters chain:
a~b, b~c with a<b<c drops BOTH b and c even if a~c was never observed.
Proper cluster resolution labels each doc with its component's min id
and keeps exactly one survivor per component.

:func:`pagerank` is fixed-point PageRank with integer arithmetic, so
its result is bit-identical under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def _one_kernel(df: DataFrame, kernel, schema: StructType) -> DataFrame:
    """Run ``kernel`` once over all of ``df`` as one pandas frame, as a
    lazy plan (``groupBy(F.lit(0))`` hits an internal error in
    pyspark 4.1, so the constant is a column). An empty ``df`` has no
    group, so the kernel does not run and the result is empty."""
    return (df.withColumn("_g", F.lit(0)).groupBy("_g")
            .applyInPandas(kernel, schema))


# Size contract of connected_components' single-task kernel: every
# distinct undirected edge is held by one Python worker, as two int64
# code arrays plus the pandas frame it arrives in.
COMPONENTS_MAX_EDGES = 20_000_000


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
    empty edge set gives an empty result. A graph with more than
    ``COMPONENTS_MAX_EDGES`` distinct edges fails the kernel loudly
    instead of exhausting the worker."""
    # read here, on the driver: the kernel runs in a worker process
    # that imports its own copy of this module
    max_edges = COMPONENTS_MAX_EDGES
    # dropna before least/greatest, which skip a NULL argument
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .dropna()
           .select(F.least("a", "b").alias("u"),
                   F.greatest("a", "b").alias("w"))
           .dropDuplicates())
    v_type = und.schema["u"].dataType

    def _fixpoint(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m > max_edges:
            raise ValueError(
                f"connected_components: {m} distinct edges exceed "
                f"COMPONENTS_MAX_EDGES={max_edges}, the size one "
                "in-memory kernel holds")
        codes, verts = pd.factorize(
            pd.concat([pdf["u"], pdf["w"]], ignore_index=True), sort=True)
        u, w = codes[:m], codes[m:]
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
        StructField("v", v_type), StructField("component_id", v_type)]))


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


# Size contract of pagerank's single-task kernel: every distinct edge
# of the graph is held by one Python worker, as two int64 code arrays
# plus the pandas frame it arrives in.
PAGERANK_MAX_EDGES = 20_000_000


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
    A graph with more than ``PAGERANK_MAX_EDGES`` distinct edges fails
    the kernel loudly instead of exhausting the worker. Edges with a
    NULL endpoint are dropped; an empty edge set gives an empty
    result. Returns (v, rank) with rank scaled back to doubles summing
    ≈ 1."""
    SCALE = 1_000_000_000_000
    d_num, d_den = int(damping * 100), 100
    # read here, on the driver: the kernel runs in a worker process
    # that imports its own copy of this module
    max_edges = PAGERANK_MAX_EDGES
    out = (edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
           .dropna().dropDuplicates())
    v_type = out.schema["u"].dataType

    def _rounds(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m > max_edges:
            raise ValueError(
                f"pagerank: {m} distinct edges exceed PAGERANK_MAX_EDGES"
                f"={max_edges}, the size one in-memory kernel holds")
        codes, verts = pd.factorize(pd.concat([pdf["u"], pdf["w"]],
                                              ignore_index=True))
        u, w = codes[:m], codes[m:]
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
        StructField("v", v_type), StructField("r", LongType())]))
    return ranks.select(
        "v", (F.col("r").cast("double") / F.lit(float(SCALE)))
        .alias("rank"))
