"""Connected components over near-duplicate pair edges.

``dedup_by_pairs`` uses a one-pass star approximation (drop every
larger-id endpoint), which over-drops when duplicate clusters chain:
a~b, b~c with a<b<c drops BOTH b and c even if a~c was never observed.
Proper cluster resolution labels each doc with its component's min id
and keeps exactly one survivor per component.

:func:`connected_components` is iterative min-label propagation:
every node starts labeled with its own id; each round, a node adopts
the smallest label among itself and its neighbors; fixpoint = every
node carries its component's minimum id. Convergence takes
O(component diameter) rounds — near-dup clusters are shallow, so a
handful. Each round is two shuffles (neighbor-min groupBy + label
join); lineage is truncated per round with ``localCheckpoint`` so the
plan doesn't grow with iterations (the standard iterative-Spark
discipline; on a cluster use ``checkpoint`` to reliable storage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from gasket_spark.utils import persisted


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 50) -> DataFrame:
    """Label every vertex of the undirected ``edges`` graph with its
    component's minimum vertex id. Returns (v, component_id).
    Deterministic: the fixpoint is unique regardless of partitioning
    or iteration interleaving."""
    # No .distinct() on sym: the per-round groupBy-min absorbs
    # duplicate edges (they only pad the join output), so the
    # symmetrize pass stays shuffle-free — one fewer exchange +
    # materialization before the loop. (A repartition("u") +
    # co-partitioned shuffle-hash loop was A/B-measured 2.7×
    # SLOWER here: the near-dup pair graph is tiny, so the per-round
    # exchange it would save costs less than the setup shuffle —
    # the loop-invariant-partitioning trick only pays on edge tables
    # big enough for the per-round sort/exchange to dominate.)
    sc = edges.sparkSession.sparkContext
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        # union stacks both inputs' partitions (2× task count every
        # round); a narrow coalesce restores the parallelism target
        # without the exchange the old .distinct() paid for.
        .coalesce(sc.defaultParallelism)
    )
    # sym is re-joined every round; labels are localCheckpoint'ed
    # (materialized) each round, so sym's cache can be released the
    # moment the loop exits — scope-bound, not LRU-bound.
    from pyspark.sql import Observation

    # Convergence check without a join OR a second job: labels only
    # ever DECREASE, so Σ label is strictly monotone until the
    # fixpoint — and an Observation attached under the checkpoint
    # computes it DURING the materialization job (verified: metrics
    # fire on localCheckpoint), so each round is exactly one job.
    def _checkpoint_with_sum(df):
        obs = Observation()
        out = df.observe(obs, F.sum("label").alias("s")) \
            .localCheckpoint()
        return out, obs.get["s"]

    with persisted(sym):
        # Round 1 needs NO join: the neighbor-min of the identity seed
        # (label(v) = v) is min(v, min of v's neighbors), which reads
        # straight off the edge list — neighbor candidates from
        # sym(v ← u), self candidates from sym(u ← u). One shuffle
        # replaces seed-distinct + join.
        labels, label_sum = _checkpoint_with_sum(
            sym.select("v", F.col("u").alias("label"))
            .unionByName(sym.select(F.col("u").alias("v"),
                                    F.col("u").alias("label")))
            .groupBy("v").agg(F.min("label").alias("label"))
        )
        for _ in range(max_iter - 1):
            # one hop of min-label propagation in TWO shuffles: push
            # every neighbor's label to v (join on u), union v's own
            # label row, take the min per v. (The previous three-
            # shuffle form did groupBy then re-joined onto labels.)
            labels, new_sum = _checkpoint_with_sum(
                sym.join(labels.select(F.col("v").alias("u"), "label"), "u")
                .select("v", "label")
                .unionByName(labels)
                .groupBy("v").agg(F.min("label").alias("label"))
            )
            if new_sum == label_sum:
                break
            label_sum = new_sum
    return labels.select("v", F.col("label").alias("component_id"))


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

    ranks = (out.withColumn("_g", F.lit(0)).groupBy("_g")
             .applyInPandas(_rounds, StructType([
                 StructField("v", v_type), StructField("r", LongType())])))
    return ranks.select(
        "v", (F.col("r").cast("double") / F.lit(float(SCALE)))
        .alias("rank"))
