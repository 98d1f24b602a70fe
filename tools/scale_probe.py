"""Scale-validate the iterative heavies (q_pagerank,
q_dedup_components, the co-purchase graph queries) and the banded-LSH
and streaming state families at ~sf1 (10x the bench scale).

Usage: python tools/scale_probe.py [base_sf_dir] [out_dir]

Builds a 10x corpus from sf0.1 by writing 10 key-shifted replicas:

* ``lineitem``: (l_partkey, l_suppkey) shifted per replica — ten
  disjoint copies of the co-purchase graph (10x vertices, 10x edges).
* ``documents``: doc_id shifted AND every token suffixed with the
  replica id, so replicas share no shingles — the near-dup pair graph
  is exactly ten independent copies of the sf0.1 one (a faithful 10x
  of the same problem, not a 100x pair explosion from cross-replica
  duplicates).

Then times each query at the base SF and at 10x on the same session
and prints a markdown table. The iterative queries are
job-overhead-bound at sf0.1 (fixed per-job scheduling cost
dominates), so the expectation at 10x data is a wall-time ratio well
under 10x. It also prints the co-purchase edge count at each scale
against ``GRAPH_MAX_EDGES``, the size contract of the one worker that
runs each graph kernel.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def build_10x(spark, base: str, out: str, replicas: int = 10) -> None:
    from gasket_spark.io import read_table

    li = read_table(spark, base, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey")
    parts = []
    for i in range(replicas):
        # orderkey shift is a multiple of 10, so the triangle family's
        # deterministic l_orderkey % 10 sample keeps the SAME orders in
        # every replica -> the co-purchase graph is exactly ten
        # disjoint copies of the base one
        parts.append(li.select(
            (F.col("l_orderkey") + i * 100_000_000).alias("l_orderkey"),
            (F.col("l_partkey") + i * 10_000_000).alias("l_partkey"),
            (F.col("l_suppkey") + i * 1_000_000).alias("l_suppkey")))
    big_li = parts[0]
    for p in parts[1:]:
        big_li = big_li.unionByName(p)
    big_li.write.mode("overwrite").parquet(os.path.join(out,
                                                        "lineitem.parquet"))

    docs = read_table(spark, base, "documents").select("doc_id", "text")
    dparts = []
    for i in range(replicas):
        # suffix every token with the replica id: replicas share no
        # shingles, so the pair graph is 10 independent copies
        perturbed = F.array_join(
            F.transform(F.split("text", " "),
                        lambda t, i=i: F.concat(t, F.lit(f"~{i}"))), " ")
        dparts.append(docs.select(
            (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
            perturbed.alias("text")))
    big_docs = dparts[0]
    for p in dparts[1:]:
        big_docs = big_docs.unionByName(p)
    big_docs.write.mode("overwrite").parquet(os.path.join(out,
                                                          "documents.parquet"))


def build_10x_events(spark, base: str, out: str,
                     replicas: int = 10) -> None:
    """10x events: user_id/event_id shifted per replica, same time
    span — ten disjoint user populations, so the resample grid and
    the per-type sweep both face exactly 10x their base problem."""
    from gasket_spark.io import read_table

    ev = read_table(spark, base, "events")
    parts = []
    for i in range(replicas):
        parts.append(ev.select(
            (F.col("event_id") + i * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + i * 10_000_000).alias("user_id"),
            "event_type", "value", "props"))
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(os.path.join(out,
                                                     "events.parquet"))


def build_10x_embeddings(spark, base: str, out: str,
                         replicas: int = 10) -> None:
    """10x embeddings: vec_id shifted per replica (labels carried).
    The q_sim_maxsim/q_sim_topk query set (vec_id < k) exists only in
    replica 0, so the probe measures pure CORPUS-side scaling of the
    broadcast-join scoring kernels — 10x candidate rows, same
    queries."""
    from gasket_spark.io import read_table

    emb = read_table(spark, base, "embeddings")
    parts = [emb.select(
        (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
        "embedding", "label") for i in range(replicas)]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(os.path.join(out,
                                                     "embeddings.parquet"))


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else \
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".scratch", "sf1")
    os.makedirs(out, exist_ok=True)

    from gasket_spark.session import get_spark
    spark = get_spark()

    if not os.path.exists(os.path.join(out, "documents.parquet")):
        t0 = time.time()
        build_10x(spark, base, out)
        print(f"built 10x corpus in {time.time() - t0:.1f}s -> {out}")
    if not os.path.exists(os.path.join(out, "events.parquet")):
        t0 = time.time()
        build_10x_events(spark, base, out)
        print(f"built 10x events in {time.time() - t0:.1f}s -> {out}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        t0 = time.time()
        build_10x_embeddings(spark, base, out)
        print(f"built 10x embeddings in {time.time() - t0:.1f}s -> {out}")

    from gasket_spark.operators.graph import GRAPH_MAX_EDGES
    from gasket_spark.queries import QUERIES
    from gasket_spark.queries.relational import _copurchase_edges

    for label, d in [("sf0.1", base), ("sf1 (10x)", out)]:
        n = _copurchase_edges(spark, d).count()
        print(f"co-purchase edges at {label}: {n} "
              f"({n / GRAPH_MAX_EDGES:.2%} of GRAPH_MAX_EDGES="
              f"{GRAPH_MAX_EDGES})")
    print("| query | sf | rows | wall (s) | per-iteration (s) |")
    print("|---|---|---|---|---|")
    # iterative heavies + the banded-LSH join family (the probe's
    # disjoint-shingle replicas make 10x data = 10 independent copies
    # of the pair problem, so a superlinear ratio here would expose a
    # cross-replica candidate-pair blowup in the band join)
    # ... plus the confluent streaming state ops (r8/r9): the replay
    # serializes the 10x events dir, so the probe measures 10x keyed
    # state churn (state per key stays O(cap) by design — a
    # superlinear wall here would expose state growing with history
    # instead of the cap) and 10x join-state buffering for the semi.
    for qname, iters in [("q_pagerank", 8), ("q_dedup_components", None),
                         ("q_dedup_minhash", None),
                         ("q_dedup_incremental", None),
                         ("q_graph_triangles", None),
                         ("q_graph_bfs", None),
                         ("q_graph_sssp", None),
                         ("q_graph_kcore", None),
                         ("q_graph_labelprop", None),
                         ("q_resample_interp", None),
                         ("q_concurrency_peak", None),
                         ("q_sim_maxsim", None),
                         ("q_rolling_distinct", None),
                         ("q_stream_session_ewma", None),
                         ("q_stream_state_ttl", None),
                         ("q_stream_semi_join", None)]:
        for label, d in [("sf0.1", base), ("sf1 (10x)", out)]:
            t0 = time.time()
            n = QUERIES[qname](spark, d).count()
            dt = time.time() - t0
            per = f"{dt / iters:.2f}" if iters else "—"
            print(f"| {qname} | {label} | {n} | {dt:.1f} | {per} |")


if __name__ == "__main__":
    main()
