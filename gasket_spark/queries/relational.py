"""Relational operator inventory (SURVEY.md §2B) — scans, joins,
aggregates, windows, sort/limit, set ops, scalar function packs.

Every query here is declarative DataFrame API so Catalyst gets full
freedom: predicate pushdown + column pruning reach the parquet scans,
join strategies are chosen by AQE (with explicit ``broadcast()`` hints
where a dimension is known-small), and aggregates are partial
(map-side) by construction. Floating-point aggregates use the
integer-space pattern from ``gasket_spark.functions.numeric`` so the
result is independent of partitioning — see that module's docstring.

The reference has no relational operators at all (its whole surface is
pipeline composition, /root/reference/index.js:140-161); this module is
the data-processing capability those pipelines exist to deliver,
per the rebuild contract (BASELINE.json "north_star").
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from gasket_spark.functions.numeric import iscaled, money_avg, money_sum
from gasket_spark.io import (
    checkpoint_tracked, df_to_ndjson, free_checkpoint, read_table,
    session_cached, stamp_cached,
)
from gasket_spark.queries import query


# ---------------------------------------------------------------------------
# scan / source
# ---------------------------------------------------------------------------

@query(
    "q_scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan with projection (gasket's source stage,
    /root/reference/index.js:14-27, lifted to a typed scan)."""
    return read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


_NDJSON_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


@query(
    "q_scan_ndjson",
    oracle="""
    SELECT event_id, user_id, event_type, value, props FROM events
    """,
)
def q_scan_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON source with a pinned schema — gasket's ``json:true``
    record framing (/root/reference/index.js:73): serialize → parse
    round-trip must be lossless. Timestamps are excluded because JSON
    text is a millisecond-precision format; at scale, pin schemas
    (inference = an extra full read)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props")
    # Rewrite the NDJSON copy only when the source fixture changed:
    # repeated harness runs pay the serialization once, and a stale
    # copy can never survive a fixture update.
    out = stamp_cached(
        os.path.join(tempfile.gettempdir(), "gasket_spark_ndjson",
                     os.path.basename(os.path.normpath(sf_dir))),
        os.path.join(sf_dir, "events.parquet"),
        lambda d: df_to_ndjson(ev).write.mode("overwrite").text(d))
    return spark.read.schema(_NDJSON_SCHEMA).json(out).select(
        "event_id", "user_id", "event_type", "value", "props")


@query(
    "q_scan_orc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderpriority
    FROM orders
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip: the orders table serialized to ORC once
    (stamp-cached like the NDJSON twin) and read back — column
    pruning and predicate pushdown work on ORC exactly as on parquet,
    so a lakehouse mixing both formats keeps one engine surface."""
    from gasket_spark.io import read_orc, write_orc

    cols = ["o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderpriority"]
    od = read_table(spark, sf_dir, "orders").select(*cols)
    out = stamp_cached(
        os.path.join(tempfile.gettempdir(), "gasket_spark_orc",
                     os.path.basename(os.path.normpath(sf_dir))),
        os.path.join(sf_dir, "orders.parquet"),
        lambda d: write_orc(od, d))
    return read_orc(spark, out).select(*cols)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT)
             AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables are written as
    8-bucket hash-clustered managed tables on the join key, so the
    join itself needs NO exchange — the shuffle is paid once at write
    time, then every subsequent join/agg on the key is exchange-free
    (the plan contract is regression-tested in tests/test_plans.py).
    This is THE at-scale pattern for a fact table joined daily: at
    100 TB the one-time bucketing write replaces a per-query
    terabyte shuffle."""
    from gasket_spark.io import drop_managed_table, write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    t_orders, t_items = f"gbkt_orders_{tag}", f"gbkt_lineitem_{tag}"
    od = read_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_quantity")
    # stale-location guard: a prior session's warehouse dir survives
    # while the fresh catalog forgot the table
    drop_managed_table(spark, t_orders)
    drop_managed_table(spark, t_items)
    write_bucketed(od, t_orders, ["o_orderkey"], n_buckets=8)
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                   t_items, ["o_orderkey"], n_buckets=8)
    return (
        spark.table(t_orders)
        .join(spark.table(t_items), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(F.round("l_quantity").cast("bigint"))
             .alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# project / filter
# ---------------------------------------------------------------------------

@query(
    "q_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_quantity,
           l_returnflag = 'A' AS is_returned
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_discount > 0.02 AND l_quantity < 30
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection + computed columns. The filters and the
    4-column read schema are pushed to the parquet scan (check
    ``PushedFilters`` in explain)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.02) & (F.col("l_quantity") < 30)
        )
        .select(
            "l_orderkey", "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
            "l_quantity",
            (F.col("l_returnflag") == "A").alias("is_returned"),
        )
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension equi-join chain (customer ⋈ nation ⋈ region) with
    explicit broadcast hints — at 100 TB the fact side streams map-side
    with zero shuffle for the joins; only the final tiny groupBy
    shuffles."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@query(
    "q_join_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) / 100.0 AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large fact-fact equi-join (orders ⋈ lineitem). Both sides shuffle
    on the join key once; AQE picks sort-merge (or splits skewed
    partitions). The aggregate is partial map-side before its own
    (tiny) shuffle."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
        )
    )


@query(
    "q_join_semi_anti",
    oracle="""
    SELECT c_custkey, 'has_orders' AS kind FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS kind FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins — existence checks without
    materializing the probe side (no row multiplication, and the
    orders side can broadcast its join keys only)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", F.lit("has_orders").alias("kind"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", F.lit("no_orders").alias("kind"))
    )
    return semi.unionByName(anti)


@query(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                         AS BIGINT), 0) / 100.0 AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-aware aggregation (customers with no
    orders keep a 0 total)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count(F.col("o_orderkey")).alias("n_orders"),
            (F.coalesce(F.sum(iscaled(F.col("o_totalprice"))), F.lit(0))
             / F.lit(100.0)).alias("total_spent"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
    ) = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest order at-or-before
    its timestamp for the same user.

    Implemented with the union-and-window ("merge") pattern, NOT a
    range join: tag both sides, union on (key, time), and carry the
    last order key forward with ``last(..., ignorenulls)``. One shuffle
    on the key, no intermediate row explosion — the scale-correct
    shape (a naive join + filter materializes |events| × |orders/user|
    rows before pruning). Ties (order date == event ts) resolve to the
    order side first, then max order key.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_id"),
        F.lit(None).cast("bigint").alias("ord_key"),
        F.lit(1).alias("side"),
    )
    od = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey").alias("ord_key"),
        F.lit(0).alias("side"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("side").asc(), F.col("ord_key").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(od)
        .withColumn("asof_orderkey", F.last("ord_key", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("event_id", F.col("k").alias("user_id"), "asof_orderkey")
    )


@query(
    "q_join_asof_fwd",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate ASC NULLS LAST, o.o_orderkey ASC NULLS LAST
    ) = 1
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event matched to the EARLIEST order
    at-or-after its timestamp per user — the mirror of q_join_asof
    (direction='forward' in pandas merge_asof terms), same union-and-
    window merge shape but carrying the next order key backward with
    ``first(ignorenulls)`` over a FOLLOWING frame. One shuffle on the
    key, no row explosion. Ties (order date == event ts) match, and
    resolve to the min order key."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_id"),
        F.lit(None).cast("bigint").alias("ord_key"),
        F.lit(0).alias("side"),
    )
    od = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey").alias("ord_key"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("side").asc(),
                 F.col("ord_key").asc_nulls_last())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        ev.unionByName(od)
        .withColumn("next_orderkey",
                    F.first("ord_key", ignorenulls=True).over(w))
        .filter(F.col("side") == 0)
        .select("event_id", F.col("k").alias("user_id"), "next_orderkey")
    )


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

@query(
    "q_agg_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
        AS sum_base_price,
      CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        AS BIGINT) / 100.0 AS sum_disc_price,
      CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS sum_charge,
      CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
        / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        / COUNT(*) / 100.0 AS avg_price,
      CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
        / COUNT(*) / 100.0 AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregate — the engine's flagship query.
    Hash aggregate with map-side partials; only (flag, status) group
    keys shuffle. Money sums in integer space (partition-independent)."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(iscaled(F.col("l_quantity"), 1)).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge, 1_000_000).alias("sum_charge"),
            (F.sum(iscaled(F.col("l_quantity"), 1)) / cnt).alias("avg_qty"),
            money_avg(F.col("l_extendedprice")).alias("avg_price"),
            money_avg(F.col("l_discount")).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT CAST(year(o_orderdate) AS INT)) AS n_years,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expands to a two-phase partial
    distinct under the hood; see q_agg_approx_distinct for the
    sketch-based scale path)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.year("o_orderdate").cast("int")).alias("n_years"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_exact,
           COUNT(*) AS n_orders, TRUE AS hll_ok
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_count_distinct`` (HyperLogLog++) — the O(1)-memory
    distinct-count for 100 TB, where an exact distinct would shuffle
    every key. The raw estimate is engine-specific, so the query
    verifies it IN-PLAN: ``hll_ok`` asserts the estimate is within 6
    relative standard errors (rsd=0.02 → ±12%) of the exact count
    computed alongside, and the oracle pins every group TRUE — a
    hash-verified error-bound claim instead of a rows-only shrug."""
    o = read_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
        F.countDistinct("o_custkey").alias("n_exact"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    err = F.abs(F.col("_approx") - F.col("n_exact")) \
        / F.col("n_exact").cast("double")
    return agg.select("o_orderstatus", "n_exact", "n_orders",
                      (err <= 0.12).alias("hll_ok"))


@query(
    "q_agg_hll_sketch",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority,
             COUNT(DISTINCT o_custkey) AS n_exact
      FROM orders GROUP BY o_orderpriority),
    g AS (SELECT COUNT(DISTINCT o_custkey) AS g_exact FROM orders)
    SELECT o_orderpriority, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(g_exact AS BIGINT) AS g_exact,
           TRUE AS est_ok, TRUE AS merged_ok
    FROM per CROSS JOIN g
    """,
)
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED mergeable HLL sketches via Spark's native Datasketches
    functions (``hll_sketch_agg`` / ``hll_union_agg``, JVM-side):
    where q_agg_approx_distinct answers one-shot cardinality, here
    each group's sketch is a first-class value that UNION-MERGES into
    a global estimate WITHOUT rescanning — the per-day → per-month
    rollup shape (the native twin of operators/sketch.py's KMV/theta
    family). In-plan verification, oracle pins it: each per-group
    estimate within ±6% of its exact count and the merged global
    estimate within ±6% of the exact global (default lgConfigK=12 →
    rsd ≈ 1.6%, so ≈ 4σ; Datasketches hashing is deterministic)."""
    # `per` is referenced twice and the global exact needs its own
    # distinct — three column-pruned scans of the (2-column) orders
    # projection. Deliberate: a query function can't scope-unpersist a
    # cache its caller consumes later, and in production the sketch
    # table is STORED, not recomputed, so the sharing happens at the
    # storage layer.
    od = read_table(spark, sf_dir, "orders")
    per = od.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("_sk"),
        F.countDistinct("o_custkey").alias("n_exact"))
    glob = (
        per.agg(F.expr("hll_sketch_estimate(hll_union_agg(_sk))")
                .alias("_g_est"))
        .crossJoin(F.broadcast(
            od.agg(F.countDistinct("o_custkey").alias("g_exact"))))
    )
    per_err = (F.abs(F.expr("hll_sketch_estimate(_sk)")
                     - F.col("n_exact"))
               / F.col("n_exact").cast("double"))
    g_err = (F.abs(F.col("_g_est") - F.col("g_exact"))
             / F.col("g_exact").cast("double"))
    return (
        per.select("o_orderpriority", "n_exact",
                   (per_err <= 0.06).alias("est_ok"))
        .crossJoin(F.broadcast(
            glob.select("g_exact", (g_err <= 0.06).alias("merged_ok"))))
        .select("o_orderpriority", "n_exact", "g_exact",
                "est_ok", "merged_ok")
    )


@query(
    "q_agg_rollup_cube",
    oracle="""
    SELECT 'rollup' AS op, l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS op, l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: rollup + cube with grouping flags (the flags
    disambiguate real NULL keys from subtotal rows)."""
    li = read_table(spark, sf_dir, "lineitem")
    aggs = [
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum(iscaled(F.col("l_quantity"), 1)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ]
    roll = (
        li.rollup("l_returnflag", "l_linestatus").agg(*aggs)
        .select(F.lit("rollup").alias("op"), "*")
    )
    cube = (
        li.cube("l_returnflag", "l_linestatus").agg(*aggs)
        .select(F.lit("cube").alias("op"), "*")
    )
    return roll.unionByName(cube)


# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------

@query(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER w AS rn,
           rank()       OVER w2 AS rnk,
           dense_rank() OVER w2 AS drnk
    FROM orders
    WINDOW
      w  AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
      w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    QUALIFY row_number() OVER w <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ranking window (top-3 orders per customer).
    One shuffle on the partition key; AQE handles group skew. The
    row_number ORDER BY carries a unique tiebreak so the selected set
    is deterministic."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("rnk"),
            F.dense_rank().over(w2).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_window_analytic",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_orderkey)  OVER w AS prev_orderkey,
           lead(o_orderkey) OVER w AS next_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 100.0 AS running_spend,
           CAST(count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_last3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + running sum + bounded frame. The running sum runs in
    integer space: a double running sum's value would depend on the
    engine's frame-aggregation algorithm (DuckDB uses segment trees)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wlast3 = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey", "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        (F.sum(iscaled(F.col("o_totalprice"))).over(wrun) / F.lit(100.0))
        .alias("running_spend"),
        F.count(F.lit(1)).over(wlast3).alias("n_last3"),
    )


# ---------------------------------------------------------------------------
# sort / limit, set ops
# ---------------------------------------------------------------------------

@query(
    "q_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k. Spark plans ORDER BY + LIMIT as TakeOrderedAndProject:
    per-partition top-k then a k-row merge on the driver — no global
    sort shuffle, which is exactly what you want at 100 TB."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "q_setops",
    oracle="""
    SELECT 'union' AS op, nk FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION SELECT s_nationkey AS nk FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, nk FROM (
      SELECT c_nationkey AS nk FROM customer
      INTERSECT SELECT s_nationkey AS nk FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nk FROM (
      SELECT c_nationkey AS nk FROM customer
      EXCEPT SELECT s_nationkey AS nk FROM supplier)
    """,
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) / INTERSECT / EXCEPT with SQL distinct
    semantics."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return (
        c.union(s).distinct().select(F.lit("union").alias("op"), "nk")
        .unionByName(
            c.intersect(s).select(F.lit("intersect").alias("op"), "nk"))
        .unionByName(
            c.subtract(s).select(F.lit("except").alias("op"), "nk"))
    )


# ---------------------------------------------------------------------------
# scalar function packs
# ---------------------------------------------------------------------------

@query(
    "q_scalar_string_date_math",
    oracle="""
    SELECT o_orderkey,
           upper(substring(o_orderpriority, 1, 1)) AS pr_code,
           lower(regexp_extract(o_orderpriority, '[A-Z]+', 0)) AS pr_word,
           concat(o_orderstatus, '-', o_orderpriority) AS status_pri,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                AS INT) AS days_to_2002,
           CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS price_bucket,
           sqrt(o_totalprice) AS sqrt_price,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod
    FROM orders
    """,
)
def q_scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math / conditional scalar pack — all JVM
    built-ins inside whole-stage codegen (sqrt is IEEE-exact, so even
    the doubles are bit-identical across engines)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 1)).alias("pr_code"),
        F.lower(F.regexp_extract("o_orderpriority", "[A-Z]+", 0)).alias("pr_word"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority"))
        .alias("status_pri"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mon"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).cast("int")
        .alias("days_to_2002"),
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high").alias("price_bucket"),
        F.sqrt("o_totalprice").alias("sqrt_price"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod"),
    )


@query(
    "q_scalar_array_map_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(len(string_split_regex(event_type, 'i')) AS INT) AS n_parts,
           string_split_regex(event_type, 'i')[1] AS first_part,
           ((value + value * 2) + value * 3) AS arr_sum,
           value AS map_val,
           event_type AS s_type
    FROM events
    """,
)
def q_scalar_array_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / map / struct construction + JSON extraction (the typed
    lift of gasket's NDJSON records, /root/reference/index.js:73).
    ``arr_sum`` left-folds the array so the fp association order is
    pinned."""
    ev = read_table(spark, sf_dir, "events")
    arr = F.array(F.col("value"), F.col("value") * 2, F.col("value") * 3)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.size(F.split("event_type", "i")).cast("int").alias("n_parts"),
        F.element_at(F.split("event_type", "i"), 1).alias("first_part"),
        F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x).alias("arr_sum"),
        F.element_at(F.create_map(F.lit("a"), F.col("value")), "a")
        .alias("map_val"),
        F.struct("event_id", "event_type").getField("event_type")
        .alias("s_type"),
    )


@query(
    "q_explode_flatten",
    oracle="""
    SELECT event_id,
           CAST(event_id % 3 + 1 AS BIGINT) AS n_exploded,
           CAST((event_id % 3 + 1) * (event_id % 3 + 2) / 2 AS BIGINT) AS x_sum
    FROM events
    """,
)
def q_explode_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UDTF shape) + re-aggregation: each event fans
    out to ``event_id % 3 + 1`` rows, then folds back. The oracle is
    the closed form of the same fan-out."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.explode(F.sequence(F.lit(1).cast("bigint"),
                                 F.col("event_id") % 3 + 1)).alias("x"))
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_exploded"),
            F.sum("x").alias("x_sum"),
        )
    )


# ---------------------------------------------------------------------------
# percentile / pivot / range join (training-pipeline staples)
# ---------------------------------------------------------------------------

@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
             AS p50_price,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.9)
             AS p90_price,
           quantile_cont(CAST(ROUND(l_quantity) AS BIGINT), 0.5) AS p50_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (type-7 / SQL
    PERCENTILE_CONT semantics in both engines). Inputs are scaled to
    integer space first so the sort key — and therefore the
    interpolation endpoints — are bit-identical across engines; a
    distributed sort-based aggregate underneath, no quadratic step.
    At 100 TB the same call swaps to ``approx_percentile`` (t-digest,
    one pass, mergeable sketches) — exact here because the oracle
    must agree."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = iscaled(F.col("l_extendedprice"), 100)
    qty = iscaled(F.col("l_quantity"), 1)
    # array form: ONE value buffer serves both price percentiles
    # (separate percentile() calls would each buffer the column)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(cents, F.array(F.lit(0.5), F.lit(0.9)))
            .alias("_p_price"),
            F.percentile(qty, 0.5).alias("p50_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.element_at("_p_price", 1).alias("p50_price"),
            F.element_at("_p_price", 2).alias("p90_price"),
            "p50_qty", "n",
        )
    )


@query(
    "q_agg_percentile_approx",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path, PROVEN rather than asserted:
    ``approx_percentile`` (one-pass mergeable quantile summaries,
    rank error ≤ n/accuracy) computes p50/p90 per group, then a second
    map-side pass counts ranks below/at each approximate value and the
    query RETURNS whether the guarantee held. The exact-SQL oracle pins
    every group to ``TRUE`` — so this row hash-verifies the bounded
    error claim, not just that the query ran. (The exact twin
    ``q_agg_percentile`` stays the small-scale reference; this is the
    plan you'd run at scale: no per-group value buffering, sketches
    merge map-side.)"""
    li = read_table(spark, sf_dir, "lineitem")
    cents = iscaled(F.col("l_extendedprice"), 100)
    acc = 10_000
    approx = (
        li.groupBy("l_returnflag")
        .agg(F.approx_percentile(
                cents, F.array(F.lit(0.5), F.lit(0.9)), F.lit(acc))
             .alias("_ap"),
             F.count(F.lit(1)).alias("n"))
        .select("l_returnflag", "n",
                F.element_at("_ap", 1).alias("ap50"),
                F.element_at("_ap", 2).alias("ap90"))
    )
    # Rank check: the returned value's rank interval [lt+1, le] must
    # intersect [p·n − tol, p·n + tol]; tol = n/accuracy + 1 (the +1
    # absorbs the p·n vs 1+p·(n−1) rank-definition gap, < 1).
    ranks = (
        li.select("l_returnflag", cents.alias("v"))
        .join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.count_if(F.col("v") < F.col("ap50")).alias("lt50"),
             F.count_if(F.col("v") <= F.col("ap50")).alias("le50"),
             F.count_if(F.col("v") < F.col("ap90")).alias("lt90"),
             F.count_if(F.col("v") <= F.col("ap90")).alias("le90"))
    )
    tol = F.col("n") / acc + F.lit(1)

    def ok(p: float, lt: str, le: str):
        target = F.lit(p) * F.col("n")
        return ((F.col(lt) + 1 <= target + tol)
                & (F.col(le) >= target - tol))

    return (
        approx.join(ranks, "l_returnflag")
        .select("l_returnflag", "n",
                ok(0.5, "lt50", "le50").alias("p50_ok"),
                ok(0.9, "lt90", "le90").alias("p90_ok"))
    )


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
             / 100.0 AS F_total,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
             / 100.0 AS O_total,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
             / 100.0 AS P_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order totals by priority × status, as ONE
    conditional hash aggregate — ``sum(when(status == v, x))`` per
    explicit pivot value. The native ``groupBy().pivot()`` compiles to
    TWO stacked aggregates (pre-agg by (key, pivot) then pivotfirst =
    two shuffles); the conditional form is a single two-phase agg with
    one exchange, and the explicit value list keeps the output schema
    data-independent (a dynamic pivot costs a collect-distinct job
    first — both wrong at scale)."""
    od = read_table(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(*[
        money_sum(F.when(F.col("o_orderstatus") == v,
                         F.col("o_totalprice")))
        .alias(f"{v}_total")
        for v in ("F", "O", "P")])


@query(
    "q_join_range",
    oracle="""
    SELECT o.o_orderkey, COUNT(e.event_id) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM (SELECT o_orderkey, o_custkey,
                 TIMESTAMP '2024-01-01'
                   + (o_orderkey % 25) * INTERVAL 1 DAY AS win_start
          FROM orders) o
    JOIN events e
      ON e.user_id = o.o_custkey % 150
     AND e.ts >= o.win_start
     AND e.ts < o.win_start + INTERVAL 3 DAY
    GROUP BY o.o_orderkey
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: events inside a per-order 3-day window by
    the same user (window start derived deterministically from the
    order key, since the fixtures' native time ranges are disjoint).

    The join key is (user, 3-day epoch bucket) — the bucketized band
    join (r13 optimization round): the user key alone has only 150
    distinct values, so the equi join degenerated to a
    cross-product-per-user that the range residual then filtered
    (~100M pair evaluations at sf0.1). Bucketing time at the window
    width multiplies key cardinality ~10x and bounds each order to at
    most TWO buckets (a [s, s+3d) window spans at most two 3-day
    epoch cells, with integral-second window starts and floored event
    seconds staying inside [b0, b1] for any sub-second ts) — the
    explode is lossless and the residual still decides membership
    exactly. Measured 2.9 -> 1.7 s at sf0.1, identical 149,708 rows;
    at scale the win grows with events-per-user. The oracle states
    the pure equi+residual form — equal results prove the bucketing
    drops nothing."""
    ev = read_table(spark, sf_dir, "events")
    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.timestamp_add("DAY", (F.col("o_orderkey") % 25).cast("int"),
                        F.lit("2024-01-01").cast("timestamp"))
        .alias("win_start"))
    width = 86400 * 3
    b0 = F.expr(f"unix_timestamp(win_start) div {width}")
    b1 = F.expr(f"(unix_timestamp(win_start) + {width} - 1) div {width}")
    odx = od.withColumn("_b", F.explode(F.array_distinct(F.array(b0, b1))))
    evx = ev.withColumn("_b", F.expr(f"unix_timestamp(ts) div {width}"))
    joined = odx.join(
        evx,
        (evx["user_id"] == odx["o_custkey"] % 150)
        & (evx["_b"] == odx["_b"])
        & (evx["ts"] >= odx["win_start"])
        & (evx["ts"] < F.timestamp_add("DAY", F.lit(3), odx["win_start"])),
        "inner",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("event_id").alias("n_events"),
            money_sum(F.col("value")).alias("sum_value"),
        )
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                          o_orderkey)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank /
    cume_dist) per priority class. The order key includes the unique
    o_orderkey tie-break so every rank-derived value is deterministic
    across engines and partitionings."""
    od = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        iscaled(F.col("o_totalprice"), 100), F.col("o_orderkey"))
    return od.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure,
           CAST(ROUND(val * 100) AS BIGINT) / 100.0 AS val_cents
    FROM (
      SELECT l_orderkey, l_linenumber,
             l_extendedprice AS price, l_discount AS discount,
             l_tax AS tax
      FROM lineitem WHERE l_orderkey % 100 = 0)
    UNPIVOT (val FOR measure IN (price, discount, tax))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long), the inverse of q_pivot: one row per
    (line, measure). Compiles to a single Expand node — no shuffle,
    no join; the classic melt for metric-per-row storage."""
    li = read_table(spark, sf_dir, "lineitem") \
        .filter(F.col("l_orderkey") % 100 == 0)
    out = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=[F.col("l_extendedprice").alias("price"),
                F.col("l_discount").alias("discount"),
                F.col("l_tax").alias("tax")],
        variableColumnName="measure",
        valueColumnName="val")
    return out.select(
        "l_orderkey", "l_linenumber", "measure",
        (iscaled(F.col("val"), 100) / F.lit(100.0)).alias("val_cents"))


@query(
    "q_subquery_correlated",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders o
    WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > (
      SELECT AVG(CAST(ROUND(o2.o_totalprice * 100) AS BIGINT))
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders above their customer's average),
    decorrelated by hand into a single windowed pass — one shuffle on
    the correlation key instead of the naive per-row re-scan, which is
    the same rewrite Catalyst's ``RewriteCorrelatedScalarSubquery``
    performs on the SQL form. Averaging in integer-cent space keeps the
    comparison exact across engines (per-group partial sums stay below
    2^53, so the double mean is order-independent)."""
    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        iscaled(F.col("o_totalprice"), 100).alias("price_cents"))
    w = Window.partitionBy("o_custkey")
    return (
        od.withColumn("_cust_avg", F.avg("price_cents").over(w))
        .filter(F.col("price_cents") > F.col("_cust_avg"))
        .drop("_cust_avg")
    )


@query(
    "q_merge_upsert",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
      SELECT e.*, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e) t
    WHERE rn = 1
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / upsert compaction: a base snapshot unioned with an update
    batch, resolved to latest-record-wins per key (ts desc, unique
    event_id tie-break). This is the CDC pattern for table formats
    without transactional MERGE: union + one windowed dedup pass, a
    single shuffle on the merge key — no driver-side diffing. The
    base/update split here is synthetic (even/odd event ids); their
    union is the full change log, which the oracle compacts directly."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value")
    base = ev.filter(F.col("event_id") % 2 == 0)
    updates = ev.filter(F.col("event_id") % 2 == 1)
    merged = base.unionByName(updates)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(LEAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 20
                      // 10000000, 19) AS INT) AS bucket,
           COUNT(*) AS n,
           MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS min_cents,
           MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS max_cents
    FROM lineitem
    GROUP BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram (20 equi-width buckets over [0, 100k),
    top-clamped) — the data-profiling primitive. Bucketing is pure
    integer arithmetic (``cents * 20 div 10^7``) so bin membership is
    bit-identical across engines, unlike ``width_bucket`` whose
    float boundary math can flip edge values. One two-phase hash
    aggregate over ≤21 groups; map-side partials make the shuffle a
    few hundred bytes regardless of input size."""
    li = read_table(spark, sf_dir, "lineitem").select(
        iscaled(F.col("l_extendedprice"), 100).alias("_cents"))
    return (
        li.select(
            F.least(F.expr("_cents * 20 div 10000000"), F.lit(19))
            .cast("int").alias("bucket"),
            F.col("_cents"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("_cents").alias("min_cents"),
             F.max("_cents").alias("max_cents"))
    )


@query(
    "q_join_skew_salted",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join via deterministic salting
    (``gasket_spark.operators.skew.salted_join``): the fact side gets a
    16-way salt from ``xxhash64`` of a row-identity column, the dim
    side is replicated per salt, so a hot part key fans out over 16
    tasks instead of one. The oracle is the *plain* join — salting is
    a physical rewrite with identical bag semantics, and this query
    keeps that equivalence under the hash gate every round. Use when a
    key's row count exceeds what AQE skew-split can rebalance."""
    from gasket_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    pt = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    joined = salted_join(li, pt, on=["l_partkey"],
                         row_identity="l_orderkey", n_salts=16)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        money_sum(F.col("l_quantity")).alias("total_qty"))


@query(
    "q_resample_ffill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM events),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id,
             unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM users u CROSS JOIN bounds b),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS val_cents
      FROM events GROUP BY 1, 2)
    SELECT g.user_id, g.hour, h.val_cents,
           last_value(h.val_cents IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_cents
    FROM grid g LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour = h.hour
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a regular hourly grid + forward fill —
    the hypertable/rollup shape: per-user hourly sums, a dense
    user × hour grid (sequence-explode of the observed range; at
    scale you'd bound the range per query, the plan is the same), and
    gap-fill via ``last(ignorenulls)`` over an ordered per-user
    window. Everything stays in-plan — the grid bounds come from a
    1-row aggregate cross-joined in, not a driver collect. Hours with
    no events keep ``val_cents`` NULL and carry the previous value in
    ``filled_cents``; leading gaps stay NULL on both sides."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(iscaled(F.col("value"), 100)).alias("val_cents"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"))
    grid = (
        ev.select("user_id").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence(
            F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR")))
            .alias("hour"))
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    w = Window.partitionBy("user_id").orderBy("hour") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return joined.select(
        "user_id", "hour", "val_cents",
        F.last("val_cents", ignorenulls=True).over(w)
        .alias("filled_cents"))


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
             AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — arbitrary aggregation levels in one
    pass (rollup/cube are special cases; q_agg_rollup_cube covers
    those). One Expand node replicates each row once per set, then a
    single two-phase hash aggregate; the ``gid`` built from
    ``grouping()`` flags disambiguates a real NULL key from a
    rolled-up level."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag").cast("int") * 2
             + F.grouping("l_linestatus").cast("int")).alias("gid"),
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("l_extendedprice")).alias("revenue"))
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trailing_hour_cents
    FROM events
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based, not row-based): per user, the
    trailing-one-hour sum of event values ordered by epoch seconds —
    the sliding-aggregate shape where frame membership depends on the
    *time distance*, not a row count (rowsBetween twin:
    q_window_analytic). Peers with equal timestamps aggregate
    identically by RANGE semantics in both engines; epoch is floored
    to whole seconds on both sides so frame boundaries agree."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id") \
        .orderBy(F.unix_timestamp("ts")) \
        .rangeBetween(-3600, Window.currentRow)
    return ev.select(
        "event_id", "user_id",
        F.sum(iscaled(F.col("value"), 100)).over(w)
        .alias("trailing_hour_cents"))


@query(
    "q_agg_mode",
    oracle="""
    SELECT user_id, event_type AS mode_type, n FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             row_number() OVER (PARTITION BY user_id
               ORDER BY COUNT(*) DESC, event_type ASC) AS rk
      FROM events GROUP BY user_id, event_type) t
    WHERE rk = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent event type per
    user): count + windowed argmax with a lexicographic tie-break —
    native ``mode()`` picks an ARBITRARY value on ties in both Spark
    and DuckDB, which would flap under the hash gate and under
    partition changes at scale. Two-phase count agg, then a window
    over the (small) per-user distinct-type counts."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@query(
    "q_agg_qsketch",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           TRUE AS ok50, TRUE AS ok90, TRUE AS ok99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (bottom-k coherent sample, k=1024):
    per-flag p50/p90/p99 of extendedprice cents. The per-batch→rollup
    merge law is EXACT (tests/test_sketch.py) — the cross-batch
    percentile shape ``percentile``/``approx_percentile`` can't
    provide, since their per-run state isn't storable.

    Hash-verified via in-plan rank checks: each sketch quantile's
    empirical CDF position must sit within ±0.08 of its target
    probability (DKW bound: a 1024-row uniform sample exceeds ε=0.08
    with probability ≈ 4e-6); the oracle pins every group TRUE."""
    from gasket_spark.operators.sketch import qsketch, qsketch_quantiles

    li = read_table(spark, sf_dir, "lineitem") \
        .withColumn("cents", iscaled(F.col("l_extendedprice"), 100)) \
        .withColumn("rid", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    q = qsketch_quantiles(
        qsketch(li, ["l_returnflag"], "cents", "rid", 1024),
        [0.5, 0.9, 0.99])
    ranks = (
        li.select("l_returnflag", F.col("cents").alias("v"))
        .join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(*[a for p in (50, 90, 99) for a in (
            F.count_if(F.col("v") < F.col(f"q{p}")).alias(f"lt{p}"),
            F.count_if(F.col("v") <= F.col(f"q{p}")).alias(f"le{p}"))])
    )

    def ok(p: int):
        lo = (F.lit(p / 100 - 0.08)) * F.col("n_rows")
        hi = (F.lit(p / 100 + 0.08)) * F.col("n_rows")
        return ((F.col(f"lt{p}") <= hi) & (F.col(f"le{p}") >= lo)) \
            .alias(f"ok{p}")

    return (q.join(ranks, "l_returnflag")
            .select("l_returnflag", "n_rows", ok(50), ok(90), ok(99)))


@query(
    "q_agg_kmv",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_exact,
           CAST(LEAST(1024, COUNT(DISTINCT l_partkey)) AS BIGINT)
             AS n_seen,
           TRUE AS kmv_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV distinct sketch (k=1024): per-flag distinct part
    estimate. Unlike HLL the sketch itself is an inspectable
    array<long> whose union-merge law is exact (tested in
    tests/test_sketch.py) — the cross-batch rollup shape.

    Hash-verified: ``kmv_ok`` asserts the (k−1)/u_k estimate lands
    within ±15% of the exact distinct count computed alongside
    (k=1024 → rse ≈ 3.1%, so this is ~5σ); ``n_seen`` — min(k,
    distinct) — is itself exactly predictable and oracle-checked
    (64-bit hash collisions are the only way it could differ)."""
    from gasket_spark.operators.sketch import kmv_estimate, kmv_sketch

    li = read_table(spark, sf_dir, "lineitem")
    est = kmv_estimate(kmv_sketch(li, ["l_returnflag"], "l_partkey", 1024),
                       1024)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_exact"))
    rel_err = F.abs(F.col("distinct_est") - F.col("n_exact")) \
        / F.col("n_exact").cast("double")
    return (est.join(exact, "l_returnflag")
            .select("l_returnflag", "n_exact", "n_seen",
                    (rel_err <= 0.15).alias("kmv_ok")))


@query(
    "q_agg_kll",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
             AS p50_exact,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.9)
             AS p90_exact,
           TRUE AS kll_ok50, TRUE AS kll_ok90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch (k=200) per return flag — the formally
    bounded mergeable quantile sketch (operators/sketch.py; KLL 2016):
    per-partition compactor stacks, one shuffle of sketch STATE (k
    doubles per group, never rows), per-group merge.

    Verified the q_agg_kmv way: sketch estimates depend on partition
    layout, so the output carries exact quantiles (oracle-matched
    quantile_cont twins) plus two-sided RANK-bound booleans — the
    estimated quantile's true rank must sit within ±5% of p·n (k=200
    empirically lands ~0.3%, so the margin is ~15σ; the two-sided
    lt/le form stays sound under duplicated values)."""
    from gasket_spark.operators.sketch import kll_quantiles, kll_sketch

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"))
    est = kll_quantiles(kll_sketch(li, ["l_returnflag"], "x", k=200),
                        [0.5, 0.9])
    joined = li.join(F.broadcast(est), "l_returnflag")
    # array-percentile (r14, guide §2.3/§5): one value buffer serves
    # both exact twins — two separate percentile() aggregates each
    # buffered the full column per group (measured 2.8 s -> 1.2 s for
    # the pair at sf0.1, values bit-identical: same buffer, same
    # getPercentile per element).
    agg = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("x", F.array(F.lit(0.5), F.lit(0.9)))
        .alias("_p_exact"),
        F.sum((F.col("x") < F.col("q50")).cast("long")).alias("_lt50"),
        F.sum((F.col("x") <= F.col("q50")).cast("long")).alias("_le50"),
        F.sum((F.col("x") < F.col("q90")).cast("long")).alias("_lt90"),
        F.sum((F.col("x") <= F.col("q90")).cast("long")).alias("_le90"))
    agg = agg.withColumns({"p50_exact": F.element_at("_p_exact", 1),
                           "p90_exact": F.element_at("_p_exact", 2)})
    eps = 0.05

    def ok(lt: str, le: str, p: float):
        return ((F.col(lt) <= (p + eps) * F.col("n"))
                & (F.col(le) >= (p - eps) * F.col("n")))

    return agg.select(
        "l_returnflag", "n", "p50_exact", "p90_exact",
        ok("_lt50", "_le50", 0.5).alias("kll_ok50"),
        ok("_lt90", "_le90", 0.9).alias("kll_ok90"))


@query(
    "q_agg_tdigest",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
             AS p50_exact,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.99)
             AS p99_exact,
           TRUE AS td_ok50, TRUE AS td_ok99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantile sketch (δ=100) per return flag (operators/
    sketch.py; Dunning & Ertl 2019) — KLL's sibling with RELATIVE
    rank-error bounds: the k1 scale function keeps tail centroids
    near-singleton, so extreme quantiles (the p99 here) stay sharp at
    any n. Distributed shape identical to q_agg_kll: per-partition
    merging-digest build, one shuffle of centroid STATE (≤ ~2δ pairs
    per group), per-group merge.

    Verified the q_agg_kll way: estimates are partition-layout
    dependent, so the output carries exact quantiles (oracle-matched
    quantile_cont twins) plus two-sided RANK-bound booleans — ±2.5%
    of n around the target rank (δ=100 empirically lands ~0.1% at the
    median and far tighter at p99)."""
    from gasket_spark.operators.sketch import (
        tdigest_quantiles, tdigest_sketch)

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"))
    est = tdigest_quantiles(
        tdigest_sketch(li, ["l_returnflag"], "x", delta=100.0),
        [0.5, 0.99])
    joined = li.join(F.broadcast(est), "l_returnflag")
    # array-percentile: one value buffer for both exact twins (the
    # q_agg_kll rationale — values bit-identical, same buffer).
    agg = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("x", F.array(F.lit(0.5), F.lit(0.99)))
        .alias("_p_exact"),
        F.sum((F.col("x") < F.col("q5")).cast("long")).alias("_lt50"),
        F.sum((F.col("x") <= F.col("q5")).cast("long")).alias("_le50"),
        F.sum((F.col("x") < F.col("q99")).cast("long")).alias("_lt99"),
        F.sum((F.col("x") <= F.col("q99")).cast("long")).alias("_le99"))
    agg = agg.withColumns({"p50_exact": F.element_at("_p_exact", 1),
                           "p99_exact": F.element_at("_p_exact", 2)})
    eps = 0.025

    def ok(lt: str, le: str, p: float):
        return ((F.col(lt) <= (p + eps) * F.col("n"))
                & (F.col(le) >= (p - eps) * F.col("n")))

    return agg.select(
        "l_returnflag", "n", "p50_exact", "p99_exact",
        ok("_lt50", "_le50", 0.5).alias("td_ok50"),
        ok("_lt99", "_le99", 0.99).alias("td_ok99"))


# ---------------------------------------------------------------------------
# statistical / analytic pack
# ---------------------------------------------------------------------------

@query(
    "q_agg_stats",
    oracle="""
    WITH v AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity) AS HUGEINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS HUGEINT) AS y
      FROM lineitem),
    s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM v GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE)
             / CAST(n AS DOUBLE) AS avg_qty,
           CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE) AS var_qty,
           SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE)) AS std_qty,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / (SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                * SQRT(CAST(CAST(n * syy - sy * sy AS VARCHAR)
                            AS DOUBLE)))
             AS corr_qty_price
    FROM s
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate pack: per-group mean / sample variance /
    stddev / Pearson correlation. Native ``stddev``/``corr`` stream
    doubles whose value depends on partition association order; here
    every moment (Σx, Σx², Σxy) is an EXACT integer (decimal(38)
    Spark-side, HUGEINT oracle-side), and the closed-form estimators
    are single deterministic IEEE-754 expressions over those exact
    moments — bit-identical across engines AND partition layouts.
    The oracle's HUGEINT→DOUBLE casts route through VARCHAR (the r8
    q_agg_moments rule): DuckDB's direct int128→double conversion is
    not guaranteed correctly-rounded, while decimal-string→double is
    — matching Spark's Decimal.toDouble — so the compare stays exact
    past 2^64 (Σcents² crosses it between sf0.1 and sf1).
    One two-phase hash aggregate, map-side partials, no second pass
    (vs the naive mean-then-residuals plan)."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    x = F.round(F.col("l_quantity")).cast(dec)
    y = F.round(F.col("l_extendedprice") * 100).cast(dec)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"))
    n = F.col("n").cast(dec)
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nn1 = (n * (n - 1)).cast("double")
    return s.select(
        "l_returnflag", "n",
        (F.col("sx").cast("double") / F.col("n").cast("double"))
        .alias("avg_qty"),
        (dx / nn1).alias("var_qty"),
        F.sqrt(dx / nn1).alias("std_qty"),
        ((n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
         / (F.sqrt(dx) * F.sqrt(dy))).alias("corr_qty_price"),
    )


@query(
    "q_anomaly_zscore",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type, value,
             CAST(ROUND(value * 1000) AS BIGINT) AS v3
      FROM events),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(v3) AS sv,
             SUM(v3 * v3) AS svv
      FROM v GROUP BY event_type),
    st AS (
      SELECT event_type,
             CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
             SQRT(CAST(n * svv - sv * sv AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE)) AS sd3
      FROM s)
    SELECT event_id, event_type, value
    FROM v JOIN st USING (event_type)
    WHERE ABS(CAST(v3 AS DOUBLE) - m3) > 3 * sd3
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: events whose value sits more than
    3 sigma from its type's mean. Two narrow passes — a tiny
    per-type moments aggregate (exact integer sums, one row per
    type → broadcast), then a map-side filter join back: the 100 TB
    scan is filtered without a shuffle. Moments use the same
    exact-integer pattern as q_agg_stats so the sigma threshold —
    and therefore outlier MEMBERSHIP — is partition- and
    engine-independent."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id", "event_type", "value",
        F.round(F.col("value") * 1000).cast("bigint").alias("v3"))
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v3").alias("sv"),
        F.sum(F.col("v3") * F.col("v3")).alias("svv"))
    st = s.select(
        "event_type",
        (F.col("sv").cast("double") / F.col("n").cast("double")).alias("m3"),
        F.sqrt((F.col("n") * F.col("svv") - F.col("sv") * F.col("sv"))
               .cast("double")
               / (F.col("n") * (F.col("n") - 1)).cast("double")).alias("sd3"))
    return (
        v.join(F.broadcast(st), "event_type")
        .filter(F.abs(F.col("v3").cast("double") - F.col("m3"))
                > 3 * F.col("sd3"))
        .select("event_id", "event_type", "value")
    )


@query(
    "q_join_fuzzy",
    oracle="""
    WITH dirty(dirty_name) AS (VALUES
      ('NATION_1X'), ('NTION_7'), ('NATIONN_13'), ('XATION_21'),
      ('NATION99')),
    cand AS (
      SELECT dirty_name, n_name,
             levenshtein(dirty_name, n_name) AS dist
      FROM dirty, nation
      WHERE levenshtein(dirty_name, n_name) <= 2)
    SELECT dirty_name, n_name AS matched, dist
    FROM (SELECT cand.*, row_number() OVER (PARTITION BY dirty_name
            ORDER BY dist, n_name) AS rk FROM cand) t
    WHERE rk = 1
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dimension matching: resolve misspelled lookup keys to
    their nearest dimension row by edit distance (threshold 2), with
    a deterministic (distance, name) tie-break — the entity-
    resolution shape for joining dirty external data to a curated
    dimension. The dirty side is broadcast, so the plan is a
    broadcast nested-loop join evaluating ``levenshtein`` JVM-side —
    no shuffle of the dimension; at scale the SMALL side is always
    the broadcast one and the big table streams."""
    dirty = spark.createDataFrame(
        [("NATION_1X",), ("NTION_7",), ("NATIONN_13",), ("XATION_21",),
         ("NATION99",)], "dirty_name string")
    nation = read_table(spark, sf_dir, "nation")
    dist = F.levenshtein(F.col("dirty_name"), F.col("n_name"))
    cand = nation.join(F.broadcast(dirty), dist <= 2) \
        .select("dirty_name", "n_name", dist.alias("dist"))
    w = Window.partitionBy("dirty_name").orderBy("dist", "n_name")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("dirty_name", F.col("n_name").alias("matched"), "dist")
    )


@query(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id)
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL SELECT '2_click', COUNT(*) FROM c
    UNION ALL SELECT '3_purchase', COUNT(*) FROM p
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who viewed, then clicked AFTER
    their first view, then purchased AFTER that click — the classic
    product-analytics sequence-match. Each stage is a shrinking
    per-user aggregate joined to the next event scan on user_id; the
    survivor sets shrink monotonically, so at scale stages 2+ are
    broadcast joins against an ever-smaller key set while the event
    log streams map-side."""
    ev = read_table(spark, sf_dir, "events") \
        .select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view") \
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = ev.filter(F.col("event_type") == "click") \
        .join(v, "user_id").filter(F.col("ts") > F.col("t1")) \
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    p = ev.filter(F.col("event_type") == "purchase") \
        .join(c, "user_id").filter(F.col("ts") > F.col("t2")) \
        .groupBy("user_id").agg(F.min("ts").alias("t3"))

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")) \
            .select(F.lit(label).alias("stage"), "n_users")

    return stage(v, "1_view").unionByName(stage(c, "2_click")) \
        .unionByName(stage(p, "3_purchase"))


@query(
    "q_incr_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / 100.0 AS DOUBLE) AS sum_v,
           CAST(CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / 100.0 AS DOUBLE) AS min_v,
           CAST(CAST(MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / 100.0 AS DOUBLE) AS max_v,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_v
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the corpus arrives as three
    disjoint batches (split by order key residue); each batch is
    partial-aggregated ONCE into a mergeable state table, the states
    merge by the distributive laws, and the final read derives
    count/sum/min/max/mean — hash-identical to aggregating the full
    corpus in one pass (the oracle), which is the exact-merge-law
    guarantee that lets a 100 TB corpus maintain statistics at
    batch-sized cost (operators/incremental.py)."""
    from gasket_spark.operators.incremental import (
        finalize, merge_states, partial_agg)

    li = read_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    batches = [li.filter(F.col("l_orderkey") % 3 == i) for i in range(3)]
    states = [partial_agg(b, keys, "l_extendedprice") for b in batches]
    return finalize(merge_states(*states))


def _pagerank_oracle(iters: int = 8) -> str:
    """Unrolled fixed-iteration PageRank as plain chained CTEs.

    The engine's PageRank (operators/graph.py) is FIXED-POINT integer
    arithmetic precisely so the fixpoint is bit-identical under any
    partitioning — which also makes it bit-replicable in SQL: every
    per-iteration step is integer sums, integer floor-divisions, and
    one IEEE double division whose truncation both engines perform
    identically (DuckDB ``trunc`` == Spark ``cast(long)`` on
    positives). Recursive CTEs disallow aggregation in the recursive
    term, so the 8 iterations unroll as generated CTE blocks instead.
    DuckDB's SUM(BIGINT) returns HUGEINT — exact, and every result
    re-enters BIGINT via the explicit trunc+cast."""
    head = """
    WITH p2s AS (
      SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
      FROM lineitem),
    alle AS (
      SELECT src AS u, dst AS w FROM p2s
      UNION ALL SELECT dst, src FROM p2s),
    oute AS MATERIALIZED (SELECT DISTINCT u, w FROM alle),
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM oute GROUP BY u),
    verts AS MATERIALIZED (
      SELECT vv.v, d.deg
      FROM (SELECT u AS v FROM oute UNION SELECT w FROM oute) vv
      LEFT JOIN deg d ON d.u = vv.v),
    nn AS (SELECT COUNT(*) AS n FROM verts),
    r0 AS MATERIALIZED (SELECT v, deg, (SELECT 1000000000000 // n FROM nn) AS r
           FROM verts)"""
    steps = []
    for i in range(iters):
        steps.append(f"""
    s{i} AS MATERIALIZED (
      SELECT SUM(r) AS total,
             COALESCE(SUM(CASE WHEN deg IS NOT NULL THEN r END), 0)
               AS linked
      FROM r{i}),
    b{i} AS MATERIALIZED (
      SELECT (total - total * 85 // 100 + (total - linked) * 85 // 100)
             // (SELECT n FROM nn) AS base
      FROM s{i}),
    c{i} AS MATERIALIZED (
      SELECT o.w, SUM(CAST(trunc(rr.r / rr.deg) AS BIGINT)) AS in_mass
      FROM oute o JOIN r{i} rr ON o.u = rr.v GROUP BY o.w),
    r{i + 1} AS MATERIALIZED (
      SELECT vv.v, vv.deg,
             CAST(trunc((SELECT base FROM b{i})
                        + COALESCE(c.in_mass, 0) * 85 / 100) AS BIGINT)
               AS r
      FROM verts vv LEFT JOIN c{i} c ON c.w = vv.v)""")
    tail = f"""
    SELECT v, CAST(r AS DOUBLE) / 1000000000000 AS rank
    FROM r{iters} ORDER BY rank DESC, v LIMIT 20"""
    return head + "," + ",".join(steps) + tail


@query("q_pagerank", oracle=_pagerank_oracle(8))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the part↔supplier co-purchase graph
    (both directions of every lineitem part-supplier edge), 8 rounds
    (operators/graph.py:pagerank). One distributed dedup of the edges
    feeds one single-task pandas kernel that runs every round in
    memory, so the query is a lazy plan: building it fires no job and
    its action persists nothing. Fixed-point integer arithmetic makes
    the result bit-identical under any partitioning (tested in
    tests/test_graph.py) — and therefore bit-replicable by the
    oracle's unrolled-iteration SQL (_pagerank_oracle), upgrading
    this from rows-only to full hash verification; top-20 by
    (rank desc, vertex) is deterministic."""
    from gasket_spark.operators.graph import pagerank

    li = read_table(spark, sf_dir, "lineitem")
    # NARROW vertex ids inside the loop (r13 optimization round,
    # guide §2.3): the 'p<k>'/'s<k>' vertex strings are an INJECTIVE
    # image of (2·partkey, 2·suppkey+1), so the whole fixpoint runs
    # on 8-byte longs — the edge dedup shuffles and the kernel
    # factorizes long keys instead of 5-9 char strings. The
    # fixed-point integer arithmetic is id-representation-independent
    # (same graph topology, same degree table, same integer sums), so
    # every vertex's rank is bit-identical; the final decode rebuilds the
    # exact 'p'||partkey / 's'||suppkey strings the oracle derives,
    # BEFORE the (rank desc, v) top-20 order so tie-breaks compare
    # the same strings.
    p2s = li.select(
        (F.col("l_partkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"))
    edges = p2s.unionByName(
        p2s.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(edges, max_iter=8)
    decoded = ranks.select(
        F.concat(F.when(F.col("v") % 2 == 0, F.lit("p"))
                 .otherwise(F.lit("s")),
                 F.expr("CAST(v div 2 AS STRING)")).alias("v"),
        "rank")
    return decoded.orderBy(F.desc("rank"), "v").limit(20) \
        .select("v", "rank")


@query(
    "q_join_not_in",
    oracle="""
    WITH probe AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE o_custkey END AS cust
      FROM orders),
    excl AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    SELECT COUNT(*) AS n_kept
    FROM probe
    WHERE cust NOT IN (SELECT c_custkey FROM excl)
    """,
)
def q_join_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with NULLs — the classic three-valued-logic trap: a NULL
    probe key can never satisfy NOT IN (comparison is UNKNOWN), so
    such rows are dropped even though no exclusion row 'matches' them.
    Spark plans this as a null-aware anti join; a plain left_anti
    would WRONGLY keep the null-key rows. Both engines must agree on
    the trap's semantics — parity evidence a nulls-free fixture can't
    give, so the probe side nullifies every 97th key in-plan."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("cust")
    ).createOrReplaceTempView("_probe_not_in")
    cust.filter(F.col("c_acctbal") < 0) \
        .select("c_custkey").createOrReplaceTempView("_excl_not_in")
    # NOT IN subqueries aren't expressible in the DataFrame DSL;
    # spark.sql over temp views IS the DataFrame API's SQL door and
    # plans identically (null-aware anti join).
    return spark.sql("""
        SELECT COUNT(*) AS n_kept FROM _probe_not_in
        WHERE cust NOT IN (SELECT c_custkey FROM _excl_not_in)
    """)


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(s_suppkey, anc, depth) AS (
      SELECT s_suppkey, s_suppkey, 0 FROM supplier
      UNION ALL
      SELECT w.s_suppkey, w.anc // 2, w.depth + 1
      FROM walk w WHERE w.anc > 1)
    SELECT s_suppkey, MAX(depth) AS depth_to_root,
           CAST(SUM(anc) AS BIGINT) AS anc_key_sum
    FROM walk GROUP BY s_suppkey
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE — the iterate-in-plan
    surface): every supplier walks its ancestor chain in the implicit
    binary hierarchy parent(k) = k div 2 down to the root, emitting
    chain depth and the chain-key checksum. The recursion depth is
    O(log max_key) — each step is one self-referential projection the
    engine unions breadth-first, the hierarchy/BOM-walk shape that
    pre-4.x Spark needed a driver-side loop for (cf.
    operators/graph.py, which keeps the explicit loop form for
    fixpoints whose iteration count is data-dependent)."""
    read_table(spark, sf_dir, "supplier").select("s_suppkey") \
        .createOrReplaceTempView("_supp_rcte")
    return spark.sql("""
        WITH RECURSIVE walk(s_suppkey, anc, depth) AS (
          SELECT s_suppkey, s_suppkey, 0 FROM _supp_rcte
          UNION ALL
          SELECT w.s_suppkey, w.anc DIV 2, w.depth + 1
          FROM walk w WHERE w.anc > 1)
        SELECT s_suppkey, MAX(depth) AS depth_to_root,
               SUM(anc) AS anc_key_sum
        FROM walk GROUP BY s_suppkey
    """)


@query(
    "q_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps — the
    bitmap-index technique that replaces count-distinct's Expand with
    two ordinary two-phase aggregates: bucket ids into 64-bit words
    (word = id div 64), OR the bit masks per (group, word) — a
    mergeable, associative state — then popcount-sum the words per
    group. Dense-id domains at 100 TB count exactly in one pass with
    map-side partial ORs; the same state unions across days for free
    (bitmap rollup), which HLL can only approximate."""
    ev = read_table(spark, sf_dir, "events")
    words = (ev.select(
        "event_type",
        F.expr("user_id div 64").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(user_id, 64) as int))")
        .alias("bit"))
        .groupBy("event_type", "word")
        .agg(F.bit_or("bit").alias("mask")))
    return (words.groupBy("event_type")
            .agg(F.sum(F.bit_count("mask")).alias("n_users")))


@query(
    "q_skew_profile",
    oracle="""
    WITH freq AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey),
    stats AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
             MAX(n) AS max_n,
             CAST(ROUND(AVG(n) * 100) AS BIGINT) AS mean_n_e2
      FROM freq)
    SELECT n_keys, n_rows, max_n, mean_n_e2,
           CAST(ROUND(max_n * 10000.0 / n_rows) AS BIGINT)
             AS top1_share_e4
    FROM stats
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight check that decides
    whether a join needs salting (operators/skew.py) BEFORE the
    3-hour stage proves it did: per-key frequencies in one two-phase
    agg, folded to key count, row count, hottest-key count and its
    row share (fixed-point ×1e4, engine-exact). On a 100 TB fact
    table this one cheap pass decides the physical plan for every
    subsequent join on the key."""
    od = read_table(spark, sf_dir, "orders")
    freq = od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.round(F.avg("n") * 100).cast("bigint").alias("mean_n_e2"),
    ).select(
        "n_keys", "n_rows", "max_n", "mean_n_e2",
        F.round(F.col("max_n") * 10000.0 / F.col("n_rows"))
        .cast("bigint").alias("top1_share_e4"))


@query(
    "q_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty
      FROM lineitem),
    cum AS (
      SELECT l_returnflag, price_cents, qty,
             SUM(qty) OVER (PARTITION BY l_returnflag
                            ORDER BY price_cents, qty
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(qty) OVER (PARTITION BY l_returnflag) AS tw
      FROM w)
    SELECT l_returnflag,
           MIN(price_cents) AS weighted_median_cents
    FROM cum WHERE 2 * cw >= tw
    GROUP BY l_returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (here: price weighted by quantity) — the
    robust-statistics aggregate Spark has no builtin for, composed
    from a running-weight window: the weighted median is the first
    value whose cumulative weight reaches half the total. All integer
    space (cents × integral quantities) so the cut point is exact and
    engine-independent; one window sort per group, the same shuffle
    an exact percentile pays — and at 100 TB the same documented swap
    to a mergeable sketch applies (cf. q_agg_percentile_approx)."""
    li = read_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("price_cents"),
        F.round("l_quantity").cast("bigint").alias("qty"))
    win = Window.partitionBy("l_returnflag") \
        .orderBy("price_cents", "qty").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag", "price_cents",
        F.sum("qty").over(win).alias("cw"),
        F.sum("qty").over(tot).alias("tw"))
    return (cum.filter(2 * F.col("cw") >= F.col("tw"))
            .groupBy("l_returnflag")
            .agg(F.min("price_cents").alias("weighted_median_cents")))


@query(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (first-order Markov counts): for every
    user-consecutive event pair, count (current → next) transitions —
    the behavioral-model / anomalous-flow input. One window per user
    (event_id tie-break) + one tiny aggregate; the |types|² output is
    dashboard-sized no matter the corpus."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"))
    return (seq.filter(F.col("next_type").isNotNull())
            .groupBy("event_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n")))


@query(
    "q_variant_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) >= 20
    GROUP BY 1
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over Spark 4's VARIANT type:
    ``parse_json`` shreds the JSON once into the binary variant
    encoding, ``variant_get`` extracts typed fields without
    re-parsing — the open-schema telemetry shape where per-event
    properties never fit a fixed struct. At 100 TB variant beats
    ``get_json_object`` chains because each field access is a typed
    binary probe, not a string re-parse per extraction."""
    ev = read_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (ev.select(k.alias("k"), "value")
            .filter(F.col("k") >= 20)
            .groupBy((F.col("k") % 10).alias("k_mod"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("total_cents")))


@query(
    "q_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
    acts AS (
      SELECT e.user_id,
             date_trunc('week', f.first_ts) AS cohort_week,
             CAST(floor(date_diff('day', date_trunc('week', f.first_ts),
                                  e.ts) / 7) AS INT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_week, week_offset,
           COUNT(DISTINCT user_id) AS n_active
    FROM acts WHERE week_offset <= 8
    GROUP BY cohort_week, week_offset
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by first-seen week, activity counted per (cohort,
    week-offset) cell for the first 8 weeks. Two shuffles total: the
    per-user MIN(ts) aggregate (tiny, broadcast back over the event
    scan) and the distinct-user cell count; week arithmetic is
    integer day-diffs so both engines bucket identically."""
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    acts = (ev.join(F.broadcast(firsts), "user_id")
            .select(
                "user_id",
                F.date_trunc("week", "first_ts").alias("cohort_week"),
                F.floor(F.datediff(
                    F.col("ts"),
                    F.date_trunc("week", "first_ts").cast("date")) / 7)
                .cast("int").alias("week_offset")))
    return (acts.filter(F.col("week_offset") <= 8)
            .groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_active")))


@query(
    "q_attribution_touch",
    oracle="""
    SELECT user_id,
           arg_min(event_id, ts) AS first_event,
           arg_max(event_id, ts) AS last_event,
           arg_min(event_type, ts) AS first_type,
           arg_max(event_type, ts) AS last_type
    FROM events GROUP BY user_id
    """,
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution per user via ``min_by``/``max_by``
    (argmin/argmax aggregates): one hash aggregate, no window sort
    over the full event stream — the shape that replaces the
    'row_number = 1' anti-pattern with a two-phase (partial-final)
    aggregate at a fraction of the shuffle. Determinism rests on
    (user_id, ts) being unique in the fixture (verified at every SF;
    a tie-bearing feed would order by a (ts, event_id) struct —
    which DuckDB's arg_min can't replicate, so the fixture property
    is load-bearing for the oracle)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_id", "ts").alias("first_event"),
        F.max_by("event_id", "ts").alias("last_event"),
        F.min_by("event_type", "ts").alias("first_type"),
        F.max_by("event_type", "ts").alias("last_type"))


@query(
    "q_scd2_history",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'purchase')
    SELECT user_id, value_cents,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change log — the
    warehouse-standard versioned-history shape: each purchase opens a
    version effective [valid_from, valid_to) closed by the user's
    next change; the open version is flagged current. One window per
    user (ties broken by event_id, so the history is deterministic
    under replays and partitioning); at 100 TB this is a single
    shuffle on the dimension key — and merging a NEW day of changes
    into an existing SCD2 table reuses the same window over
    (existing open versions ∪ new changes), never the full history."""
    ev = read_table(spark, sf_dir, "events") \
        .filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"))


@query(
    "q_join_bloom",
    oracle="""
    SELECT o.o_orderkey, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered join, the explicit form of the runtime
    filter AQE injects for selective joins: the small side's keys
    aggregate into a bloom filter (one tiny broadcast), the fact scan
    drops non-members BEFORE the shuffle, and the real join removes
    the false positives — so the result is EXACTLY the plain join
    (which is the oracle) while the shuffle carries only ~selectivity
    × fact bytes. At 100 TB this is the difference between shuffling
    the whole fact table and shuffling the 2% that can match."""
    M_BITS = 65536  # 1024 longs; ~2% FP at ~1.5k keys, 8 KB broadcast

    def _word_bit(df: DataFrame, key: str) -> DataFrame:
        return df.withColumn(
            "_pos", F.expr(f"pmod(xxhash64({key}), {M_BITS})")) \
            .withColumn("w", F.expr("_pos div 64")) \
            .withColumn("b", F.expr(
                "shiftleft(1L, cast(pmod(_pos, 64) as int))")) \
            .drop("_pos")

    cust = read_table(spark, sf_dir, "customer") \
        .filter(F.col("c_acctbal") > 9000) \
        .select("c_custkey", "c_name")
    orders = read_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey")
    bloom = (_word_bit(cust.select("c_custkey"), "c_custkey")
             .groupBy("w").agg(F.bit_or("b").alias("mask")))
    pre = (_word_bit(orders, "o_custkey")
           .join(F.broadcast(bloom), "w", "inner")
           .filter(F.col("mask").bitwiseAND(F.col("b")) != 0)
           .select("o_orderkey", "o_custkey"))
    return pre.join(F.broadcast(cust),
                    pre.o_custkey == cust.c_custkey) \
        .select("o_orderkey", "c_name")


@query(
    "q_group_ols",
    oracle="""
    WITH v AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity) AS HUGEINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS HUGEINT) AS y
      FROM lineitem),
    s AS (
      SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM v GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
           (CAST(sy AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents
    FROM s
    """,
)
def q_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting without a UDF: closed-form simple
    linear regression (price-cents on quantity) from the same exact
    integer moments as q_agg_stats — slope and intercept are single
    deterministic IEEE expressions over exact sums, so thousands of
    per-group models fit in ONE two-phase aggregate pass (the
    grouped-sklearn shape, minus the Python workers)."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    x = F.round(F.col("l_quantity")).cast(dec)
    y = F.round(F.col("l_extendedprice") * 100).cast(dec)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"))
    n = F.col("n").cast(dec)
    slope = ((n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
             / (n * F.col("sxx") - F.col("sx") * F.col("sx"))
             .cast("double"))
    intercept = ((F.col("sy").cast("double")
                  - slope * F.col("sx").cast("double"))
                 / F.col("n").cast("double"))
    return s.select("l_returnflag", "n", slope.alias("slope_cents"),
                    intercept.alias("intercept_cents"))


@query(
    "q_profile",
    oracle="""
    SELECT 'o_custkey' AS col, COUNT(*) AS n,
           COUNT(o_custkey) AS n_nonnull,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_v,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(ROUND(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
           CAST(CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
    FROM orders
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pack: per-column row/non-null/distinct counts +
    extrema (stringified; doubles via integer cents so the text is
    engine-stable) — the schema-audit pass every new 100 TB corpus
    gets first. One scan per profiled column family here for oracle
    clarity; the production variant fuses all columns into one pass
    of struct-typed aggregates."""
    orders = read_table(spark, sf_dir, "orders")

    def prof(col: str, minmax):
        return orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            minmax(F.min(col)).alias("min_v"),
            minmax(F.max(col)).alias("max_v"),
        ).select(F.lit(col).alias("col"), "n", "n_nonnull",
                 "n_distinct", "min_v", "max_v")

    as_str = lambda c: c.cast("string")  # noqa: E731
    cents_str = lambda c: F.round(c * 100).cast("bigint").cast("string")  # noqa: E731
    return (
        prof("o_custkey", as_str)
        .unionByName(prof("o_orderstatus", as_str))
        .unionByName(prof("o_totalprice", cents_str))
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    WHERE r.r_regionkey <> n.n_regionkey
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (dim × dim, with a non-equi residual
    so no equi-join rewrite applies). Spark requires the crossJoin
    call — an implicit cartesian is an analysis error, which is the
    right default at scale (an accidental 100 TB × anything cross
    join is an outage). One side broadcasts: BroadcastNestedLoopJoin,
    the only sane cartesian shape."""
    r = read_table(spark, sf_dir, "region")
    n = read_table(spark, sf_dir, "nation")
    return (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("r_regionkey") != F.col("n_regionkey"))
        .select("r_name", "n_name")
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS names,
           COUNT(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregation with DETERMINISM discipline:
    ``collect_list`` order is partition-dependent (nondeterministic at
    scale), so the engine always sorts the collected array before any
    use that observes order — here flattened to a string so the
    cross-engine hash checks element order exactly."""
    n = read_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",")
        .alias("names"),
        F.count(F.lit(1)).alias("n"))


@query(
    "q_scalar_null_pack",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_norm,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_totalprice END IS NULL AS masked,
           ifnull(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                       ELSE o_totalprice END, -1.0) AS price_filled,
           greatest(coalesce(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                                  ELSE o_totalprice END, 0.0), 1.0)
             AS price_floor
    FROM orders
    """,
)
def q_scalar_null_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics scalar pack: nullif/coalesce/ifnull/IS NULL/
    greatest-with-null (greatest ignores nulls in both engines) over
    an in-plan nullified column — three-valued logic parity on a
    nulls-free fixture. All JVM expressions, one codegen span, zero
    shuffles."""
    od = read_table(spark, sf_dir, "orders")
    masked_price = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)) \
        .otherwise(F.col("o_totalprice"))
    return od.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")),
                   F.lit("OPEN")).alias("status_norm"),
        masked_price.isNull().alias("masked"),
        F.ifnull(masked_price, F.lit(-1.0)).alias("price_filled"),
        F.greatest(F.coalesce(masked_price, F.lit(0.0)), F.lit(1.0))
        .alias("price_floor"))


@query(
    "q_scan_pysource",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 999)) AS i),
    rows_ AS (
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + to_seconds(i * 7) AS ts,
             (i * 2654435761) % 150 AS user_id,
             ['view','click','purchase','signup','error'][i % 5 + 1]
               AS event_type,
             CAST((i * 1103515245 + 12345) % 1000000 AS DOUBLE) / 10000.0
               AS value
      FROM g)
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
             AS value_e4,
           epoch_us(MIN(ts)) AS first_us, epoch_us(MAX(ts)) AS last_us
    FROM rows_ GROUP BY event_type
    """,
)
def q_scan_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan over the engine's Python DataSource connector
    (gasket_spark/sources/synthetic.py — the PySpark-4 extension
    point for feeds with no JVM connector): the source's rows are a
    pure function of the row index, so the ORACLE REGENERATES the
    same feed with generate_series and the whole connector path
    (driver partition planning → executor Python readers → Arrow
    batches → aggregation) is hash-verified, not just smoke-tested."""
    from gasket_spark.sources.synthetic import SyntheticEventsDataSource

    # The reader implements pushFilters(); PySpark 4 refuses to plan it
    # unless this conf is on. The engine's own session sets it, but a
    # caller-provided session (the verification harness) may not — it is
    # runtime-settable, so pin it here where the capability is used.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)
    src = spark.read.format("gasket_synthetic") \
        .option("rows", 1000).option("partitions", 8).load()
    # timestamp extrema leave as UTC epoch-micros (bigint): the
    # source emits instants, and an instant column rendered under a
    # caller session's local timezone would wall-clock-shift against
    # the oracle — integers are timezone-invariant by construction.
    return src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint"))
        .alias("value_e4"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"))


@query(
    "q_join_asof_nearest",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey AS nearest_orderkey
    FROM events e
    LEFT JOIN orders o ON o.o_custkey = e.user_id
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) ASC
               NULLS LAST,
               (o.o_orderdate <= e.ts) DESC,
               CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey
                    ELSE o.o_orderkey END ASC NULLS LAST
    ) = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (direction='nearest' in pandas merge_asof
    terms): each event takes whichever of its latest-before /
    earliest-after order is closer in time, ties preferring the
    backward match. Composed from the SAME union-and-window merge as
    the two directional as-ofs — both candidates come out of ONE
    union and one shuffle (two window passes over the same
    partitioning, no second exchange), then a pure row-local
    microsecond-distance pick. Still no row explosion: the naive form
    joins every order per user before pruning."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_id"),
        F.lit(None).cast("bigint").alias("ord_key"),
        F.lit(1).alias("side"))
    od = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey").alias("ord_key"),
        F.lit(0).alias("side"))
    ord_struct = F.when(F.col("side") == 0,
                        F.struct(F.col("t").alias("ot"),
                                 F.col("ord_key").alias("ok")))
    base = Window.partitionBy("k").orderBy(
        F.col("t").asc(), F.col("side").asc(),
        F.col("ord_key").asc_nulls_last())
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    merged = (
        ev.unionByName(od)
        .withColumn("_o", ord_struct)
        # backward: at-or-before inclusive (orders sort before events
        # at equal t). forward: strictly-after (the same ordering puts
        # an equal-t order OUTSIDE the following frame) — lossless,
        # since an exact-t order is already the dt=0 backward winner.
        .withColumn("_prev", F.last("_o", ignorenulls=True).over(wb))
        .withColumn("_next", F.first("_o", ignorenulls=True).over(wf))
        .filter(F.col("side") == 1)
    )
    # unix_micros rejects TIMESTAMP_NTZ (what Spark 4 infers from the
    # events parquet); with the session pinned UTC the cast is a pure
    # type lift, identical wall-clock either way.
    def _us(c: str):
        return F.unix_micros(F.col(c).cast("timestamp"))

    dtp = _us("t") - _us("_prev.ot")
    dtn = _us("_next.ot") - _us("t")
    nearest = (
        F.when(F.col("_prev").isNull(), F.col("_next.ok"))
        .when(F.col("_next").isNull(), F.col("_prev.ok"))
        .when(dtp <= dtn, F.col("_prev.ok"))
        .otherwise(F.col("_next.ok")))
    return merged.select(
        "event_id", F.col("k").alias("user_id"),
        nearest.alias("nearest_orderkey"))


@query(
    "q_agg_bool",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount <= 0.1) AS all_low_disc,
           bool_or(l_quantity >= 50) AS any_bulk,
           CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree,
           CAST(COUNT(*) FILTER (WHERE l_shipdate
             >= TIMESTAMP '1998-01-01') AS BIGINT) AS n_recent
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/filtered aggregate pack: every/any predicates,
    count_if, and FILTER-clause counting — one two-phase hash
    aggregate; predicates evaluate in the scan's codegen span, so the
    pass is as cheap as a plain count."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.every(F.col("l_discount") <= 0.1).alias("all_low_disc"),
        F.some(F.col("l_quantity") >= 50).alias("any_bulk"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
        F.count(F.when(F.col("l_shipdate")
                       >= F.lit("1998-01-01").cast("timestamp"), 1))
        .cast("bigint").alias("n_recent"))


@query(
    "q_join_asof_tolerance",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
     AND o.o_orderdate > e.ts - INTERVAL '7 days'
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
    ) = 1
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas merge_asof
    `tolerance=`): the latest order at-or-before each event, but only
    if it is within 7 days — staler matches become null instead of
    silently joining months-old state (the freshness contract real
    feature-store lookups need). Same single-shuffle merge as
    q_join_asof; the tolerance is one row-local comparison AFTER the
    window carries the (date, key) pair forward."""
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("t"),
        F.col("event_id"),
        F.lit(None).cast("bigint").alias("ord_key"),
        F.lit(1).alias("side"))
    od = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_orderkey").alias("ord_key"),
        F.lit(0).alias("side"))
    ord_struct = F.when(F.col("side") == 0,
                        F.struct(F.col("t").alias("ot"),
                                 F.col("ord_key").alias("ok")))
    w = (Window.partitionBy("k")
         .orderBy(F.col("t").asc(), F.col("side").asc(),
                  F.col("ord_key").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (
        ev.unionByName(od)
        .withColumn("_prev", F.last(ord_struct, ignorenulls=True).over(w))
        .filter(F.col("side") == 1))
    fresh = (F.col("_prev").isNotNull()
             & (F.col("_prev.ot")
                > F.col("t") - F.expr("INTERVAL 7 DAYS")))
    return merged.select(
        "event_id", F.col("k").alias("user_id"),
        F.when(fresh, F.col("_prev.ok")).alias("asof_orderkey"))


# ---------------------------------------------------------------------------
# sessionization / interval analytics (round 6)
# ---------------------------------------------------------------------------

@query(
    "q_gaps_islands",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id)
                       <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS brk
      FROM events),
    i AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
      FROM o)
    SELECT user_id, CAST(island AS INT) AS island_id,
           MIN(ts) AS island_start, MAX(ts) AS island_end,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM i GROUP BY user_id, island
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization, the batch classic: per user,
    events separated by ≤ 30 minutes coalesce into one island; a
    larger gap starts a new one. Two windows over the SAME (user_id)
    partitioning — lag to flag breaks, running sum to number islands —
    then a groupBy that reuses that partitioning, so the whole query
    is ONE shuffle on user_id (Catalyst collapses the two WindowExecs
    and the partial agg rides the existing exchange). Microsecond-
    exact gap arithmetic (timestamp difference vs an interval literal
    — NTZ-safe, no seconds cast) and an event_id tie-break keep
    island numbering deterministic under equal timestamps at any
    partition count."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    brk = F.when(gap <= F.expr("INTERVAL 30 MINUTES"), 0).otherwise(1)
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ev.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(F.min("ts").alias("island_start"),
             F.max("ts").alias("island_end"),
             F.count(F.lit(1)).alias("n_events"),
             F.count_distinct("event_type").alias("n_types"))
        .select("user_id", F.col("island").cast("int").alias("island_id"),
                "island_start", "island_end", "n_events", "n_types"))


@query(
    "q_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS iv_start,
             ts + to_seconds(CAST(round(value * 60) AS BIGINT)) AS iv_end
      FROM events),
    o AS (
      SELECT *, MAX(iv_end) OVER (PARTITION BY user_id
               ORDER BY iv_start, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_end
      FROM iv),
    f AS (
      SELECT *, CASE WHEN iv_start <= prev_end THEN 0 ELSE 1 END AS brk
      FROM o),
    i AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id
               ORDER BY iv_start, event_id ROWS UNBOUNDED PRECEDING)
             AS island
      FROM f)
    SELECT user_id, CAST(island AS INT) AS merged_id,
           MIN(iv_start) AS merged_start, MAX(iv_end) AS merged_end,
           COUNT(*) AS n_intervals
    FROM i GROUP BY user_id, island
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge (union of closed intervals) — the
    other half of the gaps-and-islands family: each event spans
    [ts, ts + value minutes]; per user, transitively-overlapping
    spans collapse to one merged interval. The sweep is a running
    MAX(end) over rows strictly BEFORE the current one — an interval
    starts a new merged group iff it begins after every earlier
    interval has ended — then the same running-sum island numbering.
    One shuffle on user_id total, same plan family as q_gaps_islands.
    Durations go through round() before the integer cast on BOTH
    engines (the repo's cross-engine cast rule)."""
    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id", "event_id",
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.make_dt_interval(
            secs=F.round(F.col("value") * 60).cast("long").cast("double"))
         ).alias("iv_end"))
    w = Window.partitionBy("user_id").orderBy("iv_start", "event_id")
    prev_end = F.max("iv_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("iv_start") <= prev_end, 0).otherwise(1)
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        iv.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(F.min("iv_start").alias("merged_start"),
             F.max("iv_end").alias("merged_end"),
             F.count(F.lit(1)).alias("n_intervals"))
        .select("user_id", F.col("island").cast("int").alias("merged_id"),
                "merged_start", "merged_end", "n_intervals"))


@query(
    "q_rolling_median",
    oracle="""
    WITH a AS (
      SELECT event_id, user_id,
             list_sort(list(value) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      FROM events)
    SELECT event_id, user_id,
           CAST(floor((CASE WHEN len(arr) % 2 = 1
                  THEN arr[(len(arr) + 1) // 2]
                  ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2
                END) * 1e9 + 0.5) AS BIGINT) AS rolling_median_nano
    FROM a
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing 7 events per user — a
    holistic (non-algebraic) sliding statistic Spark has no built-in
    window aggregate for. Expressed entirely in JVM expressions:
    collect_list over the ROWS frame (bounded: ≤ 7 doubles per row,
    so state is O(frame), never O(partition)), array_sort, and an
    odd/even interpolation pick — no Python worker in the loop. One
    shuffle on user_id. Emitted as floor(x·1e9 + 0.5) BIGINT — the
    oracle states the IDENTICAL sort/pick/(a+b)/2 construction (not
    DuckDB's median(), whose interpolation formula is its own), so
    every op is the same IEEE expression on both engines and the
    integer is bit-agreed by construction (the r8 fixed-point rule;
    round(x, 6) invoked engine-specific decimal rounding)."""
    ev = read_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-6, 0))
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n % 2 == 1, lo).otherwise(
        (F.element_at(arr, (n / 2).cast("int")) + hi) / 2)
    return ev.select("event_id", "user_id",
                     F.floor(med * F.lit(1e9) + F.lit(0.5))
                     .alias("rolling_median_nano"))


# ---------------------------------------------------------------------------
# graph: triangle counting / BFS (round 6)
# ---------------------------------------------------------------------------

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected edge set (u < v) of the part co-purchase
    graph, as a lazy plan: parts sharing an order are adjacent; every
    10th order keeps the graph a deterministic sample."""
    li = read_table(spark, sf_dir, "lineitem")
    items = (li.filter(F.col("l_orderkey") % 10 == 0)
             .select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("pk"))
             .distinct())
    a, b = items.alias("a"), items.alias("b")
    return (a.join(b, (F.col("a.ok") == F.col("b.ok"))
                   & (F.col("a.pk") < F.col("b.pk")))
            .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
            .distinct())


_BFS_EDGE_SQL = """
    items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0),
    e AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk)
"""


@query(
    "q_graph_triangles",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0),
    e AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS dst
      FROM e JOIN deg du ON du.node = e.u
             JOIN deg dv ON dv.node = e.v),
    t AS (
      SELECT x.src AS a, x.dst AS b, y.dst AS c
      FROM o x JOIN o y ON y.src = x.dst
      JOIN o z ON z.src = x.src AND z.dst = y.dst)
    SELECT node AS part_node, COUNT(*) AS n_triangles
    FROM (SELECT a AS node FROM t UNION ALL SELECT b AS node FROM t
          UNION ALL SELECT c AS node FROM t)
    GROUP BY node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-purchase graph (parts
    sharing an order are adjacent; every 10th order keeps the graph a
    deterministic sample). Uses DEGREE-ORDERED ORIENTATION — each
    edge points from its lower-(degree, id) endpoint to the higher —
    so every triangle is found exactly once as a path a→b→c plus the
    closing edge a→c, and, critically for 100 TB graphs, each node's
    out-degree is O(√m): the wedge join that dominates triangle
    counting is bounded O(m^1.5) overall instead of Σ deg² blowing up
    on hub nodes. All equi-joins (orderkey for edge build, node for
    degree attach, (src,dst) for closure) — no cartesian anywhere;
    the degree table is |V|-sized and AQE broadcasts it when small.
    The oriented edge set is materialized once (``checkpoint_tracked``)
    and held per session, sf_dir and lineitem stamp
    (``io.session_cached``): it feeds three self-join arms, and without
    the cut Catalyst re-derives the whole scan→join→distinct lineage
    per arm (a 62-exchange plan for what is logically 3 joins). The
    edge set it is built from is checkpointed too, since the
    orientation reads it three times, and freed once the oriented set
    holds its own blocks."""
    def _oriented():
        e, e_ids = checkpoint_tracked(_copurchase_edges(spark, sf_dir))
        deg = (e.select(F.col("u").alias("node"))
               .unionAll(e.select(F.col("v").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
        du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        o = checkpoint_tracked(
            e.join(du, "u").join(dv, "v")
            .select(F.when(u_first, F.col("u")).otherwise(F.col("v"))
                    .alias("src"),
                    F.when(u_first, F.col("v")).otherwise(F.col("u"))
                    .alias("dst")))
        free_checkpoint(spark, e_ids)
        return o

    o = session_cached(spark, "triangles", sf_dir, "lineitem", _oriented)
    x = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    y = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    z = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = x.join(y, "b").join(z, ["a", "c"])
    return (tri.select(F.explode(F.array("a", "b", "c")).alias("part_node"))
            .groupBy("part_node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


# ---------------------------------------------------------------------------
# sketch: bloom filter (round 6)
# ---------------------------------------------------------------------------

@query(
    "q_agg_bloom",
    oracle="""
    WITH members AS (
      SELECT c_mktsegment AS seg, c_custkey AS key
      FROM customer WHERE c_acctbal > 7500),
    pos AS (
      SELECT seg, key, i,
             ('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                                 || CAST(i AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS p
      FROM members, range(1, 4) t(i)),
    words AS (
      SELECT seg, p // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
      FROM pos GROUP BY seg, p // 32),
    stats AS (
      SELECT seg, SUM(bit_count(bits)) AS bits_set FROM words GROUP BY seg),
    counts AS (
      SELECT seg, COUNT(*) AS n_members FROM members GROUP BY seg),
    probes AS (
      SELECT s.seg, c.c_custkey AS probe_key
      FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer) s,
           (SELECT c_custkey FROM customer WHERE c_custkey <= 200) c),
    probe_pos AS (
      SELECT seg, probe_key, i,
             ('0x' || substr(md5(CAST(probe_key AS VARCHAR) || ':'
                                 || CAST(i AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS p
      FROM probes, range(1, 4) t(i)),
    checks AS (
      SELECT pp.seg, pp.probe_key,
             COALESCE((w.bits >> CAST(pp.p % 32 AS INT)) & 1, 0) AS hit
      FROM probe_pos pp
      LEFT JOIN words w ON w.seg = pp.seg AND w.word = pp.p // 32),
    verdicts AS (
      SELECT seg, probe_key,
             CAST(MIN(hit) AS INT) = 1 AS might_contain
      FROM checks GROUP BY seg, probe_key)
    SELECT v.seg, v.probe_key, v.might_contain,
           EXISTS (SELECT 1 FROM members m
                   WHERE m.seg = v.seg AND m.key = v.probe_key) AS is_member,
           (v.might_contain OR NOT EXISTS (
              SELECT 1 FROM members m
              WHERE m.seg = v.seg AND m.key = v.probe_key)) AS fn_free,
           c.n_members, CAST(s.bits_set AS BIGINT) AS bits_set
    FROM verdicts v
    JOIN counts c ON c.seg = v.seg
    JOIN stats s ON s.seg = v.seg
    """,
)
def q_agg_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter as a first-class MERGEABLE aggregate, fully
    inspectable: per market segment, the high-value-customer key set
    is summarized into a 1024-bit filter stored as 32 bit-or'able
    int64 words (k=3 md5-derived hash positions — the same replicable
    md5-prefix family the SimHash/LSH oracles use, so DuckDB
    re-derives the filter bit for bit). Build is one partial-agg
    shuffle of WORD STATE only (32 longs per group max, never the
    keys); merge across corpora/batches is bit_or — the property that
    lets 100 TB runtime join pruning ship tiny filters to every
    executor instead of the build side itself (q_join_bloom consumes
    exactly this shape via Spark's native BloomFilterAggregate).
    A 200-key probe set then gets an in-plan verdict pack:
    might_contain (all 3 bits set), exact membership, and the
    no-false-negative invariant fn_free — provable row by row, TRUE
    everywhere by Bloom's contract."""
    cust = read_table(spark, sf_dir, "customer")
    members = (cust.filter(F.col("c_acctbal") > 7500)
               .select(F.col("c_mktsegment").alias("seg"),
                       F.col("c_custkey").alias("key")))

    def positions(df: DataFrame, key: str) -> DataFrame:
        out = df.withColumn("i", F.explode(F.array(
            F.lit(1), F.lit(2), F.lit(3))))
        h = F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col(key).cast("string"), F.col("i").cast("string"))),
            1, 15), 16, 10).cast("long")
        return out.withColumn("p", h % 1024)

    words = (positions(members, "key")
             .groupBy("seg", (F.col("p") / 32).cast("int").alias("word"))
             .agg(F.bit_or(F.expr(
                 "shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))"))
                  .alias("bits")))
    stats = words.groupBy("seg").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set"))
    counts = members.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_members"))
    segs = cust.select(F.col("c_mktsegment").alias("seg")).distinct()
    probes = segs.crossJoin(
        cust.filter(F.col("c_custkey") <= 200)
        .select(F.col("c_custkey").alias("probe_key")))
    checks = (positions(probes, "probe_key")
              .withColumn("word", (F.col("p") / 32).cast("int"))
              .join(words, ["seg", "word"], "left")
              .withColumn("hit", F.coalesce(
                  F.expr("(bits >> CAST(p % 32 AS INT)) & 1"), F.lit(0))))
    verdicts = (checks.groupBy("seg", "probe_key")
                .agg((F.min("hit") == 1).alias("might_contain")))
    membership = members.withColumn("is_m", F.lit(True)) \
        .withColumnRenamed("key", "probe_key")
    return (verdicts
            .join(membership, ["seg", "probe_key"], "left")
            .withColumn("is_member", F.coalesce(F.col("is_m"),
                                                F.lit(False)))
            .withColumn("fn_free",
                        F.col("might_contain") | ~F.col("is_member"))
            .join(F.broadcast(counts), "seg")
            .join(F.broadcast(stats), "seg")
            .select("seg", "probe_key", "might_contain", "is_member",
                    "fn_free", "n_members", "bits_set"))


def _bfs_oracle_sql(max_hops: int = 4) -> str:
    """Unrolled frontier-expansion BFS in ANSI SQL: one CTE per level,
    each joining the previous frontier to the edge list and excluding
    every already-visited node — the exact shape of the Spark loop
    (and, unlike a naive WITH RECURSIVE path walk, immune to path-
    count explosion on cyclic graphs: each level is a DISTINCT
    frontier, never an enumeration of walks)."""
    parts = [f"""
    WITH {_BFS_EDGE_SQL},
    und AS (SELECT u AS src, v AS dst FROM e
            UNION ALL SELECT v AS src, u AS dst FROM e),
    d0 AS (SELECT MIN(src) AS node FROM und)"""]
    for d in range(1, max_hops + 1):
        seen = " UNION ALL ".join(
            f"SELECT node FROM d{i}" for i in range(d))
        parts.append(f""",
    d{d} AS (
      SELECT DISTINCT nd.dst AS node
      FROM und nd JOIN d{d - 1} f ON nd.src = f.node
      WHERE nd.dst NOT IN ({seen}))""")
    levels = " UNION ALL ".join(
        f"SELECT node AS part_node, {d} AS hops FROM d{d}"
        for d in range(max_hops + 1))
    parts.append(f"""
    SELECT part_node, CAST(hops AS INT) AS hops FROM ({levels})""")
    return "".join(parts)


@query("q_graph_bfs", oracle=_bfs_oracle_sql())
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the part co-purchase graph: minimum hop
    distance (<= 4) from the smallest part node, by FRONTIER
    EXPANSION — the loop form for data-dependent traversals
    (q_recursive_cte covers the in-plan WITH RECURSIVE shape; this is
    its explicit twin for graphs where a recursive path walk would
    enumerate exponentially many walks through cycles). One lazy edge
    pass feeds one in-memory kernel that runs all four levels
    (operators/graph.py:bfs_hops); the plan persists nothing."""
    from gasket_spark.operators.graph import bfs_hops

    return bfs_hops(_copurchase_edges(spark, sf_dir), "u", "v",
                    max_hops=4).withColumnRenamed("v", "part_node")


# ---------------------------------------------------------------------------
# curation: weighted sampling / data-quality audit (round 6)
# ---------------------------------------------------------------------------

@query(
    "q_sample_weighted",
    oracle="""
    WITH lnm AS (
      SELECT lang, doc_id, n_chars AS weight,
             CAST(round(ln(greatest(
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsamp'),
                               1, 15))::BIGINT
                 / 1152921504606846976.0, 1e-18)) * 1000000) AS BIGINT)
               AS ln_micro
      FROM documents),
    pri AS (
      SELECT lang, doc_id, weight,
             ln_micro * 1000000 // nullif(weight, 0) AS priority_pico
      FROM lnm)
    SELECT lang, doc_id, weight, priority_pico, CAST(rk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY priority_pico DESC, doc_id) AS rk FROM pri)
    WHERE rk <= 5
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (top-5 per language) via
    the Efraimidis-Spirakis A-ES key: priority = ln(u)/w with u a
    deterministic md5-derived uniform — equivalent to ranking by
    u^(1/w), so inclusion probability is proportional to weight
    (n_chars), but content-addressed like every sampler in this repo:
    partition-layout, retry and engine independent, and mergeable
    (the global top-k of per-partition top-ks — TakeOrdered shape,
    no full sort). The 100 TB form of 'sample 1M docs weighted by
    length' without a shuffle of the corpus: one windowed top-k per
    stratum. ln() — the one libm call — is HALF_UP-rounded ONCE to
    exact integer micro-units (the q_lm_score/q_tfidf per-term
    round-0 mask), and everything after is integer arithmetic: the
    priority is ln_micro·1e6 div weight pico-units (Spark ``div`` ≡
    DuckDB ``//``) and the rank compares integers — retiring the
    round(x, 12) decimal rounding, with the doc_id tie-break
    unchanged."""
    docs = read_table(spark, sf_dir, "documents")
    u = (F.conv(F.substring(F.md5(F.concat(
        F.col("doc_id").cast("string"), F.lit(":wsamp"))), 1, 15), 16, 10)
        .cast("long") / F.lit(float(2 ** 60)))
    lnm = F.round(F.log(F.greatest(u, F.lit(1e-18))) * F.lit(1e6)) \
        .cast("long")
    w = Window.partitionBy("lang").orderBy(
        F.col("priority_pico").desc(), F.col("doc_id").asc())
    return (docs.select("lang", "doc_id",
                        F.col("n_chars").alias("weight"),
                        lnm.alias("_ln_micro"))
            .withColumn("priority_pico",
                        F.expr("_ln_micro * 1000000 div nullif(weight, 0)"))
            .drop("_ln_micro")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5))


@query(
    "q_constraint_audit",
    oracle="""
    WITH li AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
               AS qty_bad,
             COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
               AS disc_bad
      FROM lineitem),
    fk_ord AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS bad
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
    fk_li AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS bad
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
    pk AS (
      SELECT COUNT(*) AS n_keys, SUM(c - 1) AS dups FROM (
        SELECT c_custkey, COUNT(*) AS c FROM customer GROUP BY c_custkey)),
    ev AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE user_id IS NULL) AS bad
      FROM events)
    SELECT * FROM (
      SELECT 'lineitem_qty_range' AS rule, n AS n_checked,
             CAST(qty_bad AS BIGINT) AS n_violations FROM li
      UNION ALL
      SELECT 'lineitem_discount_range', n, CAST(disc_bad AS BIGINT)
      FROM li
      UNION ALL
      SELECT 'orders_customer_fk', n, CAST(bad AS BIGINT) FROM fk_ord
      UNION ALL
      SELECT 'lineitem_orders_fk', n, CAST(bad AS BIGINT) FROM fk_li
      UNION ALL
      SELECT 'customer_pk_unique', n_keys, CAST(dups AS BIGINT) FROM pk
      UNION ALL
      SELECT 'events_user_nonnull', n, CAST(bad AS BIGINT) FROM ev)
    """,
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit pack — the expectation-suite
    shape (uniqueness, referential integrity, range and null
    contracts) as ONE DataFrame: per rule, rows checked + violation
    count. Each table is scanned once: both lineitem range rules ride
    a single conditional aggregate; FK checks are LEFT joins counted
    with FILTER-style conditional counts (null-probe = orphan);
    uniqueness is a two-phase groupBy. The per-rule results are
    1-row aggregates unioned at the end — at 100 TB the cost is the
    table scans, not the union, and every rule is a map-side partial
    aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    li_row = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((F.col("l_quantity") < 1)
                       | (F.col("l_quantity") > 50), 1)).alias("qty_bad"),
        F.count(F.when((F.col("l_discount") < 0)
                       | (F.col("l_discount") > 0.1), 1)).alias("disc_bad"))
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    fk_ord = (orders.join(F.broadcast(
        cust.select(F.col("c_custkey").alias("o_custkey"),
                    F.lit(1).alias("_hit"))), "o_custkey", "left")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count(F.when(F.col("_hit").isNull(), 1)).alias("bad")))
    fk_li = (li.select("l_orderkey").join(
        orders.select(F.col("o_orderkey").alias("l_orderkey"),
                      F.lit(1).alias("_hit")), "l_orderkey", "left")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count(F.when(F.col("_hit").isNull(), 1)).alias("bad")))
    pk = (cust.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("c"))
          .agg(F.count(F.lit(1)).alias("n_keys"),
               F.sum(F.col("c") - 1).alias("dups")))
    ev = read_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("bad"))

    def row(src: DataFrame, rule: str, n: str, v: str) -> DataFrame:
        return src.select(F.lit(rule).alias("rule"),
                          F.col(n).cast("bigint").alias("n_checked"),
                          F.col(v).cast("bigint").alias("n_violations"))

    return (row(li_row, "lineitem_qty_range", "n", "qty_bad")
            .unionByName(row(li_row, "lineitem_discount_range", "n",
                             "disc_bad"))
            .unionByName(row(fk_ord, "orders_customer_fk", "n", "bad"))
            .unionByName(row(fk_li, "lineitem_orders_fk", "n", "bad"))
            .unionByName(row(pk, "customer_pk_unique", "n_keys", "dups"))
            .unionByName(row(ev, "events_user_nonnull", "n", "bad")))


@query(
    "q_join_scd2_lookup",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'purchase'),
    dim AS (
      SELECT user_id, value_cents, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes)
    SELECT e.event_id, e.user_id, d.value_cents AS price_at_click
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') e
    LEFT JOIN dim d ON d.user_id = e.user_id
      AND e.ts >= d.valid_from
      AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
)
def q_join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME lookup against a versioned (SCD Type-2)
    dimension — the feature-store/warehouse companion to
    q_scd2_history: every click event is enriched with the purchase
    version that was valid AT the click's timestamp, via an equi-join
    on the dimension key plus the half-open validity residual
    [valid_from, valid_to). Because version intervals PARTITION each
    user's timeline (LEAD-closed, zero-width versions from equal-ts
    changes self-exclude), each event matches at most one version —
    no post-join dedup, unlike a generic range join. One shuffle per
    side on user_id; the residual evaluates inside the join. Events
    before a user's first version (or for users with no versions)
    keep NULL — the correct 'feature not yet observed' semantics that
    prevents temporal leakage in training data."""
    ev = read_table(spark, sf_dir, "events")
    changes = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    cond = ((F.col("d_user") == F.col("user_id"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull()
               | (F.col("ts") < F.col("valid_to"))))
    return (clicks.join(dim, cond, "left")
            .select("event_id", "user_id",
                    F.col("value_cents").alias("price_at_click")))


def _partdocs_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stamp-cached hive-layout documents fixture (partitioned by
    lang) shared by the partition-pruning scan and DPP join queries."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    return stamp_cached(
        os.path.join(tempfile.gettempdir(), "gasket_spark_partdocs",
                     os.path.basename(os.path.normpath(sf_dir))),
        os.path.join(sf_dir, "documents.parquet"),
        lambda d: docs.write.mode("overwrite")
                      .partitionBy("lang").parquet(d))


@query(
    "q_scan_partition_pruned",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang IN ('en', 'de')
    """,
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style PARTITIONED dataset scan with partition pruning:
    the documents table is written once partitioned by language
    (``lang=en/``, ``lang=de/``, … directories; stamp-cached like the
    ORC/NDJSON fixtures), and a language filter then prunes at the
    DIRECTORY level — non-matching partitions are never listed into
    the scan, the 100 TB difference between reading 2 languages and
    reading 40. The plan contract (tests/test_plans.py) pins the
    PartitionFilters entry; this query pins the values."""
    out = _partdocs_dir(spark, sf_dir)
    return (spark.read.parquet(out)
            .filter(F.col("lang").isin("en", "de"))
            .select("doc_id", "lang", "n_chars"))


@query(
    "q_anomaly_iqr",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           CAST(floor(q.q1 * 1e9 + 0.5) AS BIGINT) AS q1_nano,
           CAST(floor(q.q3 * 1e9 + 0.5) AS BIGINT) AS q3_nano,
           (e.value < q.q1 - 1.5 * (q.q3 - q.q1)
            OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)) AS is_outlier
    FROM events e JOIN q USING (event_type)
    WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
       OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
    """,
)
def q_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outlier detection per event type — the
    robust companion to q_anomaly_zscore: quartiles instead of
    mean/stddev, so a few extreme values can't drag the fence toward
    themselves. Two-pass shape: a per-group exact-quantile aggregate
    (group count is tiny → broadcast back), then one map-side fence
    filter over the stream — the corpus is scanned, never shuffled.
    Fence arithmetic happens on UNROUNDED quantiles on both engines;
    the reported q1/q3 are floor(x·1e9 + 0.5) BIGINT (both engines'
    exact-percentile interpolation is the same lower + frac·(upper −
    lower) IEEE expression over the same sorted multiset, so the
    scaled integer is bit-agreed; round(x, 6) invoked engine-specific
    decimal rounding — the r8 fixed-point rule)."""
    ev = read_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"))
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    nano = lambda c: F.floor(F.col(c) * F.lit(1e9) + F.lit(0.5))  # noqa: E731
    return (ev.join(F.broadcast(q), "event_type")
            .filter((F.col("value") < lo) | (F.col("value") > hi))
            .select("event_id", "event_type", "value",
                    nano("q1").alias("q1_nano"),
                    nano("q3").alias("q3_nano"),
                    ((F.col("value") < lo) | (F.col("value") > hi))
                    .alias("is_outlier")))


@query(
    "q_rollup_timegrain",
    oracle="""
    SELECT grain, bucket, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM (
      SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket,
             event_type, value FROM events
      UNION ALL
      SELECT 'day', date_trunc('day', ts), event_type, value FROM events
      UNION ALL
      SELECT 'week', date_trunc('week', ts), event_type, value
      FROM events)
    GROUP BY grain, bucket, event_type
    """,
)
def q_rollup_timegrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain TIME rollup (hour/day/week in one result) — the
    dashboard-materialization shape q_agg_rollup_cube covers for
    dimensional hierarchies, applied to the time axis. Expressed as
    an explode over the three truncations so the input is scanned
    ONCE and the partial aggregate combines all grains before the
    single shuffle (vs three separate queries = three scans). Sums
    accumulate in integer cents (round-before-cast, both engines)."""
    ev = read_table(spark, sf_dir, "events")
    grains = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.explode(F.array(
            F.struct(F.lit("hour").alias("grain"),
                     F.date_trunc("hour", "ts").alias("bucket")),
            F.struct(F.lit("day").alias("grain"),
                     F.date_trunc("day", "ts").alias("bucket")),
            F.struct(F.lit("week").alias("grain"),
                     F.date_trunc("week", "ts").alias("bucket")),
        )).alias("g"))
    return (grains.groupBy(F.col("g.grain").alias("grain"),
                           F.col("g.bucket").alias("bucket"),
                           "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("cents").alias("value_cents")))


@query(
    "q_sql_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                               * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue_cents DESC, o_orderkey
    LIMIT 10
    """,
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) through the SQL SURFACE — the
    engine's spark.sql entry point is first-class, not just the
    DataFrame API: three-table join, segment + date filters on both
    sides, revenue aggregate, top-10. Catalyst plans it identically
    to the DataFrame form (filter pushdown to all three scans,
    broadcast dim, TakeOrdered instead of a global sort); revenue
    accumulates in integer cents (round-before-cast on both engines).
    The deterministic o_orderkey tiebreak makes the LIMIT stable."""
    for t in ("customer", "orders", "lineitem"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"_q3_{t}")
    return spark.sql("""
        SELECT o.o_orderkey,
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                              * 100) AS BIGINT)) AS revenue_cents,
               o.o_orderdate
        FROM _q3_customer c
        JOIN _q3_orders o ON o.o_custkey = c.c_custkey
        JOIN _q3_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue_cents DESC, o_orderkey
        LIMIT 10
    """)


@query(
    "q_sql_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                               * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q_sql_local_supplier_volume(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) via spark.sql — the 6-table
    snowflake join with the subtle same-nation equi-constraint
    between supplier and customer. Catalyst broadcast-joins the three
    tiny dims (nation/region/supplier-side) and leaves one real
    shuffle pair (orders⋈lineitem); join REORDERING is the optimizer
    feature this query exists to exercise — the written order is
    deliberately not the efficient one."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation",
              "region"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"_q5_{t}")
    return spark.sql("""
        SELECT n.n_name,
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                              * 100) AS BIGINT)) AS revenue_cents
        FROM _q5_customer c
        JOIN _q5_orders o ON o.o_custkey = c.c_custkey
        JOIN _q5_lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN _q5_supplier s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = c.c_nationkey
        JOIN _q5_nation n ON n.n_nationkey = s.s_nationkey
        JOIN _q5_region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1997-01-01'
        GROUP BY n.n_name
    """)


@query(
    "q_concurrency_peak",
    oracle="""
    WITH iv AS (
      SELECT event_type, event_id, ts AS s,
             ts + to_seconds(CAST(round(value * 60) AS BIGINT)) AS e
      FROM events),
    bounds AS (
      SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta, event_id FROM iv),
    sweep AS (
      SELECT event_type, t, delta,
             SUM(delta) OVER (PARTITION BY event_type
               ORDER BY t, delta, event_id
               ROWS UNBOUNDED PRECEDING) AS live
      FROM bounds),
    peak AS (
      SELECT event_type, MAX(live) AS peak_concurrency FROM sweep
      GROUP BY event_type)
    SELECT p.event_type, CAST(p.peak_concurrency AS BIGINT)
             AS peak_concurrency,
           MIN(s.t) AS first_peak_at,
           (SELECT COUNT(*) FROM iv i
            WHERE i.event_type = p.event_type) AS n_intervals
    FROM peak p JOIN sweep s
      ON s.event_type = p.event_type
     AND s.live = p.peak_concurrency
    GROUP BY p.event_type, p.peak_concurrency
    """,
)
def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line PEAK CONCURRENCY per event type — 'how many spans
    were live at once, and when did the peak first happen': each
    interval [ts, ts + value minutes) contributes a +1/-1 boundary
    pair, a running sum over (time, delta, id) order walks the
    sweep (half-open semantics: at an exact boundary instant, the
    -1 sorts first so a span ending exactly when another starts
    never double-counts), and the per-type max + its earliest
    timestamp fall out of one more aggregate. One shuffle on
    event_type; with very few types the sort-within-type is the
    parallelism bound — at 100 TB you shard the sweep by
    (type, coarse time bucket) and stitch bucket boundary offsets,
    the same prefix-sum cascade as operators/packing.py."""
    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type", "event_id", F.col("ts").alias("s"),
        (F.col("ts") + F.make_dt_interval(
            secs=F.round(F.col("value") * 60).cast("long").cast("double"))
         ).alias("e"))
    bounds = (iv.select("event_type", F.col("s").alias("t"),
                        F.lit(1).alias("delta"), "event_id")
              .unionByName(iv.select("event_type", F.col("e").alias("t"),
                                     F.lit(-1).alias("delta"),
                                     "event_id")))
    w = (Window.partitionBy("event_type")
         .orderBy("t", "delta", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sweep = bounds.withColumn("live", F.sum("delta").over(w))
    peak = sweep.groupBy("event_type").agg(
        F.max("live").cast("bigint").alias("peak_concurrency"))
    n_iv = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"))
    return (sweep.join(F.broadcast(peak), "event_type")
            .filter(F.col("live") == F.col("peak_concurrency"))
            .groupBy("event_type", "peak_concurrency")
            .agg(F.min("t").alias("first_peak_at"))
            .join(F.broadcast(n_iv), "event_type")
            .select("event_type", "peak_concurrency", "first_peak_at",
                    "n_intervals"))


@query(
    "q_window_distribution",
    oracle="""
    SELECT event_id, event_type,
           CAST(floor(percent_rank() OVER w * 1e9 + 0.5) AS BIGINT)
             AS pct_rank_nano,
           CAST(floor(cume_dist() OVER w * 1e9 + 0.5) AS BIGINT)
             AS cume_nano
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist) per
    event type — the 'where does this row sit in its group's value
    distribution' pack that complements q_window_ntile's bucketing.
    Value ties share a rank on both engines (ORDER BY value alone),
    so the result is deterministic without an id tie-break; one
    shuffle on the partition key. Both stats are ONE integer-ratio
    IEEE division ((rank−1)/(n−1), c/n) so floor(x·1e9 + 0.5) BIGINT
    is bit-agreed by construction (the r8 fixed-point rule;
    round(x, 9) invoked engine-specific decimal rounding)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    nano = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5))  # noqa: E731
    return ev.select(
        "event_id", "event_type",
        nano(F.percent_rank().over(w)).alias("pct_rank_nano"),
        nano(F.cume_dist().over(w)).alias("cume_nano"))


@query(
    "q_pattern_match",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             substr(event_type, 1, 1) AS init,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id)
                       <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS brk
      FROM events),
    i AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    j AS (
      SELECT user_id, CAST(sid AS INT) AS session_id,
             COUNT(*) AS n_events,
             string_agg(init, '' ORDER BY ts, event_id) AS journey
      FROM i GROUP BY user_id, sid)
    SELECT user_id, session_id, n_events, journey,
           regexp_matches(journey, 'v[^e]*c[^e]*p') AS converted
    FROM j
    """,
)
def q_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection — the 'did
    this session convert' shape with a VETO: within each 30-minute-
    gap session, find view → click → purchase with NO error event
    between the stages (q_funnel counts ordered stages; this adds
    the negative condition real clickstream analysis needs). The
    session's ordered event-type initials collapse into one journey
    string (deterministic: struct-sorted by (ts, event_id)), and the
    pattern is a regex over it — sessions are human-scale, so the
    string is bounded and the whole detection is ONE shuffle on
    user_id plus map-side regex, no self-joins per stage. The
    journey string itself is in the output, pinning content
    cross-engine, not just the verdict."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.substring("event_type", 1, 1).alias("init"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    brk = F.when(gap <= F.expr("INTERVAL 30 MINUTES"), 0).otherwise(1)
    sid = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    journey = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "init"))),
            lambda x: x["init"]), "")
    return (ev.withColumn("sid", sid)
            .groupBy("user_id", F.col("sid").cast("int")
                     .alias("session_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 journey.alias("journey"))
            .withColumn("converted",
                        F.col("journey").rlike("v[^e]*c[^e]*p")))


# ---------------------------------------------------------------------------
# round 6 (cont.): bag set ops, exact higher moments, EWMA, interpolation,
# weighted shortest paths, more TPC-H through the SQL surface
# ---------------------------------------------------------------------------

@query(
    "q_setops_all",
    oracle="""
    WITH a AS (SELECT o_custkey % 97 AS val FROM orders
               WHERE o_orderstatus = 'O'),
    b AS (SELECT o_custkey % 97 AS val FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
    tagged AS (
      SELECT 'union_all' AS op, val FROM
        (SELECT val FROM a UNION ALL SELECT val FROM b)
      UNION ALL
      SELECT 'intersect_all' AS op, val FROM
        (SELECT val FROM a INTERSECT ALL SELECT val FROM b)
      UNION ALL
      SELECT 'except_all' AS op, val FROM
        (SELECT val FROM a EXCEPT ALL SELECT val FROM b))
    SELECT op, val, COUNT(*) AS n FROM tagged GROUP BY op, val
    """,
)
def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG (ALL) set-operation semantics — the multiplicity-preserving
    twins of q_setops' DISTINCT trio: UNION ALL keeps every copy,
    INTERSECT ALL keeps min(multiplicity), EXCEPT ALL subtracts
    multiplicities. Spark's unionAll/intersectAll/exceptAll map
    straight onto the ANSI operators; the result is reported as
    per-value multiplicities so the bag semantics themselves are what
    the oracle hashes. intersectAll/exceptAll shuffle both sides on
    the value (the only correct co-location); the overlapping input
    legs (a is scanned by all three ops) stay separate scans so each
    op pushes its own filter down to parquet."""
    orders = read_table(spark, sf_dir, "orders")
    a = (orders.filter(F.col("o_orderstatus") == "O")
         .select((F.col("o_custkey") % 97).alias("val")))
    b = (orders.filter(F.col("o_orderpriority")
                       .isin("1-URGENT", "2-HIGH"))
         .select((F.col("o_custkey") % 97).alias("val")))
    tagged = (
        a.unionAll(b).withColumn("op", F.lit("union_all"))
        .unionByName(a.intersectAll(b)
                     .withColumn("op", F.lit("intersect_all")))
        .unionByName(a.exceptAll(b)
                     .withColumn("op", F.lit("except_all"))))
    return (tagged.groupBy("op", "val")
            .agg(F.count(F.lit(1)).alias("n")))


@query(
    "q_agg_moments",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(CAST(round(value * 10) AS BIGINT) AS HUGEINT) AS v
      FROM events),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(v * v) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM(v * v * v) AS VARCHAR) AS DOUBLE) AS s3,
             CAST(CAST(SUM((v * v) * (v * v)) AS VARCHAR) AS DOUBLE)
               AS s4
      FROM c GROUP BY event_type),
    m AS (
      SELECT event_type, n,
             s1 / n AS mean, s2 / n AS ex2, s3 / n AS ex3, s4 / n AS ex4
      FROM s),
    k AS (
      SELECT event_type, n, mean,
             ex2 - mean * mean AS m2,
             ex3 - 3 * mean * ex2 + 2 * mean * mean * mean AS m3,
             ex4 - 4 * mean * ex3 + 6 * mean * mean * ex2
                 - 3 * mean * mean * mean * mean AS m4
      FROM m)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(floor(mean * 1e9 + 0.5) AS BIGINT) AS mean_nano,
           CAST(floor(m2 * 1e9 + 0.5) AS BIGINT) AS var_nano,
           CASE WHEN m2 > 0
                THEN CAST(floor(m3 / (m2 * sqrt(m2)) * 1e9 + 0.5)
                          AS BIGINT)
           END AS skew_nano,
           CASE WHEN m2 > 0
                THEN CAST(floor((m4 / (m2 * m2) - 3) * 1e9 + 0.5)
                          AS BIGINT)
           END AS kurt_nano
    FROM k
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics pack (skewness + excess kurtosis per
    event type) from EXACT integer power sums — the mergeable-moments
    pattern: each partition contributes only (n, Σv, Σv², Σv³, Σv⁴),
    all exact integers — v is widened to decimal(38,0) (Spark) /
    HUGEINT (oracle) BEFORE any multiply, so the per-row v⁴ products
    are exact too, not just the sums (BIGINT v⁴ wraps silently in
    non-ANSI Spark past |v|≈55k while DuckDB raises) — and
    the holistic-looking statistics fall out of closed-form double
    arithmetic AFTER the single partial-aggregate shuffle. sqrt
    instead of pow(x,1.5): IEEE sqrt is correctly rounded on both
    engines, pow is not — the same discipline as q_agg_stats. The
    oracle's int→double casts route through VARCHAR: DuckDB's direct
    HUGEINT→DOUBLE is (double)upper·2^64 + (double)lower — TWO
    roundings, measurably wrong at a tie above 2^64 (Σv⁴ here is
    ~1e22), while strtod and Spark's BigDecimal→double are both
    correctly rounded, so the engines see the identical double. At
    100 TB this is one map-side combine per partition + k tiny rows."""
    ev = read_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10).cast("bigint")
    c = ev.select("event_type", v.alias("v"))
    dv = F.col("v").cast("decimal(38,0)")
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dv).cast("double").alias("s1"),
        F.sum(dv * dv).cast("double").alias("s2"),
        F.sum(dv * dv * dv).cast("double").alias("s3"),
        F.sum((dv * dv) * (dv * dv)).cast("double").alias("s4"))
    m = s.select(
        "event_type", "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (F.col("s2") / F.col("n")).alias("ex2"),
        (F.col("s3") / F.col("n")).alias("ex3"),
        (F.col("s4") / F.col("n")).alias("ex4"))
    mean = F.col("mean")
    k = m.select(
        "event_type", "n", "mean",
        (F.col("ex2") - mean * mean).alias("m2"),
        (F.col("ex3") - F.lit(3) * mean * F.col("ex2")
         + F.lit(2) * mean * mean * mean).alias("m3"),
        (F.col("ex4") - F.lit(4) * mean * F.col("ex3")
         + F.lit(6) * mean * mean * F.col("ex2")
         - F.lit(3) * mean * mean * mean * mean).alias("m4"))
    m2 = F.col("m2")
    # floor(x·1e9 + 0.5) is EXACT on doubles, so both engines map the
    # identical IEEE double to the identical BIGINT — unlike
    # round(x, 9), whose decimal-rounding algorithm differs between
    # Spark (BigDecimal HALF_UP) and DuckDB builds (the r7
    # grid-density red). Zero-variance groups NULL out skew/kurt on
    # both sides (IEEE Inf is not hash-comparable).
    nano = lambda col: F.floor(col * F.lit(1e9) + F.lit(0.5))  # noqa: E731
    return k.select(
        "event_type", F.col("n").cast("bigint").alias("n"),
        nano(mean).alias("mean_nano"),
        nano(m2).alias("var_nano"),
        F.when(m2 > 0, nano(F.col("m3") / (m2 * F.sqrt(m2))))
        .alias("skew_nano"),
        F.when(m2 > 0, nano(F.col("m4") / (m2 * m2) - 3))
        .alias("kurt_nano"))


def _ewma_oracle_sql(k: int = 8) -> str:
    """Fixed-point EWMA oracle: alpha = 1/2 over the last ``k`` events,
    weights 2^(k-1-i) for lag i, renormalized over the lags that exist
    — all-integer numerator/denominator and ONE truncating integer
    division to nano-cents (`//` ≡ Spark `div`), so both engines
    compute the identical BIGINT with no float anywhere."""
    num = [f"c * {1 << (k - 1)}"]
    den = [str(1 << (k - 1))]
    for i in range(1, k):
        wgt = 1 << (k - 1 - i)
        num.append(f"coalesce(lag(c, {i}) OVER w * {wgt}, 0)")
        den.append(f"CASE WHEN lag(c, {i}) OVER w IS NOT NULL"
                   f" THEN {wgt} ELSE 0 END")
    return f"""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events)
    SELECT user_id, event_id, c AS cents,
           ({" + ".join(num)}) * 1000000000
                 // ({" + ".join(den)}) AS ewma_cents_nano
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


@query("q_window_ewma", oracle=_ewma_oracle_sql())
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (alpha = 1/2,
    8-event horizon) in FIXED-POINT arithmetic: the recursive EWMA
    definition is unrolled into a finite weighted sum with power-of-
    two integer weights (2^7..2^0), renormalized over however many
    lags actually exist, so the whole computation is exact integer
    adds + ONE integer division at the end (nano-cent units; Spark
    ``div`` and DuckDB ``//`` both truncate toward zero) —
    partition-order independent and bit-identical across engines
    with no float anywhere (the r8 fixed-point rule retiring the
    last round(x, 6)). Truncating at 8 lags bounds the error at 2^-8
    of the true infinite-history EWMA while keeping the operator a
    pure JVM window expression (no Python, no state store); one
    shuffle on user_id."""
    k = 8
    ev = read_table(spark, sf_dir, "events")
    c = ev.select("user_id", "event_id", "ts",
                  F.round(F.col("value") * 100).cast("bigint").alias("c"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.col("c") * (1 << (k - 1))
    den = F.lit(1 << (k - 1))
    for i in range(1, k):
        wgt = 1 << (k - 1 - i)
        li = F.lag("c", i).over(w)
        num = num + F.coalesce(li * wgt, F.lit(0))
        den = den + F.when(li.isNotNull(), F.lit(wgt)).otherwise(0)
    return (c.withColumn("_num", num).withColumn("_den", den)
            .select("user_id", "event_id", F.col("c").alias("cents"),
                    F.expr("_num * 1000000000 div _den")
                    .alias("ewma_cents_nano")))


@query(
    "q_resample_interp",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM events),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id,
             unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM users u CROSS JOIN bounds b),
    gi AS (
      SELECT user_id, hour,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY hour) AS BIGINT) AS idx
      FROM grid),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS val_cents
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT g.user_id, g.hour, g.idx, h.val_cents
      FROM gi g LEFT JOIN hourly h
        ON g.user_id = h.user_id AND g.hour = h.hour),
    x AS (
      SELECT *,
             last_value(val_cents IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN val_cents IS NOT NULL THEN idx END
                        IGNORE NULLS) OVER wp AS pi,
             first_value(val_cents IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN val_cents IS NOT NULL THEN idx END
                         IGNORE NULLS) OVER wf AS ni
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY idx
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
    SELECT user_id, hour, val_cents,
           CASE WHEN val_cents IS NOT NULL THEN val_cents * 1000000000
                WHEN pv IS NULL OR nv IS NULL THEN NULL
                ELSE CAST(floor((pv + (nv - pv)
                                 * CAST(idx - pi AS DOUBLE)
                                 / CAST(ni - pi AS DOUBLE))
                                * 1e9 + 0.5) AS BIGINT)
           END AS interp_cents_nano
    FROM x
    """,
)
def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR INTERPOLATION between observations —
    q_resample_ffill's gap-fill twin for continuous signals: each
    user's sparse hourly sums land on a dense grid, and every missing
    hour gets prev + (next-prev) * elapsed/span, computed from exact
    integer cents and integer grid indices with one double division,
    then emitted as floor(x·1e9 + 0.5) BIGINT nano-cents — every op
    is the identical IEEE expression on both engines, so the integer
    is bit-agreed by construction (the r8 fixed-point rule retiring
    round(x, 6)). No extrapolation: hours before the
    first or after the last observation stay NULL. The grid is
    sequence()-exploded per user (no driver loop); the fill is two
    IGNORE NULLS window passes — one forward, one backward — on the
    same user partitioning, so the whole query is one shuffle plus
    map-side window evaluation. At 100 TB the grid explode is
    embarrassingly parallel and the per-user state is two scalars."""
    ev = read_table(spark, sf_dir, "events")
    b = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
               F.date_trunc("hour", F.max("ts")).alias("h1"))
    users = ev.select("user_id").distinct()
    grid = (users.crossJoin(F.broadcast(b))
            .select("user_id",
                    F.explode(F.sequence(
                        "h0", "h1",
                        F.expr("INTERVAL 1 HOUR"))).alias("hour")))
    gi = grid.withColumn(
        "idx", F.row_number().over(
            Window.partitionBy("user_id").orderBy("hour")).cast("bigint"))
    hourly = (ev.groupBy("user_id",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
                   .cast("bigint").alias("val_cents")))
    j = gi.join(hourly, ["user_id", "hour"], "left")
    wp = (Window.partitionBy("user_id").orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("user_id").orderBy("idx")
          .rowsBetween(1, Window.unboundedFollowing))
    obs_idx = F.when(F.col("val_cents").isNotNull(), F.col("idx"))
    x = (j.withColumn("pv", F.last("val_cents", ignorenulls=True).over(wp))
         .withColumn("pi", F.last(obs_idx, ignorenulls=True).over(wp))
         .withColumn("nv", F.first("val_cents", ignorenulls=True).over(wf))
         .withColumn("ni", F.first(obs_idx, ignorenulls=True).over(wf)))
    interp = F.floor(
        (F.col("pv") + (F.col("nv") - F.col("pv"))
         * (F.col("idx") - F.col("pi")).cast("double")
         / (F.col("ni") - F.col("pi")).cast("double"))
        * F.lit(1e9) + F.lit(0.5))
    return x.select(
        "user_id", "hour", "val_cents",
        F.when(F.col("val_cents").isNotNull(),
               F.col("val_cents") * F.lit(1000000000))
         .when(F.col("pv").isNull() | F.col("nv").isNull(),
               F.lit(None).cast("bigint"))
         .otherwise(interp).alias("interp_cents_nano"))


def _sssp_oracle_sql(max_hops: int = 4) -> str:
    """Unrolled Bellman-Ford in ANSI SQL: one CTE per relaxation round,
    each the MIN-merge of the previous distance map with every edge
    relaxation out of it — the exact semantics of the Spark loop
    (after round k every node holds the cheapest <=k-edge walk)."""
    parts = [f"""
    WITH {_BFS_EDGE_SQL},
    we AS (SELECT u, v, 1 + (u + 2 * v) % 7 AS w FROM e),
    und AS (SELECT u AS src, v AS dst, w FROM we
            UNION ALL SELECT v AS src, u AS dst, w FROM we),
    d0 AS (SELECT MIN(src) AS node, CAST(0 AS BIGINT) AS dist FROM und)"""]
    for k in range(1, max_hops + 1):
        parts.append(f""",
    d{k} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT nd.dst AS node, f.dist + nd.w AS dist
        FROM und nd JOIN d{k - 1} f ON nd.src = f.node) GROUP BY node)""")
    parts.append(f"""
    SELECT node AS part_node, CAST(dist AS BIGINT) AS dist
    FROM d{max_hops}""")
    return "".join(parts)


@query("q_graph_sssp", oracle=_sssp_oracle_sql())
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source WEIGHTED shortest paths (Bellman-Ford, 4 rounds)
    on the part co-purchase graph — q_graph_bfs's weighted twin.
    Edge weights are deterministic integers (1 + (u+2v) mod 7 on the
    canonical u<v edge, identical in both directions). One lazy edge
    pass feeds one in-memory kernel that runs all four relaxation
    rounds in int64 (operators/graph.py:shortest_paths); the plan
    persists nothing."""
    from gasket_spark.operators.graph import shortest_paths

    e = _copurchase_edges(spark, sf_dir).withColumn(
        "w", F.lit(1) + (F.col("u") + F.lit(2) * F.col("v")) % 7)
    return shortest_paths(e, "u", "v", "w", rounds=4) \
        .withColumnRenamed("v", "part_node")


@query(
    "q_sql_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume_cents) AS BIGINT) AS revenue_cents
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
                 CAST(round(l.l_extendedprice * (1 - l.l_discount)
                            * 100) AS BIGINT) AS volume_cents
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
          JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping) via spark.sql — bilateral trade
    volume between two nations by ship year. The interesting plan
    property: the nation-pair disjunction touches BOTH ends of the
    join chain (supplier side and customer side), so Catalyst must
    keep the two nation dims distinct (self-join of nation), push the
    name filters into both broadcast builds, and leave only the
    orders⋈lineitem pair as a real shuffle. Revenue in integer cents
    (round-before-cast both engines)."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"_q7_{t}")
    return spark.sql("""
        SELECT supp_nation, cust_nation, l_year,
               SUM(volume_cents) AS revenue_cents
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(EXTRACT(year FROM l.l_shipdate) AS INT)
                       AS l_year,
                     CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 100) AS BIGINT) AS volume_cents
              FROM _q7_supplier s
              JOIN _q7_lineitem l ON s.s_suppkey = l.l_suppkey
              JOIN _q7_orders o ON o.o_orderkey = l.l_orderkey
              JOIN _q7_customer c ON c.c_custkey = o.o_custkey
              JOIN _q7_nation n1 ON n1.n_nationkey = s.s_nationkey
              JOIN _q7_nation n2 ON n2.n_nationkey = c.c_nationkey
              WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND l.l_shipdate >= TIMESTAMP '1996-01-01'
                AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
        GROUP BY supp_nation, cust_nation, l_year
    """)


@query(
    "q_sql_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                               * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           n.n_name, c.c_mktsegment
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_mktsegment
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q_sql_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) via spark.sql — top-20
    customers by revenue lost to returns in a half-year window. Plan
    shape: the returnflag filter prunes lineitem at the scan, the
    date filter prunes orders, nation broadcasts, and the final
    top-20 is a TakeOrdered (no global sort materialization). The
    deterministic c_custkey tiebreak keeps LIMIT stable."""
    for t in ("customer", "orders", "lineitem", "nation"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"_q10_{t}")
    return spark.sql("""
        SELECT c.c_custkey, c.c_name,
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                              * 100) AS BIGINT)) AS revenue_cents,
               n.n_name, c.c_mktsegment
        FROM _q10_customer c
        JOIN _q10_orders o ON o.o_custkey = c.c_custkey
        JOIN _q10_lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN _q10_nation n ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1996-07-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_mktsegment
        ORDER BY revenue_cents DESC, c_custkey
        LIMIT 20
    """)


@query(
    "q_sql_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           CAST(round(SUM(l.l_quantity)) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY total_cents DESC, o_orderkey
    LIMIT 100
    """,
)
def q_sql_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders) via spark.sql — the grouped
    HAVING semi-join shape: an aggregate subquery picks qualifying
    orderkeys, the outer 3-table join re-aggregates only those. The
    IN-subquery plans as a LEFT SEMI join on the aggregated key set
    (never a per-row subquery execution); at 100 TB both the inner
    and outer lineitem aggregations are partial/map-side combined and
    share the l_orderkey shuffle key. Quantities are integral doubles
    (1..50), so SUM is exact and order-independent; round-before-cast
    keeps the output integer-typed on both engines."""
    for t in ("customer", "orders", "lineitem"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"_q18_{t}")
    return spark.sql("""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
               CAST(round(SUM(l.l_quantity)) AS BIGINT) AS sum_qty
        FROM _q18_customer c
        JOIN _q18_orders o ON o.o_custkey = c.c_custkey
        JOIN _q18_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM _q18_lineitem
          GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
        ORDER BY total_cents DESC, o_orderkey
        LIMIT 100
    """)


@query(
    "q_scan_csv",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip with a PINNED schema — the customer table
    serialized to headered CSV once (stamp-cached like the ORC/NDJSON
    twins) and read back losslessly: Spark writes doubles in
    shortest-round-trip form, so even c_acctbal survives the text
    hop bit-exact. Schema is pinned (inference = an extra full read
    at 100 TB); quoting/escaping is the writer's RFC-4180 default."""
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    cust = read_table(spark, sf_dir, "customer").select(*cols)
    out = stamp_cached(
        os.path.join(tempfile.gettempdir(), "gasket_spark_csv",
                     os.path.basename(os.path.normpath(sf_dir))),
        os.path.join(sf_dir, "customer.parquet"),
        lambda d: cust.write.mode("overwrite")
                      .option("header", "true").csv(d))
    schema = ("c_custkey bigint, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string")
    return (spark.read.schema(schema).option("header", "true").csv(out)
            .select(*cols))


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT event_id, NULLIF(user_id % 7, 3) AS k
      FROM events WHERE event_type = 'view'),
    dim AS (
      SELECT NULLIF(n_nationkey % 7, 3) AS k,
             COUNT(*) AS n_nations, MIN(n_name) AS rep
      FROM nation GROUP BY 1)
    SELECT a.k, d.rep, d.n_nations, COUNT(*) AS n_events
    FROM a JOIN dim d ON a.k IS NOT DISTINCT FROM d.k
    GROUP BY a.k, d.rep, d.n_nations
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (Spark ``<=>`` ≡ ANSI IS NOT DISTINCT
    FROM): NULL keys MATCH each other instead of silently dropping —
    the semantics a 'bucket of unknowns' dimension needs. Because
    ``<=>`` is still an equality predicate, Catalyst plans a hash
    join on the null-safe key (NULLs hash to one bucket), never a
    nested-loop — the property this query pins. The dim aggregates
    nation down to one row per residue class (including the NULL
    class), broadcasts, and the event stream makes one narrow pass."""
    ev = read_table(spark, sf_dir, "events")
    a = (ev.filter(F.col("event_type") == "view")
         .select("event_id",
                 F.nullif(F.col("user_id") % 7, F.lit(3)).alias("k")))
    nat = read_table(spark, sf_dir, "nation")
    dim = (nat.groupBy(F.nullif(F.col("n_nationkey") % 7, F.lit(3))
                       .alias("k"))
           .agg(F.count(F.lit(1)).alias("n_nations"),
                F.min("n_name").alias("rep")))
    return (a.join(F.broadcast(dim), a["k"].eqNullSafe(dim["k"]))
            .groupBy(a["k"].alias("k"), "rep", "n_nations")
            .agg(F.count(F.lit(1)).alias("n_events")))


@query(
    "q_window_navigation",
    oracle="""
    SELECT user_id, event_id,
           first_value(c) OVER w AS first_cents,
           last_value(c) OVER w AS last_cents,
           nth_value(c, 3) OVER w AS third_cents,
           lead(c, 2, -1) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS lead2_cents
    FROM (SELECT user_id, event_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS c FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window pack — first_value / last_value / nth_value
    over the FULL partition frame plus lead with an explicit default:
    the 'align every event against its session anchors' shape.
    The full-frame spec matters: last_value over the default frame
    (UNBOUNDED PRECEDING..CURRENT ROW) is just the row itself — a
    classic silent-wrong-answer; pinning the frame makes both
    engines compute the partition-global anchors. One shuffle on
    user_id, strict (ts, event_id) total order, all-integer values."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    wfull = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    wlead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.first("c").over(wfull).alias("first_cents"),
        F.last("c").over(wfull).alias("last_cents"),
        F.nth_value("c", 3).over(wfull).alias("third_cents"),
        F.lead("c", 2, -1).over(wlead).alias("lead2_cents"))


@query(
    "q_join_dpp",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT lang FROM documents
      WHERE source IN ('src14', 'src18'))
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim ON dim.lang = d.lang
    GROUP BY d.lang
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the hive-partitioned documents
    fixture joins a small filtered dimension on the PARTITION column,
    and Catalyst injects the dim's key set into the fact scan as a
    runtime partition filter (``dynamicpruning`` subquery in
    PartitionFilters — pinned by tests/test_plans.py) — at 100 TB the
    fact side lists and reads ONLY the partitions the dim survives,
    the star-schema equivalent of static pruning when the pruning
    values are data-dependent rather than literal in the query.
    The dim's filter is on ``source``, NOT on the join key, so
    Catalyst cannot infer any static lang predicate for the fact
    side (constraint propagation would); the partition cut is
    entirely the runtime subquery's doing."""
    fact = spark.read.parquet(_partdocs_dir(spark, sf_dir))
    docs = read_table(spark, sf_dir, "documents")
    dim = (docs.filter(F.col("source").isin("src14", "src18"))
           .select("lang").distinct())
    return (fact.join(dim, "lang")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars")))


def _kcore_oracle_sql(k: int = 3, rounds: int = 6) -> str:
    """Unrolled k-core peeling in ANSI SQL: each round keeps the nodes
    of degree >= k, then restricts the edge set to kept endpoints —
    the exact semantics of the Spark loop (after R rounds: the
    R-round bounded peel toward the k-core fixed point). Every round
    CTE is MATERIALIZED: u{{r}} is referenced twice per round, and
    inlining doubles the expression tree each round (2^R copies of
    the edge build — measured 138 s vs 0.1 s at sf0.01)."""
    parts = [f"""
    WITH {_BFS_EDGE_SQL},
    u0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v AS src, u AS dst FROM e)"""]
    for r in range(rounds):
        parts.append(f""",
    k{r} AS MATERIALIZED (
      SELECT src FROM u{r} GROUP BY src HAVING COUNT(*) >= {k}),
    u{r + 1} AS MATERIALIZED (
      SELECT t.src, t.dst FROM u{r} t
      JOIN k{r} a ON a.src = t.src
      JOIN k{r} b ON b.src = t.dst)""")
    parts.append(f"""
    SELECT src AS part_node, COUNT(*) AS degree
    FROM u{rounds} GROUP BY src""")
    return "".join(parts)


@query("q_graph_kcore", oracle=_kcore_oracle_sql())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE decomposition by iterative peeling (k=3, 6 bounded
    rounds) on the part co-purchase graph — the degeneracy pruning
    that strips tendrils before community/robustness analysis (and
    the standard pre-filter that collapses the graph before heavier
    iterative ops like q_graph_triangles). Each round keeps the nodes
    of degree >= 3 and then the edges between kept nodes. One lazy
    edge pass feeds one in-memory kernel that runs all six rounds
    (operators/graph.py:kcore_peel); the plan persists nothing.
    Bounding rounds makes the operator an anytime contract both
    engines state identically; on this graph the peel converges to
    the true 3-core well before 6."""
    from gasket_spark.operators.graph import kcore_peel

    return kcore_peel(_copurchase_edges(spark, sf_dir), "u", "v",
                      k=3, rounds=6).withColumnRenamed("v", "part_node")


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH c AS (
      SELECT event_type, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    g AS (
      SELECT *,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(c) OVER (PARTITION BY event_type) AS tot,
             SUM(c) OVER w AS pfx,
             CAST(row_number() OVER w AS BIGINT) AS i
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT event_type, event_id, ts,
             n * pfx - i * tot AS s_scaled,
             abs(n * pfx - i * tot) AS s_abs
      FROM g),
    m AS (
      SELECT event_type, MAX(s_abs) AS s_max FROM s GROUP BY event_type)
    SELECT s.event_type,
           MIN(s.ts) AS cp_ts,
           CAST(m.s_max AS BIGINT) AS s_max_scaled,
           CAST(MAX(CASE WHEN s.s_scaled > 0 THEN 1 ELSE -1 END)
                AS INT) AS direction
    FROM s JOIN m ON m.event_type = s.event_type
                 AND s.s_abs = m.s_max
    GROUP BY s.event_type, m.s_max
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT detection per event type — 'where did the
    level shift': the classic cumulative sum of deviations from the
    series mean, S_i = Σ_{j<=i}(c_j − mean), peaks at the most likely
    change point. Computed ENTIRELY in integer space by scaling
    through n: n·S_i = n·prefix_i − i·total — a monotone transform,
    so the argmax (and sign) are exact and partition-independent, no
    float mean ever materialized. One window pass computes prefix
    sums + per-type totals on the same (event_type) partitioning;
    the argmax is the broadcast max-join + earliest-tie pattern of
    q_concurrency_peak. At 100 TB: one shuffle, per-row state, and
    the same coarse-time-bucket sharding story as the sweep-line."""
    ev = read_table(spark, sf_dir, "events")
    c = ev.select("event_type", "event_id", "ts",
                  F.round(F.col("value") * 100).cast("bigint").alias("c"))
    wfull = (Window.partitionBy("event_type")
             .orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = (Window.partitionBy("event_type")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    g = c.select(
        "event_type", "event_id", "ts",
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("c").over(wall).alias("tot"),
        F.sum("c").over(wfull).alias("pfx"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .cast("bigint").alias("i"))
    s = g.select(
        "event_type", "event_id", "ts",
        (F.col("n") * F.col("pfx") - F.col("i") * F.col("tot"))
        .alias("s_scaled"),
        F.abs(F.col("n") * F.col("pfx") - F.col("i") * F.col("tot"))
        .alias("s_abs"))
    m = (s.groupBy("event_type").agg(F.max("s_abs").alias("s_max"))
         .withColumnRenamed("event_type", "et_m"))
    return (s.join(F.broadcast(m),
                   (F.col("event_type") == F.col("et_m"))
                   & (F.col("s_abs") == F.col("s_max")))
            .groupBy("event_type", "s_max")
            .agg(F.min("ts").alias("cp_ts"),
                 F.max(F.when(F.col("s_scaled") > 0, 1).otherwise(-1))
                 .cast("int").alias("direction"))
            .select("event_type", "cp_ts",
                    F.col("s_max").cast("bigint").alias("s_max_scaled"),
                    "direction"))


@query(
    "q_join_size_estimate",
    oracle="""
    WITH ok AS (
      SELECT o_custkey AS k, COUNT(*) AS a
      FROM orders GROUP BY o_custkey),
    ck AS (
      SELECT c_custkey AS k, COUNT(*) AS b
      FROM customer GROUP BY c_custkey),
    j AS (
      SELECT ok.k, ok.a * ck.b AS pairs,
             ('0x' || substr(md5(CAST(ok.k AS VARCHAR)), 1, 15))::BIGINT
               % 16 = 0 AS sampled
      FROM ok JOIN ck ON ck.k = ok.k)
    SELECT CAST(SUM(pairs) AS BIGINT) AS exact_pairs,
           CAST(16 * SUM(CASE WHEN sampled THEN pairs ELSE 0 END)
                AS BIGINT) AS est_pairs,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
             AS sampled_keys
    FROM j
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION by consistent key-hash sampling — the
    pre-flight a planner (or a human, before firing a 100 TB join)
    runs: |A ⋈ B| = Σ_k a_k·b_k, estimated from the 1/16 of keys
    whose md5-prefix hash lands in the sample — key sampling (not
    row sampling) keeps each key's a_k·b_k product EXACT, so the
    estimator is unbiased with variance from key-skew only. Both the
    estimate and the exact size come back in one result so the
    error is inspectable. Deterministic: the md5 hash family is the
    oracle-replicable one (functions/text.py md5_prefix_hash). Scale
    shape: two per-key count aggregates (map-side combined) + one
    key join — never the join itself."""
    from gasket_spark.functions.text import md5_prefix_hash

    ok = (read_table(spark, sf_dir, "orders")
          .groupBy(F.col("o_custkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("a")))
    ck = (read_table(spark, sf_dir, "customer")
          .groupBy(F.col("c_custkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("b")))
    j = (ok.join(ck, "k")
         .select((F.col("a") * F.col("b")).alias("pairs"),
                 (md5_prefix_hash(F.col("k")) % 16 == 0).alias("sampled")))
    return j.agg(
        F.sum("pairs").cast("bigint").alias("exact_pairs"),
        (16 * F.sum(F.when(F.col("sampled"), F.col("pairs"))
                    .otherwise(0))).cast("bigint").alias("est_pairs"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0)).cast("bigint")
        .alias("sampled_keys"))


@query(
    "q_sample_consistent",
    oracle="""
    WITH keys AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
              ::BIGINT % 20 = 0)
    SELECT k.c_mktsegment,
           COUNT(DISTINCT k.c_custkey) AS n_customers,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM keys k LEFT JOIN orders o ON o.o_custkey = k.c_custkey
    GROUP BY k.c_mktsegment
    """,
)
def q_sample_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIALLY-CONSISTENT sampling — the debug-subset trick for
    100 TB pipelines: sample by hashing the JOIN KEY (custkey), not
    rows, so the same 5% of customers survive in EVERY table and
    joins over the sample remain complete (each sampled customer
    keeps ALL their orders — no orphaned fact rows, no join-selectivity
    distortion). The md5-prefix hash family makes membership a pure
    function of the key, reproducible across engines, runs, and
    tables. Map-side filters on both sides, one equi-join, LEFT so
    zero-order customers stay visible."""
    from gasket_spark.functions.text import md5_prefix_hash

    cust = read_table(spark, sf_dir, "customer")
    keys = (cust.filter(md5_prefix_hash(F.col("c_custkey")) % 20 == 0)
            .select("c_custkey", "c_mktsegment"))
    orders = read_table(spark, sf_dir, "orders")
    return (keys.join(orders,
                      orders["o_custkey"] == keys["c_custkey"], "left")
            .groupBy("c_mktsegment")
            .agg(F.count_distinct("c_custkey").alias("n_customers"),
                 F.count("o_orderkey").alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100)
                       .cast("bigint")).cast("bigint")
                 .alias("revenue_cents")))


@query(
    "q_scalar_try_ops",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey % 5 = 0 THEN NULL
                ELSE CAST(o_orderkey AS DOUBLE) / (o_custkey % 5)
           END AS td,
           TRY_CAST(o_orderpriority AS INTEGER) AS tc_full,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS tc_first,
           CASE WHEN o_orderkey > 0 THEN NULL
                ELSE 9223372036854775807 + o_orderkey END AS ta,
           ([o_orderkey, o_orderkey + 1][CAST(o_custkey % 4 + 1 AS INT)])
             AS tea
    FROM orders
    """,
)
def q_scalar_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode SAFE-ARITHMETIC pack — the ``try_*`` family that
    turns would-be runtime errors into NULLs (the semantics a 100 TB
    batch needs: one malformed row must not kill a 6-hour job):
    try_divide (÷0 → NULL), try_cast (unparseable string → NULL, and
    the parseable prefix succeeding right next to it), try_add
    (bigint overflow → NULL), try_element_at (out-of-range index →
    NULL). The oracle states each operator's CONTRACT explicitly
    (CASE guards / TRY_CAST / native out-of-range-NULL indexing), so
    a Spark semantics drift in any try_ op breaks the hash."""
    od = read_table(spark, sf_dir, "orders")
    arr = F.array(F.col("o_orderkey"), F.col("o_orderkey") + 1)
    return od.select(
        "o_orderkey",
        F.try_divide(F.col("o_orderkey"), F.col("o_custkey") % 5)
         .alias("td"),
        F.expr("try_cast(o_orderpriority AS INT)").alias("tc_full"),
        F.expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)")
         .alias("tc_first"),
        F.try_add(F.lit(9223372036854775807), F.col("o_orderkey"))
         .alias("ta"),
        F.try_element_at(arr, (F.col("o_custkey") % 4 + 1).cast("int"))
         .alias("tea"))


@query(
    "q_basket_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
    cnt AS (SELECT pk, COUNT(*) AS c FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS c_ab
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2)
    SELECT p.part_a, p.part_b, CAST(p.c_ab AS BIGINT) AS support_cnt,
           CAST(p.c_ab * 1000000000 // ca.c AS BIGINT)
             AS confidence_ppb,
           CAST(CAST(p.c_ab AS HUGEINT) * n.n_orders * 1000000000
                // (ca.c * cb.c) AS BIGINT) AS lift_ppb
    FROM pairs p
    JOIN cnt ca ON ca.pk = p.part_a
    JOIN cnt cb ON cb.pk = p.part_b
    CROSS JOIN n
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules (frequent pairs + confidence +
    lift) over order baskets — the co-occurrence mining family
    (q_collocations' PMI for text, restated for transactions with
    the support/confidence/lift vocabulary). Pair generation is the
    same self-equi-join-on-basket shape as the co-purchase graph —
    O(Σ basket²), bounded by basket size, never corpus×corpus; a
    support floor (≥2) prunes before the per-item count attach; both
    stats tables are item-sized (broadcast). All counts exact
    integers; confidence/lift are ONE truncating integer division
    each in parts-per-billion (Spark ``div`` ≡ DuckDB ``//``), the
    lift numerator widened to decimal(38)/HUGEINT before the triple
    multiply — no float anywhere (the r8 fixed-point rule retiring
    round(x, 9))."""
    li = read_table(spark, sf_dir, "lineitem")
    items = (li.filter(F.col("l_orderkey") % 10 == 0)
             .select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("pk")).distinct())
    # n_orders joins as a broadcast 1-row aggregate (the
    # q_decayed_topk shape) — no eager driver-side count job, and
    # the plan stays lazy/self-contained
    n = items.agg(F.count_distinct("ok").alias("n_orders"))
    cnt = items.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    a = items.select(F.col("ok"), F.col("pk").alias("part_a"))
    b = items.select(F.col("ok"), F.col("pk").alias("part_b"))
    pairs = (a.join(b, "ok")
             .filter(F.col("part_a") < F.col("part_b"))
             .groupBy("part_a", "part_b")
             .agg(F.count(F.lit(1)).alias("c_ab"))
             .filter(F.col("c_ab") >= 2))
    ca = cnt.select(F.col("pk").alias("part_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("pk").alias("part_b"), F.col("c").alias("cb"))
    return (pairs.join(F.broadcast(ca), "part_a")
            .join(F.broadcast(cb), "part_b")
            .crossJoin(F.broadcast(n))
            .select(
                "part_a", "part_b",
                F.col("c_ab").cast("bigint").alias("support_cnt"),
                F.expr("c_ab * 1000000000 div ca")
                .alias("confidence_ppb"),
                F.expr("CAST(c_ab AS DECIMAL(38,0)) * n_orders"
                       " * 1000000000 div (ca * cb)")
                .alias("lift_ppb")))


@query(
    "q_period_over_period",
    oracle="""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events GROUP BY 1, 2)
    SELECT event_type, day, rev_cents,
           lag(rev_cents) OVER w AS prev_cents,
           CAST(CAST(rev_cents - lag(rev_cents) OVER w AS HUGEINT)
                * 1000000000
                // nullif(lag(rev_cents) OVER w, 0) AS BIGINT)
             AS pct_change_ppb
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIOD-OVER-PERIOD change — the BI time-intelligence staple
    (day-over-day revenue delta per event type): daily integer-cents
    rollup, then lag + ONE truncating integer division per row in
    parts-per-billion (Spark ``div`` ≡ DuckDB ``//``; numerator
    widened to decimal(38)/HUGEINT, zero baseline NULL-guarded
    identically on both sides — the r8 fixed-point rule retiring
    round(x, 9)). First day per type is NULL (no fabricated
    baseline). Two-phase agg into a tiny (type, day) table, then a
    window over it — the window input is grain-sized, not
    event-sized, so the sort is negligible at any corpus size."""
    ev = read_table(spark, sf_dir, "events")
    d = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
         .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
              .cast("bigint").alias("rev_cents")))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("rev_cents").over(w)
    return (d.withColumn("prev_cents", prev)
            .select("event_type", "day", "rev_cents", "prev_cents",
                    F.expr("CAST(rev_cents - prev_cents AS"
                           " DECIMAL(38,0)) * 1000000000"
                           " div nullif(prev_cents, 0)")
                    .alias("pct_change_ppb")))


@query(
    "q_rolling_distinct",
    oracle="""
    WITH uh AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM events),
    contrib AS (
      SELECT uh.user_id,
             uh.h + unnest(generate_series(0, 23)) * INTERVAL 1 HOUR
               AS bucket
      FROM uh)
    SELECT c.bucket, COUNT(DISTINCT c.user_id) AS active_users
    FROM contrib c CROSS JOIN bounds b
    WHERE c.bucket <= b.h1
    GROUP BY c.bucket
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 24-HOUR DISTINCT users per hour (sliding MAU/DAU) —
    the holistic sliding COUNT DISTINCT no window frame computes at
    scale. The distributed shape: dedupe to (user, hour) presence
    rows, then each presence CONTRIBUTES itself to the 24 hourly
    buckets whose trailing window contains it (a bounded 24× explode
    of the deduped presence table — NOT of raw events), and a plain
    count-distinct per bucket finishes. One dedup shuffle + one
    count-distinct shuffle, both on bounded keys; at 100 TB the
    presence table is |users|×|hours| and the 24× fan-out stays
    map-side. Buckets past the data's last hour are trimmed (their
    windows are incomplete only at the leading edge, matching the
    'trailing 24h as of hour b' definition)."""
    ev = read_table(spark, sf_dir, "events")
    uh = (ev.select("user_id",
                    F.date_trunc("hour", "ts").alias("h")).distinct())
    b = ev.agg(F.date_trunc("hour", F.max("ts")).alias("h1"))
    contrib = uh.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("i"),
        "h").select(
        "user_id",
        F.expr("timestampadd(HOUR, i, h)").alias("bucket"))
    return (contrib.crossJoin(F.broadcast(b))
            .filter(F.col("bucket") <= F.col("h1"))
            .groupBy("bucket")
            .agg(F.count_distinct("user_id").alias("active_users")))


@query(
    "q_join_spatial_grid",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             (user_id % 5) * 2000 + (user_id * 37) % 997 AS x,
             (user_id % 7) * 2000 + (user_id * 61) % 997 AS y
      FROM (SELECT DISTINCT user_id FROM events))
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             AS dist_sq
    FROM pts a JOIN pts b ON a.user_id < b.user_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 1500 * 1500
    """,
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED SPATIAL PROXIMITY JOIN — radius search without
    the all-pairs cross join: each point lands in a cell of side =
    radius, one side explodes to its 3x3 cell neighborhood (any pair
    within r is at most one cell apart per axis — the coverage
    guarantee), candidates equi-join ON THE CELL, and the exact
    integer distance check keeps true pairs only. The oracle is the
    BRUTE-FORCE quadratic join — so the hash check proves the grid
    pruning loses nothing (the property that matters before trusting
    it at 100 TB, where the grid join is O(points x density) vs
    brute-force's O(n²)). Coordinates are synthetic-but-deterministic
    integers derived from user_id; each candidate pair matches in
    exactly one (b-cell) bucket, so no dedup pass is needed."""
    ev = read_table(spark, sf_dir, "events")
    pts = (ev.select("user_id").distinct()
           .select("user_id",
                   ((F.col("user_id") % 5) * 2000
                    + (F.col("user_id") * 37) % 997).alias("x"),
                   ((F.col("user_id") % 7) * 2000
                    + (F.col("user_id") * 61) % 997).alias("y")))
    cell = 1500
    a = pts.select(
        F.col("user_id").alias("user_a"),
        F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dx"),
        (F.floor(F.col("x") / cell)).alias("cx0"),
        (F.floor(F.col("y") / cell)).alias("cy0"))
    a = a.select(
        "user_a", "ax", "ay",
        (F.col("cx0") + F.col("dx")).alias("cx"),
        F.explode(F.array(*[(F.col("cy0") + F.lit(i))
                            for i in (-1, 0, 1)])).alias("cy"))
    b = pts.select(
        F.col("user_id").alias("user_b"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.floor(F.col("x") / cell).alias("cx"),
        F.floor(F.col("y") / cell).alias("cy"))
    dsq = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
           + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    return (a.join(b, ["cx", "cy"])
            .filter(F.col("user_a") < F.col("user_b"))
            .filter(dsq <= cell * cell)
            .select("user_a", "user_b", dsq.alias("dist_sq")))


@query(
    "q_decayed_topk",
    oracle="""
    WITH m AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01',
                            date_trunc('day', max(ts))) AS BIGINT)
        AS max_age FROM events),
    w AS (
      SELECT e.user_id,
             SUM(CAST(round(e.value * 100) AS BIGINT)
                 * (CAST(1 AS BIGINT) << CAST(m.max_age
                    - date_diff('day', TIMESTAMP '2024-01-01',
                                date_trunc('day', e.ts)) AS INT)))
               AS decayed_fp
      FROM events e CROSS JOIN m
      WHERE e.event_type = 'purchase'
        AND m.max_age - date_diff('day', TIMESTAMP '2024-01-01',
                                  date_trunc('day', e.ts)) <= 30
      GROUP BY e.user_id)
    SELECT user_id, CAST(decayed_fp AS BIGINT) AS decayed_fp,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            ORDER BY decayed_fp DESC, user_id) AS rnk FROM w)
    WHERE rnk <= 10
    """,
)
def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAYED leaderboard (half-life = 1 day) in EXACT fixed
    point: each purchase contributes cents · 2^(max_age − age_days) —
    integer shifts, so the decayed scores are exact integers whose
    ORDER is identical to the real 2^-age decay (global scaling by
    2^max_age is monotone), no float accumulation anywhere. The
    recency-weighted ranking every feed/trending surface needs,
    reduced to one map-side weight + one grouped sum + top-10
    (TakeOrdered). The leaderboard is DEFINED over the trailing
    31-day window (``wexp <= 30``, enforced in BOTH engines), which
    structurally bounds the shift: cents·2^30 stays far under 2^63
    regardless of how wide the fixture's time span grows — a wider
    span changes which events qualify, never silently wraps a score
    (Spark's shiftleft masks the shift amount mod 64; DuckDB's <<
    doesn't — unguarded they'd diverge past 63 half-lives)."""
    ev = read_table(spark, sf_dir, "events")
    base = F.lit("2024-01-01").cast("timestamp")
    age = F.datediff(F.date_trunc("day", F.col("ts")), base)
    m = (ev.agg(F.datediff(F.date_trunc("day", F.max("ts")), base)
                .cast("bigint").alias("max_age")))
    w = (ev.filter(F.col("event_type") == "purchase")
         .crossJoin(F.broadcast(m))
         .withColumn("wexp", (F.col("max_age") - age).cast("int"))
         .filter(F.col("wexp") <= 30)
         .groupBy("user_id")
         .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")
                    * F.expr("shiftleft(CAST(1 AS BIGINT), wexp)"))
              .alias("decayed_fp")))
    # top-10 via orderBy+limit (plans TakeOrderedAndProject — never a
    # single-partition global window); the rank window then runs on
    # the 10 surviving rows only
    top = (w.orderBy(F.col("decayed_fp").desc(), F.col("user_id"))
           .limit(10))
    win = Window.orderBy(F.col("decayed_fp").desc(), F.col("user_id"))
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .select("user_id",
                    F.col("decayed_fp").cast("bigint").alias("decayed_fp"),
                    "rank"))


@query(
    "q_feature_scale",
    oracle="""
    WITH d AS (
      SELECT vec_id, i.i AS dim,
             CAST(round(CAST(embedding[i.i + 1] AS DOUBLE) * 1e6)
                  AS BIGINT) AS v
      FROM embeddings, (SELECT unnest(range(0, 3)) AS i) i),
    s AS (
      SELECT dim, COUNT(*) AS n,
             CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(v * v) AS VARCHAR) AS DOUBLE) AS s2
      FROM d GROUP BY dim)
    SELECT d.vec_id, d.dim,
           CAST(floor((d.v - s.s1 / s.n)
                      / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))
                      * 1e9 + 0.5) AS BIGINT) AS z_nano
    FROM d JOIN s ON s.dim = d.dim
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION FEATURE STANDARDIZATION (z-score the first 3
    embedding dimensions) — the fit+transform pattern of large-scale
    feature engineering: dimension stats from exact integer micro-
    unit sums (one two-phase agg over an exploded (vec, dim) view),
    broadcast back, one map-side transform. The explode is bounded
    (x3 here, x dim generally); the stats table is dim-sized. Same
    float discipline as q_agg_moments: exact integer sums → one
    closed-form double expression → floor(x·1e9 + 0.5) nano-units
    (exact on doubles; no engine decimal rounding)."""
    emb = read_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", "embedding",
        F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("dim")
    ).withColumn(
        "v", F.round(F.element_at("embedding", (F.col("dim") + 1)
                                  .cast("int")).cast("double") * 1e6)
        .cast("bigint")).drop("embedding")
    s = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).cast("double")
        .alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
        .cast("double").alias("s2"))
    mean = F.col("s1") / F.col("n")
    return (d.join(F.broadcast(s), "dim")
            .select("vec_id", "dim",
                    F.floor((F.col("v") - mean)
                            / F.sqrt(F.col("s2") / F.col("n")
                                     - mean * mean)
                            * F.lit(1e9) + F.lit(0.5))
                    .alias("z_nano")))


def _labelprop_oracle_sql(rounds: int = 3) -> str:
    """Unrolled synchronous label propagation in ANSI SQL (MATERIALIZED
    CTEs — each round table is referenced by the next two): per round
    each node takes the MODE of its neighbors' labels, ties to the
    smallest label; isolated behavior is impossible (every node in the
    edge list has degree >= 1). Deterministic and engine-identical."""
    parts = [f"""
    WITH {_BFS_EDGE_SQL},
    und AS MATERIALIZED (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v AS src, u AS dst FROM e),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM und)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    c{r} AS MATERIALIZED (
      SELECT nd.dst AS node, lp.label, COUNT(*) AS cnt
      FROM und nd JOIN l{r - 1} lp ON lp.node = nd.src
      GROUP BY nd.dst, lp.label),
    l{r} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label, row_number() OVER (
          PARTITION BY node ORDER BY cnt DESC, label) AS rk
        FROM c{r}) WHERE rk = 1)""")
    parts.append(f"""
    SELECT label AS community, COUNT(*) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node
    FROM l{rounds} GROUP BY label""")
    return "".join(parts)


@query("q_graph_labelprop", oracle=_labelprop_oracle_sql())
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation (3
    rounds) on the part co-purchase graph — the mode-of-neighbors
    dynamics that finds densely-connected clusters, where
    q_dedup_components' min-label finds mere reachability. Each
    round is one edge⋈label join + one (node, label) count + one
    per-node arg-max (deterministic: ties to the smallest label —
    synchronous updates + total-order tie-break make the fixture's
    'random' algorithm exactly reproducible). One lazy edge pass
    feeds one in-memory kernel that runs all three rounds
    (operators/graph.py:label_propagation); the plan persists
    nothing. Output aggregates to (community, size, min member) so
    the full labeling is pinned without a |V|-row result."""
    from gasket_spark.operators.graph import label_propagation

    labels = label_propagation(_copurchase_edges(spark, sf_dir), "u", "v",
                               rounds=3)
    return (labels.groupBy(F.col("label").alias("community"))
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.min("v").cast("bigint").alias("min_node")))


@query(
    "q_time_to_convert",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id)
                       <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS brk
      FROM events),
    i AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    s AS (
      SELECT user_id, CAST(sid AS INT) AS session_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             COUNT(*) AS n_events
      FROM i GROUP BY user_id, sid)
    SELECT user_id, session_id, n_events, first_view,
           CASE WHEN first_view IS NOT NULL
                 AND first_purchase > first_view
                THEN CAST(date_diff('second', first_view,
                                    first_purchase) AS BIGINT)
           END AS secs_to_convert
    FROM s
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION TIME-TO-CONVERT — seconds from a session's first view
    to its first subsequent purchase (NULL when it never converts or
    purchases precede any view): the funnel-latency companion to
    q_pattern_match on the same 30-minute sessionization. One
    shuffle on user_id; both anchors come from conditional MINs in
    the same grouped aggregate (no per-stage self-joins); the delta
    is exact integer seconds."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    brk = F.when(gap <= F.expr("INTERVAL 30 MINUTES"), 0).otherwise(1)
    sid = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = (ev.withColumn("sid", sid)
         .groupBy("user_id",
                  F.col("sid").cast("int").alias("session_id"))
         .agg(F.min(F.when(F.col("event_type") == "view",
                           F.col("ts"))).alias("first_view"),
              F.min(F.when(F.col("event_type") == "purchase",
                           F.col("ts"))).alias("first_purchase"),
              F.count(F.lit(1)).alias("n_events")))
    delta = (F.unix_timestamp("first_purchase")
             - F.unix_timestamp("first_view")).cast("bigint")
    return s.select(
        "user_id", "session_id", "n_events", "first_view",
        F.when(F.col("first_view").isNotNull()
               & (F.col("first_purchase") > F.col("first_view")),
               delta).alias("secs_to_convert"))


# ---------------------------------------------------------------------------
# round 7: conditional aggregates (TPC-H Q6/Q14 shapes), discrete
# percentiles, grid density, attribution removal effects
# ---------------------------------------------------------------------------

@query(
    "q_sql_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_fp,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q_sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast-revenue-change): a pure filtered
    aggregate whose entire cost is the scan — shipdate + quantity
    predicates push to the parquet footers (PushedFilters, pinned in
    tests/test_plans.py), the 4-column ReadSchema prunes the other 12,
    and ONE partial+final agg pair reduces everything map-side; no
    join, no wide shuffle, so at 100 TB the runtime is IO-bound by
    row groups that survive min/max pruning. Revenue is summed in
    exact fixed point (cents × discount-percent, both pre-rounded
    integers — the discount filter itself compares the INTEGER
    percent, sidestepping float-literal equality across engines)."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & disc.between(5, 7) & (F.col("l_quantity") < 24))
        .agg(F.sum(cents * disc).cast("bigint").alias("revenue_fp"),
             F.count(F.lit(1)).alias("n_items")))


@query(
    "q_sql_promo_share",
    oracle="""
    WITH j AS (
      SELECT date_trunc('month', l.l_shipdate) AS ship_month,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents,
             CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS is_promo
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'),
    g AS (
      SELECT ship_month,
             CAST(SUM(CASE WHEN is_promo = 1 THEN cents ELSE 0 END)
                  AS BIGINT) AS promo_cents,
             CAST(SUM(cents) AS BIGINT) AS total_cents
      FROM j GROUP BY ship_month)
    SELECT ship_month, promo_cents, total_cents,
           CASE WHEN total_cents <> 0
                THEN CAST((CAST(promo_cents AS HUGEINT) * 100000000000)
                          // total_cents AS BIGINT)
           END AS promo_pct_ppb
    FROM g
    """,
)
def q_sql_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion-effect): the CONDITIONAL aggregate —
    CASE WHEN inside SUM — computing promo revenue share per ship
    month. The part dimension broadcasts (explicit hint: its size is
    known by schema, unlike the data-dependent sets behind
    semi_join_auto), so the fact table makes one narrow pass:
    filter → broadcast join → two-phase agg with BOTH conditional
    sums folded into the same partial aggregate (one shuffle of
    month-sized partials, never rows). Numerator and denominator stay
    exact integer cents; the share is FIXED-POINT percent×1e9
    (integer div, widened before the ×1e11) — no engine-rounded
    double leaves the query."""
    li = read_table(spark, sf_dir, "lineitem")
    pt = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("bigint")
    j = (li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
         .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
         .select(F.date_trunc("month", "l_shipdate").alias("ship_month"),
                 cents.alias("cents"),
                 F.col("p_type").like("PROMO%").alias("is_promo")))
    g = (j.groupBy("ship_month")
         .agg(F.sum(F.when(F.col("is_promo"), F.col("cents"))
                    .otherwise(0)).cast("bigint").alias("promo_cents"),
              F.sum("cents").cast("bigint").alias("total_cents")))
    return g.select(
        "ship_month", "promo_cents", "total_cents",
        F.when(F.col("total_cents") != 0,
               F.expr("(CAST(promo_cents AS DECIMAL(38,0)) "
                      "* 100000000000) div total_cents"))
        .alias("promo_pct_ppb"))


@query(
    "q_agg_percentile_disc",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    p AS (SELECT UNNEST([25, 50, 75, 95]) AS pct)
    SELECT r.event_type, p.pct,
           CAST(floor(r.value * 1e9 + 0.5) AS BIGINT) AS pct_value_nano
    FROM r CROSS JOIN p
    WHERE r.rn = (p.pct * r.n + 99) // 100
    """,
)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc semantics: the smallest
    actual value whose rank covers p — never interpolated, so the
    result is always a real observation) at p ∈ {25,50,75,95} per
    event type. Twin of q_agg_percentile's continuous quantiles. The
    rank arithmetic is ALL-INTEGER on both engines — rn = ⌈p·n/100⌉
    computed as (p·n + 99) div 100 — so no float rank can straddle a
    boundary differently across engines. Plan: one shuffle on
    event_type for the rank window, then a map-side explode(4) +
    filter; ties in value are rank-order-free because the value AT a
    given rank is unique regardless of how row_number broke the tie."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    wn = (Window.partitionBy("event_type")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    r = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    pcts = F.explode(F.array(*[F.lit(p) for p in (25, 50, 75, 95)]))
    return (r.withColumn("pct", pcts)
            .filter(F.col("rn")
                    == F.expr("(pct * n + 99) div 100"))
            .select("event_type", "pct",
                    F.floor(F.col("value") * F.lit(1e9) + F.lit(0.5))
                    .alias("pct_value_nano")))


@query(
    "q_join_grid_density",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             (user_id % 5) * 2000 + (user_id * 37) % 997 AS x,
             (user_id % 7) * 2000 + (user_id * 61) % 997 AS y
      FROM (SELECT DISTINCT user_id FROM events)),
    cells AS (
      SELECT CAST(floor(x / 1500.0) AS BIGINT) AS cx,
             CAST(floor(y / 1500.0) AS BIGINT) AS cy,
             COUNT(*) AS n_points
      FROM pts GROUP BY 1, 2),
    nb AS (
      SELECT c.cx + dx.dx AS cx, c.cy + dy.dy AS cy,
             CAST(SUM(c.n_points) AS BIGINT) AS n_nbhd
      FROM cells c,
           (SELECT UNNEST([-1, 0, 1]) AS dx) dx,
           (SELECT UNNEST([-1, 0, 1]) AS dy) dy
      GROUP BY 1, 2)
    SELECT c.cx, c.cy, c.n_points, nb.n_nbhd,
           CAST((CAST(c.n_points AS HUGEINT) * 1000000000) // nb.n_nbhd
                AS BIGINT) AS density_ppb
    FROM cells c JOIN nb ON nb.cx = c.cx AND nb.cy = c.cy
    """,
)
def q_join_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CELL DENSITY STATS over the q_join_spatial_grid geometry:
    each cell's point count plus its 3×3-neighborhood total (the
    local-density denominator a spatial sampler or hotspot detector
    needs). The key scale property: the neighborhood convolution runs
    on the CELL AGGREGATE (|cells| rows), never on points — points
    are reduced to cells in one two-phase agg, then the 9-offset
    explode + re-agg touches only cell-sized data, so the whole
    smoothing step is O(|cells|·9) regardless of corpus size. The
    density ratio is emitted as FIXED-POINT parts-per-billion
    (integer division over exact integer counts, widened to
    decimal(38,0)/HUGEINT before the ×1e9) — no double leaves this
    query. The r7/r8 driver reds were NOT the double path: the
    oracle's bare `SUM(c.n_points)` typed HUGEINT, which DuckDB's
    pandas conversion renders as float64 (9.0 vs Spark's int64 9 →
    hash red with rows+schema green). The oracle now CASTs that SUM
    to BIGINT; a registry-wide schema audit (tests/test_oracle_types)
    pins the whole class out."""
    ev = read_table(spark, sf_dir, "events")
    cell = 1500
    pts = (ev.select("user_id").distinct()
           .select(((F.col("user_id") % 5) * 2000
                    + (F.col("user_id") * 37) % 997).alias("x"),
                   ((F.col("user_id") % 7) * 2000
                    + (F.col("user_id") * 61) % 997).alias("y")))
    cells = (pts.groupBy(
                F.floor(F.col("x") / cell).cast("bigint").alias("cx"),
                F.floor(F.col("y") / cell).cast("bigint").alias("cy"))
             .agg(F.count(F.lit(1)).alias("n_points")))
    offs = [F.lit(i) for i in (-1, 0, 1)]
    nb = (cells
          .withColumn("dx", F.explode(F.array(*offs)))
          .withColumn("dy", F.explode(F.array(*offs)))
          .groupBy((F.col("cx") + F.col("dx")).alias("cx"),
                   (F.col("cy") + F.col("dy")).alias("cy"))
          .agg(F.sum("n_points").alias("n_nbhd")))
    return (cells.join(nb, ["cx", "cy"])
            .select("cx", "cy", "n_points", "n_nbhd",
                    F.expr("(CAST(n_points AS DECIMAL(38,0)) "
                           "* 1000000000) div n_nbhd")
                    .alias("density_ppb")))


@query(
    "q_attribution_removal",
    oracle="""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    touched AS (
      SELECT DISTINCT e.user_id, e.event_type AS channel
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE e.ts < c.first_purchase AND e.event_type <> 'purchase'),
    tot AS (SELECT COUNT(*) AS n_conv FROM conv),
    ch AS (SELECT channel, COUNT(*) AS n_touched
           FROM touched GROUP BY channel),
    s AS (SELECT SUM(n_touched) AS total_touches FROM ch)
    SELECT ch.channel, ch.n_touched, tot.n_conv,
           CAST((CAST(ch.n_touched AS HUGEINT) * 1000000000)
                // tot.n_conv AS BIGINT) AS removal_ppb,
           CAST((CAST(ch.n_touched AS HUGEINT) * 1000000000)
                // s.total_touches AS BIGINT) AS share_ppb
    FROM ch CROSS JOIN tot CROSS JOIN s
    """,
)
def q_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMOVAL-EFFECT attribution over pre-conversion journeys — the
    counting core of Markov-chain attribution (companion to
    q_markov_transitions' transition matrix): a channel's removal
    effect is the fraction of conversions whose path would be BLOCKED
    if the channel vanished, estimated path-exactly as converters who
    touched the channel strictly before their first purchase / all
    converters (the path-blocking estimator; the full absorbing-chain
    solve refines the same counts). attribution_share renormalizes to
    a budget split. Plan: one agg for first-purchase, one key-key
    join on user_id (no hint — both sides are user-cardinality; AQE
    picks), one distinct + one channel-sized agg; the two 1-row
    scalars broadcast, and their repeated subtrees dedup at runtime
    via ReusedExchange (verified in the final adaptive plan — no
    extra corpus scans). Every output is exact counting; the two
    shares are FIXED-POINT parts-per-billion (integer div, widened
    before the ×1e9) — no engine-rounded double leaves the query."""
    ev = read_table(spark, sf_dir, "events")
    conv = (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.min("ts").alias("first_purchase")))
    touched = (ev.filter(F.col("event_type") != "purchase")
               .join(conv, "user_id")
               .filter(F.col("ts") < F.col("first_purchase"))
               .select("user_id", F.col("event_type").alias("channel"))
               .distinct())
    tot = conv.agg(F.count(F.lit(1)).alias("n_conv"))
    ch = touched.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touched"))
    s = ch.agg(F.sum("n_touched").alias("total_touches"))
    return (ch.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(s))
            .select("channel", "n_touched", "n_conv",
                    F.expr("(CAST(n_touched AS DECIMAL(38,0)) "
                           "* 1000000000) div n_conv")
                    .alias("removal_ppb"),
                    F.expr("(CAST(n_touched AS DECIMAL(38,0)) "
                           "* 1000000000) div total_touches")
                    .alias("share_ppb")))


@query(
    "q_agg_corr",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(CAST(round(l_quantity) AS BIGINT) AS HUGEINT) AS x,
             CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                  AS HUGEINT) AS y
      FROM lineitem),
    s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS ix, SUM(y) AS iy, SUM(x * y) AS ixy,
             SUM(x * x) AS ixx, SUM(y * y) AS iyy
      FROM c GROUP BY l_returnflag),
    d AS (
      SELECT l_returnflag, n, ix, iy, ixy, ixx, iyy,
             CAST(CAST(ix AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(iy AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(ixy AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(ixx AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(iyy AS VARCHAR) AS DOUBLE) AS syy
      FROM s)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN CAST(floor((n * sxy - sx * sy)
                                / sqrt((n * sxx - sx * sx)
                                       * (n * syy - sy * sy))
                                * 1e9 + 0.5) AS BIGINT)
           END AS corr_nano,
           CASE WHEN n > 1
                THEN CAST((CAST(n AS HUGEINT) * ixy - ix * iy)
                          * 1000000 // (CAST(n AS HUGEINT) * (n - 1))
                          AS BIGINT)
           END AS cov_micro
    FROM d
    """,
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + sample covariance between
    quantity and price from EXACT integer power sums — the same
    mergeable-moments pattern as q_agg_moments (one partial+final agg
    pair, k tiny rows shuffled), extended to the CROSS moment Σxy.
    Inputs are widened to decimal(38,0)/HUGEINT before any multiply
    (Σy² alone passes 2^63 at sf0.1); cov is an EXACT integer
    quotient in micro-units and corr a floor-scaled nano integer over
    the engine-identical double expression — no decimal rounding of a
    double anywhere (the r7 grid-density red's lesson). Spark's
    built-in corr() is a float accumulator whose result depends on
    partition association order — this formulation is bit-stable
    under any partitioning."""
    li = read_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint").cast("decimal(38,0)")
    y = (F.round(F.col("l_extendedprice") * 100)
         .cast("bigint").cast("decimal(38,0)"))
    c = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("ix"),
        F.sum("y").alias("iy"),
        F.sum(F.col("x") * F.col("y")).alias("ixy"),
        F.sum(F.col("x") * F.col("x")).alias("ixx"),
        F.sum(F.col("y") * F.col("y")).alias("iyy"))
    d = s.select(
        "l_returnflag", "n", "ix", "iy", "ixy",
        F.col("ix").cast("double").alias("sx"),
        F.col("iy").cast("double").alias("sy"),
        F.col("ixy").cast("double").alias("sxy"),
        F.col("ixx").cast("double").alias("sxx"),
        F.col("iyy").cast("double").alias("syy"))
    n = F.col("n")
    # NULL (not NaN/Inf) on degenerate groups: a zero-variance group
    # or n = 1 would reach IEEE 0/0 or x/0, whose NaN/Inf encodings
    # are not hash-comparable across engines — both sides guard
    # identically instead. corr is floor-scaled to nano-units (both
    # engines run the IDENTICAL double expression, then floor(x*1e9
    # + 0.5) — exact on doubles — so no decimal-rounding algorithm
    # is ever invoked); cov is an EXACT integer quotient
    # (n·Σxy − Σx·Σy)·1e6 div n(n−1) in decimal(38,0)/HUGEINT.
    var_prod = ((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy")))
    return d.select(
        "l_returnflag", n.cast("bigint").alias("n"),
        F.when(var_prod > 0,
               F.floor((n * F.col("sxy") - F.col("sx") * F.col("sy"))
                       / F.sqrt(var_prod) * F.lit(1e9) + F.lit(0.5)))
        .alias("corr_nano"),
        F.when(n > 1,
               F.expr("(n * ixy - ix * iy) * 1000000 "
                      "div (CAST(n AS DECIMAL(38,0)) * (n - 1))"))
        .alias("cov_micro"))


@query(
    "q_anomaly_mad",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 1e6) AS BIGINT) AS v
      FROM events),
    m AS (
      SELECT event_type, quantile_cont(v, 0.5) AS med
      FROM c GROUP BY event_type),
    d AS (
      SELECT c.event_id, c.event_type,
             CAST(abs(2 * c.v - CAST(round(2 * m.med) AS BIGINT))
                  AS BIGINT) AS dev2
      FROM c JOIN m ON m.event_type = c.event_type),
    md AS (
      SELECT event_type, quantile_cont(dev2, 0.5) AS mad2
      FROM d GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.dev2, md.mad2,
           d.dev2 > 3 * md.mad2 AS is_outlier
    FROM d JOIN md ON md.event_type = d.event_type
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN-ABSOLUTE-DEVIATION outlier flags per event type — the
    robust third leg of the anomaly family (zscore is mean-based,
    IQR is quartile-based; MAD survives 50% contamination). The
    doubled-deviation trick keeps everything in EXACT integer space:
    values scale to micro-units, the median of integers is integer-
    or half-valued, so 2·|v − med| = |2v − 2med| is an exact BIGINT —
    the second (MAD) percentile again runs over integers, and the
    3-sigma-equivalent cut compares exactly. Two group-sized
    broadcast joins; the corpus makes two narrow passes (the two
    medians are inherently sequential)."""
    ev = read_table(spark, sf_dir, "events")
    c = ev.select("event_id", "event_type",
                  F.round(F.col("value") * 1e6).cast("bigint").alias("v"))
    m = c.groupBy("event_type").agg(
        F.percentile("v", F.lit(0.5)).alias("med"))
    d = (c.join(F.broadcast(m), "event_type")
         .select("event_id", "event_type",
                 F.abs(2 * F.col("v")
                       - F.round(2 * F.col("med")).cast("bigint"))
                 .alias("dev2")))
    md = d.groupBy("event_type").agg(
        F.percentile("dev2", F.lit(0.5)).alias("mad2"))
    return (d.join(F.broadcast(md), "event_type")
            .select("event_id", "event_type", "dev2", "mad2",
                    (F.col("dev2") > 3 * F.col("mad2"))
                    .alias("is_outlier")))


@query(
    "q_seq_trigrams",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type AS t0,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS n
    FROM s WHERE t2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
)
def q_seq_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral PATH MINING: top-20 event-type trigrams across user
    journeys — the order-3 extension of q_markov_transitions' bigram
    matrix (funnel discovery, anomalous-flow detection). ONE window
    shuffle on user_id serves both LEADs via the same sort, the
    trigram paths reduce through a two-phase count (|types|³ ≤ 125
    partials), and top-20 plans as TakeOrderedAndProject — no global
    sort ever materializes."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"))
    return (s.filter(F.col("t2").isNotNull())
            .select(F.concat_ws(">", "t0", "t1", "t2").alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "path").limit(20))


@query(
    "q_pareto_share",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey, c.c_custkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    w AS (
      SELECT c_nationkey, c_custkey, cents,
             CAST(SUM(cents) OVER (
               PARTITION BY c_nationkey ORDER BY cents DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_cents,
             CAST(SUM(cents) OVER (PARTITION BY c_nationkey)
               AS BIGINT) AS nation_cents,
             row_number() OVER (
               PARTITION BY c_nationkey ORDER BY cents DESC, c_custkey)
               AS rnk
      FROM rev)
    SELECT c_nationkey, c_custkey, cents, CAST(rnk AS INT) AS rnk,
           CASE WHEN nation_cents <> 0
                THEN CAST((CAST(cum_cents AS HUGEINT) * 1000000000)
                          // nation_cents AS BIGINT)
           END AS cum_share_ppb,
           cum_cents * 10 <= nation_cents * 8 AS in_head
    FROM w
    """,
)
def q_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE CONCENTRATION (Pareto / 80-20 analysis) per nation:
    each customer's running cumulative share of their nation's
    revenue (FIXED-POINT ppb — integer div, widened before the ×1e9),
    ranked by spend, with the 80%-head flag decided by
    INTEGER cross-multiplication (cum·10 ≤ total·8 — no float
    boundary can flip membership across engines). The windows are
    PARTITIONED by nation — the global-Pareto anti-pattern (one
    unpartitioned running sum = single-partition exchange) never
    appears; at 100 TB each nation's ledger sorts independently.
    One join-agg to customer grain, then one window shuffle."""
    cust = read_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    orders = read_table(spark, sf_dir, "orders") \
        .select("o_custkey", "o_totalprice")
    rev = (orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_nationkey", "c_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint").alias("cents")))
    wo = (Window.partitionBy("c_nationkey")
          .orderBy(F.desc("cents"), "c_custkey"))
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = (Window.partitionBy("c_nationkey")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    w = rev.select(
        "c_nationkey", "c_custkey", "cents",
        F.sum("cents").over(wcum).cast("bigint").alias("cum_cents"),
        F.sum("cents").over(wall).cast("bigint").alias("nation_cents"),
        F.row_number().over(wo).alias("rnk"))
    return w.select(
        "c_nationkey", "c_custkey", "cents",
        F.col("rnk").cast("int").alias("rnk"),
        F.when(F.col("nation_cents") != 0,
               F.expr("(CAST(cum_cents AS DECIMAL(38,0)) "
                      "* 1000000000) div nation_cents"))
        .alias("cum_share_ppb"),
        (F.col("cum_cents") * 10 <= F.col("nation_cents") * 8)
        .alias("in_head"))


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             date_diff('microsecond', ts,
                       LEAD(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS dur
      FROM events)
    SELECT user_id, COUNT(*) AS n_intervals,
           CAST(SUM(cents * dur) AS BIGINT) AS num_cents_us,
           CAST(SUM(dur) AS BIGINT) AS den_us,
           CAST((CAST(SUM(cents * dur) AS HUGEINT) * 1000000)
                // SUM(dur) AS BIGINT) AS twa_microcents
    FROM s WHERE dur IS NOT NULL
    GROUP BY user_id HAVING SUM(dur) > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE (TWAP-style) per user: each observation
    holds until the next one, so its weight is the EXACT microsecond
    gap to the successor (sub-second components matter — the fixture
    has them — so second-truncated math would drift between engines).
    One window shuffle for the LEAD + one two-phase agg; weights and
    the num/den accumulators are exact integers, and the average is
    emitted as FIXED-POINT microcents (integer div over the exact
    num/den, widened before the ×1e6 — the r7 grid-density red showed
    round()-on-double is engine-build-dependent, so the raw num/den
    pair plus an integer quotient replace it). The last observation
    per user carries no
    duration and is excluded — the standard left-continuous step
    integral every monitoring/billing pipeline computes."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp"))).alias("dur"))
    return (s.filter(F.col("dur").isNotNull())
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.sum(F.col("cents") * F.col("dur")).cast("bigint")
                 .alias("num_cents_us"),
                 F.sum("dur").cast("bigint").alias("den_us"))
            .filter(F.col("den_us") > 0)
            .select("user_id", "n_intervals", "num_cents_us", "den_us",
                    F.expr("(CAST(num_cents_us AS DECIMAL(38,0)) "
                           "* 1000000) div den_us")
                    .alias("twa_microcents")))


@query(
    "q_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate),
                            (SELECT mxd FROM mx)) AS BIGINT) AS r_days,
             COUNT(*) AS f_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS m_cents
      FROM orders GROUP BY o_custkey),
    b AS (
      SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
             quantile_cont(f_orders, [0.2, 0.4, 0.6, 0.8]) AS fb,
             quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mb
      FROM cust)
    SELECT c.o_custkey AS custkey, c.r_days,
           CAST(c.f_orders AS BIGINT) AS f_orders, c.m_cents,
           CAST(1 + (c.r_days < b.rb[1])::INT + (c.r_days < b.rb[2])::INT
                  + (c.r_days < b.rb[3])::INT + (c.r_days < b.rb[4])::INT
                AS INT) AS r_score,
           CAST(1 + (c.f_orders > b.fb[1])::INT + (c.f_orders > b.fb[2])::INT
                  + (c.f_orders > b.fb[3])::INT + (c.f_orders > b.fb[4])::INT
                AS INT) AS f_score,
           CAST(1 + (c.m_cents > b.mb[1])::INT + (c.m_cents > b.mb[2])::INT
                  + (c.m_cents > b.mb[3])::INT + (c.m_cents > b.mb[4])::INT
                AS INT) AS m_score
    FROM cust c CROSS JOIN b
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintile scores) — the GLOBAL-NTILE-WITHOUT-A-GLOBAL-WINDOW
    pattern: a naive ntile(5) OVER () is a single-partition exchange
    of every customer; instead the four quintile BOUNDARIES per
    metric come from one exact percentile aggregate (1 row) that
    broadcasts back, and each customer's scores are four map-side
    comparisons. Integer metrics against interpolated-double
    boundaries compare identically on both engines (the boundary is
    either an integer or a true fraction — never within an ulp of a
    distinct integer). Two aggs + one broadcast: scales to any
    customer count."""
    orders = read_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    cust = (orders.crossJoin(F.broadcast(mx))
            .groupBy("o_custkey")
            .agg(F.datediff(F.first("mxd"), F.max("o_orderdate"))
                 .cast("bigint").alias("r_days"),
                 F.count(F.lit(1)).alias("f_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .cast("bigint").alias("m_cents")))
    qs = F.array(*[F.lit(p) for p in (0.2, 0.4, 0.6, 0.8)])
    b = cust.agg(F.percentile("r_days", qs).alias("rb"),
                 F.percentile("f_orders", qs).alias("fb"),
                 F.percentile("m_cents", qs).alias("mb"))

    def score(col, arr, lower_is_better=False):
        op = (lambda i: (F.col(col) < F.element_at(arr, i)).cast("int")) \
            if lower_is_better else \
            (lambda i: (F.col(col) > F.element_at(arr, i)).cast("int"))
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + op(i)
        return s.cast("int")

    return (cust.crossJoin(F.broadcast(b))
            .select(F.col("o_custkey").alias("custkey"), "r_days",
                    F.col("f_orders").cast("bigint").alias("f_orders"),
                    "m_cents",
                    score("r_days", F.col("rb"), lower_is_better=True)
                    .alias("r_score"),
                    score("f_orders", F.col("fb")).alias("f_score"),
                    score("m_cents", F.col("mb")).alias("m_score")))


@query(
    "q_sql_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1),
    m AS (SELECT MAX(total_cents) AS mx FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM supplier s JOIN rev r ON r.suppkey = s.s_suppkey
    CROSS JOIN m WHERE r.total_cents = m.mx
    """,
)
def q_sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): aggregate-then-argmax-join —
    the revenue view reduces the fact table to supplier grain
    (two-phase agg behind a pushed quarter filter), the 1-row MAX
    broadcasts back as a filter (ties all surface, per the spec),
    and the supplier dim attaches by broadcast. No window, no global
    sort — the argmax of a grouped aggregate is a scalar broadcast
    at any scale. Exact integer revenue throughout."""
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_name")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("bigint")
    rev = (li.filter(
              (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
              & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
           .groupBy(F.col("l_suppkey").alias("suppkey"))
           .agg(F.sum(cents).cast("bigint").alias("total_cents")))
    m = rev.agg(F.max("total_cents").alias("mx"))
    return (rev.crossJoin(F.broadcast(m))
            .filter(F.col("total_cents") == F.col("mx"))
            .join(F.broadcast(sup),
                  F.col("suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_cents"))


@query(
    "q_funnel_windowed",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        AND e.ts <= v.v_ts + INTERVAL 60 MINUTE
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        AND e.ts <= c.c_ts + INTERVAL 60 MINUTE
      GROUP BY e.user_id)
    SELECT v.user_id,
           CAST(1 + CASE WHEN c.c_ts IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END
                AS INT) AS steps,
           date_diff('microsecond', v.v_ts, c.c_ts) AS us_view_to_click,
           date_diff('microsecond', c.c_ts, p.p_ts)
             AS us_click_to_purchase
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUDGETED multi-step funnel (view → click → purchase, each
    subsequent step within 60 minutes of the PREVIOUS step's anchor)
    — the time-boxed variant q_funnel (unordered presence) and
    q_time_to_convert (single edge) don't cover: each stage anchors
    on the previous stage's FIRST qualifying event, so the chain is
    deterministic and the per-step latencies are exact microsecond
    integers (sub-second timestamps matter — same discipline as
    q_time_weighted_avg). Plan: three conditional MIN aggregates
    chained by user-keyed joins (user-cardinality both sides, AQE
    picks the strategy); no windows, no sorts — each stage is one
    filtered scan + one two-phase agg, which at 100 TB beats a
    per-user event-sort funnel by the full sort cost."""
    ev = read_table(spark, sf_dir, "events")
    mic = lambda col: F.unix_micros(col.cast("timestamp"))  # noqa: E731
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") > F.col("v_ts"))
                 & (F.col("ts") <= F.col("v_ts")
                    + F.expr("INTERVAL 60 MINUTES")))
         .groupBy("user_id").agg(F.min("ts").alias("c_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") > F.col("c_ts"))
                 & (F.col("ts") <= F.col("c_ts")
                    + F.expr("INTERVAL 60 MINUTES")))
         .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    return (v.join(c, "user_id", "left").join(p, "user_id", "left")
            .select(
                "user_id",
                (F.lit(1) + F.col("c_ts").isNotNull().cast("int")
                 + F.col("p_ts").isNotNull().cast("int"))
                .cast("int").alias("steps"),
                (mic(F.col("c_ts")) - mic(F.col("v_ts")))
                .alias("us_view_to_click"),
                (mic(F.col("p_ts")) - mic(F.col("c_ts")))
                .alias("us_click_to_purchase")))


# ---------------------------------------------------------------------------
# round 8: the remaining classic TPC-H SQL shapes (Q2/Q11/Q16/Q20
# analogs on this schema) + sampled GROUP BY with exact-rescale twin
# ---------------------------------------------------------------------------

@query(
    "q_sql_min_cost_supplier",
    oracle="""
    WITH esup AS (
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    pp AS (
      SELECT p_partkey FROM part
      WHERE p_size <= 10 AND p_type = 'STANDARD'),
    supply AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             MIN((CAST(round(l.l_extendedprice * 100) AS BIGINT) * 1000)
                 // CAST(round(l.l_quantity) AS BIGINT))
               AS unit_millicents
      FROM lineitem l
      JOIN pp ON pp.p_partkey = l.l_partkey
      JOIN esup e ON e.s_suppkey = l.l_suppkey
      WHERE round(l.l_quantity) > 0
      GROUP BY 1, 2),
    mn AS (
      SELECT partkey, MIN(unit_millicents) AS best_millicents
      FROM supply GROUP BY partkey)
    SELECT s.partkey, s.suppkey, e.s_name, e.n_name,
           CAST(s.unit_millicents AS BIGINT) AS unit_millicents
    FROM supply s
    JOIN mn ON mn.partkey = s.partkey
            AND s.unit_millicents = mn.best_millicents
    JOIN esup e ON e.s_suppkey = s.suppkey
    """,
)
def q_sql_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the CORRELATED SCALAR
    MIN subquery — for each qualifying part, the European supplier(s)
    whose observed unit price is the part's minimum — DECORRELATED to
    one grouped aggregate + one equality join-back, never a per-row
    re-aggregation (the plan-contract test pins a single supply-grain
    aggregate feeding a join, the decorrelation Q2 exists to
    exercise). Unit price is FIXED-POINT millicents via integer
    division (cents·1000 div qty — engine-identical truncation), the
    MIN of integers is exact, and ties surface every argmin row as
    the spec demands. Plan: the part filter and the region→nation→
    supplier chain both broadcast into the one lineitem scan; supply
    and mn are two-phase aggs over (part,supp)- and part-grain rows;
    the join-back is part-sized. At 100 TB the fact table is read
    once, filtered by two broadcast semi-shapes, and everything after
    the first agg is dimension-sized."""
    li = read_table(spark, sf_dir, "lineitem")
    esup = (read_table(spark, sf_dir, "supplier")
            .join(read_table(spark, sf_dir, "nation"),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(read_table(spark, sf_dir, "region")
                  .filter(F.col("r_name") == "EUROPE"),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "s_name", "n_name"))
    pp = (read_table(spark, sf_dir, "part")
          .filter((F.col("p_size") <= 10)
                  & (F.col("p_type") == "STANDARD"))
          .select("p_partkey"))
    qty = F.round(F.col("l_quantity")).cast("bigint")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    supply = (li.filter(qty > 0)
              .join(F.broadcast(pp), F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(esup.select("s_suppkey")),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .groupBy(F.col("l_partkey").alias("partkey"),
                       F.col("l_suppkey").alias("suppkey"))
              .agg(F.min(F.expr(
                       "(CAST(round(l_extendedprice * 100) AS BIGINT) "
                       "* 1000) div CAST(round(l_quantity) AS BIGINT)"))
                   .alias("unit_millicents")))
    mn = (supply.groupBy("partkey")
          .agg(F.min("unit_millicents").alias("best_millicents"))
          .withColumnRenamed("partkey", "mn_partkey"))
    return (supply.join(F.broadcast(mn),
                        (F.col("partkey") == F.col("mn_partkey"))
                        & (F.col("unit_millicents")
                           == F.col("best_millicents")))
            .join(F.broadcast(esup),
                  F.col("suppkey") == F.col("s_suppkey"))
            .select("partkey", "suppkey", "s_name", "n_name",
                    F.col("unit_millicents").cast("bigint")
                    .alias("unit_millicents")))


@query(
    "q_sql_important_stock",
    oracle="""
    WITH asup AS (
      SELECT s.s_suppkey
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'),
    v AS (
      SELECT l.l_partkey AS partkey,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS value_cents
      FROM lineitem l JOIN asup a ON a.s_suppkey = l.l_suppkey
      GROUP BY 1),
    t AS (SELECT SUM(value_cents) AS total_cents FROM v)
    SELECT v.partkey, v.value_cents
    FROM v CROSS JOIN t
    WHERE CAST(v.value_cents AS HUGEINT) * 1000 > t.total_cents
    """,
)
def q_sql_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): grouped value with a
    HAVING-over-share-of-GLOBAL-total — keep parts whose Asian-supply
    value exceeds 0.1% of the total. The share gate is an INTEGER
    cross-multiplication (value·1000 > total, widened to
    decimal(38,0)/HUGEINT) — no float share can straddle the
    threshold differently across engines. Plan: supplier chain
    broadcasts into one fact scan, part-grain two-phase agg, the
    1-row total broadcasts back as a filter — the same
    scalar-broadcast shape as q_sql_top_supplier, so no global sort
    or single-partition exchange at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    asup = (read_table(spark, sf_dir, "supplier")
            .join(read_table(spark, sf_dir, "nation"),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(read_table(spark, sf_dir, "region")
                  .filter(F.col("r_name") == "ASIA"),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    v = (li.join(F.broadcast(asup),
                 F.col("l_suppkey") == F.col("s_suppkey"))
         .groupBy(F.col("l_partkey").alias("partkey"))
         .agg(F.sum(cents).cast("bigint").alias("value_cents")))
    t = v.agg(F.sum("value_cents").alias("total_cents"))
    return (v.crossJoin(F.broadcast(t))
            .filter(F.expr("CAST(value_cents AS DECIMAL(38,0)) * 1000 "
                           "> total_cents"))
            .select("partkey", "value_cents"))


@query(
    "q_sql_parts_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
    GROUP BY 1, 2, 3
    """,
)
def q_sql_parts_supplier_count(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): DISTINCT-COUNT
    over an EXCLUDED set — how many distinct suppliers can deliver
    each qualifying (brand, type, size), excluding the complaint list
    (here the deterministic stand-in ``s_suppkey % 13 = 0`` for Q16's
    comment-LIKE filter — the fixture's supplier table carries no
    comment column). The exclusion is an ANTI join (NOT IN is safe:
    the key is non-null by construction, and the oracle states the
    same subquery); the part filter broadcasts; the distinct-count is
    a two-phase partial-distinct aggregate over (brand,type,size,
    suppkey) — never a corpus-wide distinct. At 100 TB: one fact
    scan, one dimension broadcast, one anti broadcast, one
    group-sized shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    pt = (read_table(spark, sf_dir, "part")
          .filter((F.col("p_brand") != "Brand#1")
                  & (F.col("p_type") != "PROMO")
                  & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
          .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad = (read_table(spark, sf_dir, "supplier")
           .filter(F.col("s_suppkey") % 13 == 0)
           .select("s_suppkey"))
    return (li.join(F.broadcast(pt),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(bad),
                  F.col("l_suppkey") == F.col("s_suppkey"),
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("bigint")
                 .alias("supplier_cnt")))


@query(
    "q_sql_potential_promotion",
    oracle="""
    WITH pp AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
    heavy AS (
      SELECT l.l_suppkey AS suppkey
      FROM lineitem l JOIN pp ON pp.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(round(l.l_quantity) AS BIGINT)) > 50)
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'AMERICA'
      AND s.s_suppkey IN (SELECT suppkey FROM heavy)
    """,
)
def q_sql_potential_promotion(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the NESTED
    SEMI-JOIN chain — suppliers (in one region) who moved more than
    a threshold quantity of some name-matched part during 1996. Two
    semi levels: the part-name filter semi-joins into the fact scan
    (broadcast), the per-(supplier, part) quantity aggregate's
    HAVING survivors semi-join into the supplier dimension. Exact
    integer quantities; DISTINCT output rows (a supplier qualifies
    once, however many parts qualify it). Plan: one filtered fact
    scan + one (supp,part)-grain agg; both semi-joins are
    dimension-sized broadcasts — no fact-side shuffle beyond the
    agg's own."""
    li = read_table(spark, sf_dir, "lineitem")
    pp = (read_table(spark, sf_dir, "part")
          .filter(F.col("p_name").like("small%"))
          .select("p_partkey"))
    qty = F.round(F.col("l_quantity")).cast("bigint")
    heavy = (li.filter(
                (F.col("l_shipdate")
                 >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate")
                   < F.lit("1997-01-01").cast("timestamp")))
             .join(F.broadcast(pp),
                   F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum(qty).alias("q"))
             .filter(F.col("q") > 50)
             .select(F.col("l_suppkey").alias("suppkey")))
    return (read_table(spark, sf_dir, "supplier")
            .join(read_table(spark, sf_dir, "nation"),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(read_table(spark, sf_dir, "region")
                  .filter(F.col("r_name") == "AMERICA"),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .join(heavy, F.col("s_suppkey") == F.col("suppkey"),
                  "left_semi")
            .select("s_suppkey", "s_name", "n_name")
            .distinct())


@query(
    "q_agg_sampled",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_exact,
           CAST(COUNT(*) FILTER (WHERE event_id % 10 = 0) AS BIGINT)
             AS n_sample,
           CAST(SUM(CASE WHEN event_id % 10 = 0
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END) * 10 AS BIGINT) AS cents_est,
           CAST(CAST(abs(SUM(CASE WHEN event_id % 10 = 0
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) * 10
                    - SUM(CAST(round(value * 100) AS BIGINT)))
                     AS HUGEINT) * 1000000000
                // NULLIF(SUM(CAST(round(value * 100) AS BIGINT)), 0)
                AS BIGINT) AS err_ppb
    FROM events GROUP BY event_type
    """,
)
def q_agg_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED GROUP BY with its EXACT twin in the same pass: a
    1-in-10 SYSTEMATIC sample (``event_id % 10`` — deterministic and
    content-addressed, so any partitioning selects the same rows,
    unlike ``TABLESAMPLE``'s partition-dependent draws) rescaled by
    the exact inverse sampling rate, next to the full aggregate, plus
    the realized error in FIXED-POINT ppb (integer div — no
    engine-rounded double). Both estimates fold into ONE conditional
    two-phase aggregate — the approximate-query-processing pattern
    where the sample answers dashboards while the twin bounds the
    error; at 100 TB with a materialized sample table the scan drops
    10×, and the estimator math here is identical."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    in_s = F.col("event_id") % 10 == 0
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(cents).cast("bigint").alias("cents_exact"),
                 F.count(F.when(in_s, 1)).cast("bigint")
                 .alias("n_sample"),
                 (F.sum(F.when(in_s, cents).otherwise(0)) * 10)
                 .cast("bigint").alias("cents_est"))
            .select("event_type", "n_rows", "cents_exact", "n_sample",
                    "cents_est",
                    F.expr("(CAST(abs(cents_est - cents_exact) "
                           "AS DECIMAL(38,0)) * 1000000000) "
                           "div nullif(cents_exact, 0)")
                    .alias("err_ppb")))


@query(
    "q_sql_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01'
      AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q_sql_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): a date-windowed
    order count per priority, gated by a CORRELATED EXISTS against
    the fact table — here "a line shipped more than 30 days after
    the order" stands in for the reference schema's
    commitdate<receiptdate (this fixture carries neither). The
    EXISTS compiles to a LEFT SEMI join with a mixed equi+range
    condition — Spark dedupes matches inside the join, no
    distinct-on-orderkey afterthought. Plan: the quarter window
    prunes orders FIRST (pushed scan filter), the semi join
    shuffles both sides on orderkey once, and the priority rollup
    is a 5-group two-phase agg — at 100 TB the only corpus-sized
    exchange is the one semi-join shuffle, and a date-partitioned
    table would prune it to the quarter."""
    ords = (read_table(spark, sf_dir, "orders")
            .filter((F.col("o_orderdate") >= F.expr("DATE '1996-07-01'"))
                    & (F.col("o_orderdate") < F.expr("DATE '1996-10-01'")))
            .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    late = ords.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.expr("o_orderdate + INTERVAL 30 DAY")),
        "leftsemi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@query(
    "q_sql_late_lines",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag IN ('A', 'R')
      AND l.l_shipdate > o.o_orderdate + INTERVAL 20 DAY
      AND l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q_sql_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): the
    CONDITIONAL TWO-WAY COUNT — one pass splits late-shipped lines
    into high/low-priority tallies per category (l_returnflag stands
    in for the reference's l_shipmode, which this fixture lacks; the
    ">20 days after order" range predicate stands in for the
    commit/receipt chain). The CASE counters fold into ONE two-phase
    aggregate — never two filtered scans. Plan: the year window is a
    pushed scan filter on lineitem, the orders join shuffles on
    orderkey (both sides corpus-sized — the one unavoidable
    exchange), and the 2×2 rollup is map-side partial first. The
    late-line range predicate rides INSIDE the join condition's
    output, evaluated post-match without a second pass."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag").isin("A", "R")
                  & (F.col("l_shipdate") >= F.expr("DATE '1997-01-01'"))
                  & (F.col("l_shipdate") < F.expr("DATE '1998-01-01'")))
          .select("l_orderkey", "l_returnflag", "l_shipdate"))
    ords = read_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(ords, (F.col("o_orderkey") == F.col("l_orderkey"))
                    & (F.col("l_shipdate")
                       > F.expr("o_orderdate + INTERVAL 20 DAY")))
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("bigint")
                 .alias("high_line_count"),
                 F.sum(F.when(hi, 0).otherwise(1)).cast("bigint")
                 .alias("low_line_count")))


@query(
    "q_sql_customer_distribution",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q_sql_customer_distribution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): the DOUBLE
    AGGREGATION over a filtered LEFT OUTER join — orders-per-customer
    first (customers with no qualifying orders MUST survive as
    count 0, which is why the filter lives in the JOIN CONDITION,
    not a WHERE that would silently turn the join inner), then the
    histogram of those counts. COUNT(o_orderkey) counts only
    non-NULL matches, so the unmatched row contributes 0, not 1.
    Plan: one shuffle pair on custkey for the outer join, the
    per-customer agg reuses that partitioning (AQE collapses the
    exchange), and the final histogram is a ~20-group two-phase agg
    — at 100 TB the distribution is bounded by max orders per
    customer, never by customer count."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    ords = read_table(spark, sf_dir, "orders") \
        .select("o_custkey", "o_orderkey", "o_orderpriority")
    co = (cust.join(
              ords, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
              "left")
          .groupBy("c_custkey")
          .agg(F.count("o_orderkey").alias("c_count")))
    return (co.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


@query(
    "q_sql_small_qty_revenue",
    oracle="""
    WITH pp AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
    pq AS (
      SELECT l.l_partkey,
             SUM(CAST(round(l.l_quantity) AS BIGINT)) AS sum_qty,
             COUNT(*) AS n_lines
      FROM lineitem l JOIN pp ON pp.p_partkey = l.l_partkey
      GROUP BY l.l_partkey),
    sel AS (
      SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN pq ON pq.l_partkey = l.l_partkey
      WHERE CAST(round(l.l_quantity) AS BIGINT) * 5 * pq.n_lines
            < pq.sum_qty)
    SELECT COUNT(*) AS n_small_lines,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents,
           CAST(COALESCE(SUM(cents), 0) // 7 AS BIGINT) AS per_year_cents
    FROM sel
    """,
)
def q_sql_small_qty_revenue(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the CORRELATED
    SCALAR AVG subquery — lines whose quantity is below 20% of their
    part's average — DECORRELATED to one part-grain aggregate plus a
    broadcast join-back (the Q2/q_sql_min_cost_supplier pattern; the
    plan contract pins it). The 20%-of-average gate is an INTEGER
    cross-multiplication: qty < sum/(5n) ⟺ 5·n·qty < sum — no float
    average can straddle the threshold differently across engines.
    Plan: the brand's ~4% of parts broadcast into the fact scan
    TWICE (once to build the part-grain agg, once for the probe);
    the agg output is dimension-sized, so the join-back is a second
    BROADCAST, not a shuffle — at 100 TB lineitem is scanned twice
    but never exchanged, and a column-pruned scan reads 3 columns
    each pass."""
    pp = (read_table(spark, sf_dir, "part")
          .filter(F.col("p_brand") == "Brand#23").select("p_partkey"))
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_quantity", "l_extendedprice")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    brand_lines = li.join(F.broadcast(pp),
                          F.col("l_partkey") == F.col("p_partkey"))
    pq = (brand_lines.groupBy("l_partkey")
          .agg(F.sum(qty).alias("sum_qty"),
               F.count(F.lit(1)).alias("n_lines")))
    sel = (brand_lines
           .join(F.broadcast(pq), "l_partkey")
           .filter(qty * 5 * F.col("n_lines") < F.col("sum_qty")))
    cents_sum = F.coalesce(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")),
        F.lit(0))
    return sel.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        cents_sum.cast("bigint").alias("total_cents"),
        F.expr("CAST(coalesce(sum(CAST(round(l_extendedprice * 100) "
               "AS BIGINT)), 0) div 7 AS BIGINT)")
        .alias("per_year_cents"))


@query(
    "q_sql_discounted_revenue",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(COALESCE(SUM(CAST(round(l.l_extendedprice
                * (1 - l.l_discount) * 100) AS BIGINT)), 0) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND round(l.l_quantity) BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND round(l.l_quantity) BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35
           AND round(l.l_quantity) BETWEEN 20 AND 30)
    """,
)
def q_sql_discounted_revenue(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): the DISJUNCTIVE
    multi-predicate join — three (brand, size-range, qty-range)
    alternatives OR-ed across the join. The join key stays the pure
    equi p_partkey = l_partkey with the disjunction as a POST-JOIN
    filter — writing the OR into the join condition would force a
    nested-loop; this way Catalyst keeps a BROADCAST HASH join (part
    is the dim side) and evaluates the residual in the same codegen
    stage. Discount math follows the money rule: both engines
    evaluate the identical IEEE expression price·(1−disc)·100, round
    HALF_UP to integer cents, then sum exactly. At 100 TB: one fact
    scan, zero shuffles (broadcast + a 1-row global agg)."""
    part = (read_table(spark, sf_dir, "part")
            .select("p_partkey", "p_brand", "p_size"))
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_quantity", "l_extendedprice",
                "l_discount")
    qty = F.round(F.col("l_quantity"))
    keep = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("p_size").between(1, 15) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("p_size").between(1, 25) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#15")
           & F.col("p_size").between(1, 35) & qty.between(20, 30)))
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("bigint")
    return (li.join(F.broadcast(part),
                    F.col("p_partkey") == F.col("l_partkey"))
            .filter(keep)
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.coalesce(F.sum(cents), F.lit(0)).cast("bigint")
                 .alias("revenue_cents")))


@query(
    "q_sql_waiting_suppliers",
    oracle="""
    WITH lf AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'),
    po AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
               AS n_late
      FROM lf GROUP BY l_orderkey),
    w AS (
      SELECT DISTINCT lf.l_suppkey, lf.l_orderkey
      FROM lf JOIN po ON po.l_orderkey = lf.l_orderkey
      WHERE lf.late = 1 AND po.n_supp > 1 AND po.n_late = 1)
    SELECT s.s_name, COUNT(*) AS numwait
    FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_7'
    GROUP BY s.s_name
    """,
)
def q_sql_waiting_suppliers(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS / NOT-EXISTS anti chain — a supplier is "waiting" on an
    order when it shipped late (>45 days after order, standing in
    for receipt>commit), ANOTHER supplier is on the same order, and
    NO OTHER supplier shipped late. Both correlated quantifiers
    DECORRELATE through ONE (order, supplier)-grain dedup aggregate
    (max(late) per pair — line grain collapses before anything else
    looks at it, so there is NO countDistinct Expand and no trailing
    .distinct() pass), then an order-grain rollup: n_supp =
    count(pairs), n_late = sum(late). The waiting condition is the
    pure filter late ∧ n_supp>1 ∧ n_late=1, because the late
    supplier being unique makes it OUR supplier. The rollup is a
    WINDOW over the pair frame, not a groupBy + join-back: a
    join-back would duplicate the whole dedup subtree (column
    pruning makes the two copies non-identical, so AQE cannot
    ReusedExchange them) and scan+shuffle lineitem twice — the
    window reads the pair frame once, partitioned by orderkey,
    with per-order partitions bounded by suppliers-per-order (no
    skew surface). Total exchanges: the orders join, the line→pair
    dedup, one pair-grain window shuffle. The nation gate
    broadcasts at the END onto pair-grain rows. At 100 TB nothing
    after the dedup agg exceeds order×supplier grain, and the
    multi-EXISTS never becomes per-row subquery execution."""
    ords = (read_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"))
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    lf = (li.join(ords, F.col("o_orderkey") == F.col("l_orderkey"))
          .select("l_orderkey", "l_suppkey",
                  F.when(F.col("l_shipdate")
                         > F.expr("o_orderdate + INTERVAL 45 DAY"),
                         1).otherwise(0).alias("late")))
    sp = (lf.groupBy("l_orderkey", "l_suppkey")
          .agg(F.max("late").alias("late")))
    wo = (Window.partitionBy("l_orderkey")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    w = (sp.withColumn("n_supp", F.count(F.lit(1)).over(wo))
         .withColumn("n_late", F.sum("late").over(wo))
         .filter((F.col("late") == 1) & (F.col("n_supp") > 1)
                 & (F.col("n_late") == 1))
         .select("l_suppkey", "l_orderkey"))
    sup = (read_table(spark, sf_dir, "supplier")
           .join(F.broadcast(
               read_table(spark, sf_dir, "nation")
               .filter(F.col("n_name") == "NATION_7")),
               F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", "s_name"))
    return (w.join(F.broadcast(sup),
                   F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


@query(
    "q_sql_sales_opportunity",
    oracle="""
    WITH sel AS (
      SELECT c.c_custkey, c.c_custkey % 7 AS cc,
             CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents
      FROM customer c WHERE c.c_custkey % 7 IN (1, 3, 5, 6)),
    st AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS sum_cents,
             COUNT(*) AS n_pos
      FROM sel WHERE cents > 0),
    q AS (
      SELECT sel.cc, sel.cents
      FROM sel CROSS JOIN st
      WHERE sel.cents * st.n_pos > st.sum_cents
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = sel.c_custkey
            AND o.o_orderdate >= DATE '2000-01-01'))
    SELECT cc, COUNT(*) AS numcust,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM q GROUP BY cc
    """,
)
def q_sql_sales_opportunity(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): segment-bucketed
    customers with above-average balances and no recent orders —
    the scalar-average subquery plus NOT EXISTS anti-join. The
    synthetic country code is c_custkey % 7 (this fixture has no
    c_phone); "never placed an order" becomes "no order since
    2000-01-01" so the anti-join has survivors at every SF. The
    above-average gate is the INTEGER cross-multiplication
    cents·n > sum (the q_sql_important_stock pattern) — no float
    average crosses the threshold differently across engines; the
    DECORRELATED scalar is a 1-row broadcast, the NOT EXISTS a
    LEFT ANTI against date-filtered orders. Plan: customer scan +
    1-row broadcast + anti-join shuffle on custkey + ≤7-group agg;
    at 100 TB the anti probe is the only exchange and the recent-
    order side is date-pruned before it."""
    cust = (read_table(spark, sf_dir, "customer")
            .select("c_custkey",
                    (F.col("c_custkey") % 7).alias("cc"),
                    F.round(F.col("c_acctbal") * 100).cast("bigint")
                    .alias("cents"))
            .filter(F.col("cc").isin(1, 3, 5, 6)))
    st = (cust.filter(F.col("cents") > 0)
          .agg(F.sum("cents").cast("bigint").alias("sum_cents"),
               F.count(F.lit(1)).alias("n_pos")))
    recent = (read_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= F.expr("DATE '2000-01-01'"))
              .select("o_custkey"))
    return (cust.crossJoin(F.broadcast(st))
            .filter(F.col("cents") * F.col("n_pos")
                    > F.col("sum_cents"))
            .join(recent, F.col("o_custkey") == F.col("c_custkey"),
                  "left_anti")
            .groupBy("cc")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum("cents").cast("bigint").alias("total_cents")))


@query(
    "q_sql_market_share",
    oracle="""
    WITH all_nations AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS volume_cents,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
        AND p.p_type = 'ECONOMY'),
    g AS (
      SELECT o_year,
             CAST(SUM(CASE WHEN nation = 'NATION_12'
                           THEN volume_cents ELSE 0 END) AS BIGINT)
               AS nation_cents,
             CAST(SUM(volume_cents) AS BIGINT) AS total_cents
      FROM all_nations GROUP BY o_year)
    SELECT o_year, nation_cents, total_cents,
           CASE WHEN total_cents <> 0
                THEN CAST((CAST(nation_cents AS HUGEINT) * 1000000000)
                          // total_cents AS BIGINT)
           END AS mkt_share_ppb
    FROM g
    """,
)
def q_sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share) via spark.sql — NATION_12
    suppliers' share of the ASIA market for ECONOMY parts by order
    year, over the full 7-table snowflake (the last classic shape
    this fixture's tables support; Q9 alone needs the absent
    partsupp). Reference parity: gasket expresses multi-stage
    relational work as piped stages (reference index.js:1-258);
    here the whole snowflake is ONE declarative plan.

    Plan shape: p_type prunes part at the scan and the date window
    prunes orders; part, supplier, both nation aliases, and region
    all broadcast (nation must stay a distinct self-join pair — the
    Q7 lesson), so the only real exchanges are the two fact-grain
    joins lineitem⋈orders (orderkey) and orders⋈customer (custkey).
    The share-of-group is the conditional-aggregate CASE WHEN inside
    SUM — numerator and denominator fold into the SAME partial
    aggregate, one shuffle of year-grain partials. Both stay exact
    integer cents; the share is FIXED-POINT ×1e9 via truncating
    integer div (Spark `div` / DuckDB `//`, widened to
    decimal(38,0)/HUGEINT before the multiply — the q_sql_promo_share
    recipe), so no engine-rounded double leaves the query. At 100 TB
    the same plan holds: dims are O(nations+filtered parts), the two
    shuffles are key-partitioned fact joins AQE can skew-split."""
    for t in ("part", "supplier", "lineitem", "orders", "customer",
              "nation", "region"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"_q8_{t}")
    return spark.sql("""
        WITH all_nations AS (
          SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                 CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT) AS volume_cents,
                 n2.n_name AS nation
          FROM _q8_part p
          JOIN _q8_lineitem l ON p.p_partkey = l.l_partkey
          JOIN _q8_supplier s ON s.s_suppkey = l.l_suppkey
          JOIN _q8_orders o ON l.l_orderkey = o.o_orderkey
          JOIN _q8_customer c ON o.o_custkey = c.c_custkey
          JOIN _q8_nation n1 ON c.c_nationkey = n1.n_nationkey
          JOIN _q8_region r ON n1.n_regionkey = r.r_regionkey
          JOIN _q8_nation n2 ON s.s_nationkey = n2.n_nationkey
          WHERE r.r_name = 'ASIA'
            AND o.o_orderdate >= TIMESTAMP '1995-01-01'
            AND o.o_orderdate < TIMESTAMP '1997-01-01'
            AND p.p_type = 'ECONOMY'),
        g AS (
          SELECT o_year,
                 SUM(CASE WHEN nation = 'NATION_12'
                          THEN volume_cents ELSE 0 END) AS nation_cents,
                 SUM(volume_cents) AS total_cents
          FROM all_nations GROUP BY o_year)
        SELECT o_year, nation_cents, total_cents,
               CASE WHEN total_cents <> 0
                    THEN CAST((CAST(nation_cents AS DECIMAL(38,0))
                               * 1000000000) div total_cents AS BIGINT)
               END AS mkt_share_ppb
        FROM g
    """)


@query(
    "q_scan_xml",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip via Spark 4's NATIVE xml format (rowTag
    records — the spark-xml package folded into core): the supplier
    table serialized once (stamp-cached like the CSV/ORC/NDJSON
    twins) and read back with a PINNED schema (inference = an extra
    full read at 100 TB). Money crosses the text hop as integer
    cents — the XML writer's double rendering is not part of this
    query's contract (q_scan_csv pins shortest-round-trip doubles);
    here the pinned claim is record/escaping fidelity, incl. the
    markup-significant characters in s_name/comment fields."""
    cols = ["s_suppkey", "s_name", "s_nationkey", "acctbal_cents"]
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint")
        .alias("acctbal_cents"))
    out = stamp_cached(
        os.path.join(tempfile.gettempdir(), "gasket_spark_xml",
                     os.path.basename(os.path.normpath(sf_dir))),
        os.path.join(sf_dir, "supplier.parquet"),
        lambda d: sup.write.mode("overwrite")
                     .option("rowTag", "supplier").format("xml").save(d))
    schema = ("s_suppkey bigint, s_name string, s_nationkey int, "
              "acctbal_cents bigint")
    return (spark.read.schema(schema).option("rowTag", "supplier")
            .format("xml").load(out).select(*cols))


@query(
    "q_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.acctbal_cents
    FROM nation n, LATERAL (
      SELECT c_custkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY acctbal_cents DESC, c_custkey
      LIMIT 3) t
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — top-3 customers by balance PER
    NATION stated as SQL's per-row subtable (the join-form of
    top-n-per-group; q_topk covers the window-function form). Both
    engines run the IDENTICAL query text; Spark decorrelates the
    LATERAL into a ranked join under the hood, so the declarative
    form costs one shuffle like the window form — and stays exact:
    integer-cents ordering with a c_custkey tie-break. NOTE (probe
    lesson): the correlated column must be referenced through the
    OUTER TABLE alias (n.n_nationkey) — aliasing the outer column to
    the table alias's own name makes Spark parse ``n.n`` as a struct
    field extraction."""
    for t in ("nation", "customer"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(
            f"_lat_{t}")
    return spark.sql("""
        SELECT n.n_name, t.c_custkey, t.acctbal_cents
        FROM _lat_nation n, LATERAL (
          SELECT c_custkey,
                 CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
          FROM _lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY acctbal_cents DESC, c_custkey
          LIMIT 3) t
    """)


@query(
    "q_json_variant",
    oracle="""
    WITH j AS (
      SELECT event_id,
             '{"meta": ' || props || ', "et": "' || event_type ||
             '", "ids": [' || event_id || ', ' || user_id ||
             '], "deep": {"val": ' ||
             (event_id * 1000000 + user_id) || '}}' AS doc
      FROM events)
    SELECT event_id,
           CAST(doc->>'$.meta.k' AS BIGINT) AS meta_k,
           doc->>'$.et' AS et,
           CAST(doc->>'$.ids[1]' AS BIGINT) AS second_id,
           CAST(doc->>'$.deep.val' AS BIGINT) AS deep_val,
           CAST(doc->>'$.absent.path' AS BIGINT) AS absent
    FROM j
    """,
)
def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion of semi-structured event payloads:
    each event's props JSON is wrapped into a nested document (pure
    string concat, reproduced verbatim in the oracle so both engines
    parse the IDENTICAL bytes), parsed ONCE with ``parse_json``, and
    extracted through typed paths — nested object, string field,
    array index, deep int64, and a missing path (SQL NULL via
    ``try_variant_get``; DuckDB's ->> maps missing to NULL the same
    way — the null-kind distinction VARIANT adds on top is pinned
    engine-side in tests/test_cross_engine.py::TestVariantJsonParity
    because ANSI SQL cannot state it). VARIANT's binary encoding
    makes repeated path extraction O(paths), not O(re-parses) — the
    props-evolution shape a 100 TB event pipeline needs (schema
    drift lands in the variant column, not in a migration); all
    extraction is JVM-side, zero Python. Only integer/string fields
    are embedded — no double ever crosses as JSON text (the repo's
    repr-rendering rule)."""
    ev = read_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"meta": '), F.col("props"),
        F.lit(', "et": "'), F.col("event_type"),
        F.lit('", "ids": ['), F.col("event_id").cast("string"),
        F.lit(', '), F.col("user_id").cast("string"),
        F.lit('], "deep": {"val": '),
        (F.col("event_id") * F.lit(1000000) + F.col("user_id"))
        .cast("string"),
        F.lit('}}'))
    v = F.parse_json(doc)
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.meta.k", "long").alias("meta_k"),
        F.try_variant_get(v, "$.et", "string").alias("et"),
        F.try_variant_get(v, "$.ids[1]", "long").alias("second_id"),
        F.try_variant_get(v, "$.deep.val", "long").alias("deep_val"),
        F.try_variant_get(v, "$.absent.path", "long").alias("absent"))
