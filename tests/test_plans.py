"""Physical-plan regression tests: the *shape* of the plan is part of
each operator's contract at scale (a correct-but-reshuffling plan is a
regression the row-level oracle can't see)."""

import pytest
from pyspark.sql import functions as F

from gasket_spark.io import read_table, write_bucketed
from gasket_spark.queries import QUERIES
from gasket_spark.utils import plan_nodes
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


class TestPlanContracts:
    def test_filter_pushdown_reaches_scan(self, spark):
        plan = _plan(QUERIES["q_filter_project"](spark, SF_SMALL))
        assert "PushedFilters: [IsNotNull" in plan
        # column pruning: the 16-col fact table scan reads a subset
        read_schema = [ln for ln in plan.splitlines()
                       if "ReadSchema" in ln][0]
        assert read_schema.count(",") < 10

    def test_dim_joins_broadcast(self, spark):
        plan = _plan(QUERIES["q_join_broadcast"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_topk_avoids_global_sort(self, spark):
        plan = _plan(QUERIES["q_topk"](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan

    def test_agg_is_two_phase(self, spark):
        plan = _plan(QUERIES["q_agg_hash"](spark, SF_SMALL))
        # partial (map-side) + final HashAggregate around one exchange
        assert plan.count("HashAggregate") >= 2

    def test_scalar_pack_stays_in_codegen(self, spark):
        plan = _plan(QUERIES["q_scalar_string_date_math"](spark, SF_SMALL))
        # formatted mode marks whole-stage-codegen stages as
        # "[codegen id : N]" (and * on the tree nodes)
        assert "codegen id" in plan

    def test_decontaminate_broadcasts_eval_side(self, spark):
        """The eval shingle set joins through semi_join_auto: no
        static hint, but AQE must convert to a broadcast join at
        runtime once it sees the eval aggregate's actual size — so
        the FINAL adaptive plan (post-execution) is the contract."""
        df = QUERIES["q_decontaminate"](spark, SF_SMALL)
        df.collect()
        plan = _plan(df)
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan

    def test_semi_join_auto_two_regimes(self, spark):
        """semi_join_auto's contract: AQE broadcast below the
        threshold, shuffle semi-join above it (simulated by disabling
        the broadcast thresholds) — never a static hint that could
        OOM on a pathological key set."""
        from gasket_spark.operators import semi_join_auto

        docs = read_table(spark, SF_SMALL, "documents") \
            .select("doc_id", "lang")
        keys = (docs.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= 1).select("lang"))
        out = semi_join_auto(docs, keys, "lang")
        out.collect()
        plan = _plan(out)
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            out2 = semi_join_auto(docs, keys, "lang")
            out2.collect()
            plan2 = _plan(out2)
            assert "BroadcastHashJoin" not in plan2
            assert ("SortMergeJoin" in plan2
                    or "ShuffledHashJoin" in plan2)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold")

    def test_lm_score_broadcasts_model_tables(self, spark):
        """Both the bigram and unigram count tables are vocab-sized —
        they must broadcast so the corpus makes one narrow pass."""
        plan = _plan(QUERIES["q_lm_score"](spark, SF_SMALL))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_heavy_hitters_topk_avoids_global_sort(self, spark):
        plan = _plan(QUERIES["q_heavy_hitters"](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan

    def test_histogram_agg_is_two_phase(self, spark):
        plan = _plan(QUERIES["q_agg_histogram"](spark, SF_SMALL))
        assert plan.count("HashAggregate") >= 2

    def test_stratified_sample_is_map_side_only(self, spark):
        """A deterministic sample is a pure filter: no exchange of any
        kind may appear in the plan."""
        plan = _plan(QUERIES["q_sample_stratified"](spark, SF_SMALL))
        assert "Exchange" not in plan

    def test_text_encoding_is_map_side_codegen(self, spark):
        """Encoding-artifact detection is pure string algebra: zero
        exchanges, whole-stage codegen all the way."""
        plan = _plan(QUERIES["q_text_encoding"](spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "codegen id" in plan

    def test_text_entropy_is_two_phase_bounded_shuffle(self, spark):
        """Per-doc word entropy shuffles (doc, distinct-word) pairs
        through exactly two aggregations — a third exchange appearing
        means the token explosion started reshuffling."""
        plan = _plan(QUERIES["q_text_entropy"](spark, SF_SMALL))
        assert plan.count("HashAggregate") >= 2
        # formatted mode mentions each node ~4x (tree + details):
        # 2 logical exchanges == 4 mentions at this writing
        assert plan.count("Exchange") <= 4

    def test_hll_sketch_agg_is_object_hash_two_phase(self, spark):
        """Stored-HLL rollup must run as partial+merge ObjectHashAgg
        (mergeable sketch state), never a sort-based fallback or a
        sort-merge join of raw rows."""
        plan = _plan(QUERIES["q_agg_hll_sketch"](spark, SF_SMALL))
        assert "ObjectHashAggregate" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange") <= 16

    def test_theta_setops_exchanges_stay_sketch_sized(self, spark):
        """12 exchanges is the composition depth of the sketch algebra
        (each moves <= k-hash sketch rows, a few KB); a count above the
        pinned ceiling means a sketch stage started moving corpus
        rows."""
        df = QUERIES["q_theta_setops"](spark, SF_SMALL)
        nodes = plan_nodes(df)
        assert nodes["ShuffleExchange"] + nodes["BroadcastExchange"] <= 12
        assert "BroadcastHashJoin" in _plan(df)


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        import shutil

        # drop catalog entries AND their on-disk locations (a previous
        # session's in-memory catalog forgets the table but leaves the
        # warehouse dir, which blocks re-creation)
        warehouse = spark.conf.get("spark.sql.warehouse.dir") \
            .removeprefix("file:")
        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
        od = read_table(spark, SF_SMALL, "orders")
        li = read_table(spark, SF_SMALL, "lineitem")
        write_bucketed(od.select("o_orderkey", "o_totalprice"),
                       "b_orders", ["o_orderkey"], n_buckets=8)
        write_bucketed(li.select("l_orderkey", "l_quantity"),
                       "b_lineitem", ["l_orderkey"], n_buckets=8)
        try:
            # merge hint on the INPUT forces SMJ over broadcast, so the
            # exchange-elision is what's tested
            j_nobc = spark.table("b_orders").hint("merge").join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"))
            plan = _plan(j_nobc)
            assert "Exchange" not in plan, plan
            # and the result is still right
            want = od.join(li, od.o_orderkey == li.l_orderkey).count()
            assert j_nobc.count() == want
        finally:
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestNewQueryPlanContracts:
    def test_agg_stats_is_two_phase_single_pass(self, spark):
        """All six moments come from ONE two-phase hash aggregate —
        no second scan, no sort."""
        plan = _plan(QUERIES["q_agg_stats"](spark, SF_SMALL))
        # tree-form node counts ("Name (id)"): exactly one partial +
        # one final aggregate around exactly one exchange
        assert plan.count("HashAggregate (") == 2
        assert plan.count("Exchange (") == 1
        assert "SortAggregate" not in plan

    def test_anomaly_zscore_broadcasts_moments(self, spark):
        """The per-type moments table (5 rows) must broadcast back
        over the event scan — the corpus side never shuffles."""
        plan = _plan(QUERIES["q_anomaly_zscore"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_fuzzy_join_broadcasts_dirty_side(self, spark):
        """Edit-distance matching is a broadcast nested-loop join of
        the tiny dirty-keys side against the streaming dimension."""
        plan = _plan(QUERIES["q_join_fuzzy"](spark, SF_SMALL))
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_cdc_read_pruned_plans_zero_exchanges(self, spark):
        """The CDC DataSource read is scan + map-side filter only:
        manifest pruning happens at plan time, LATEST resolves once,
        and nothing about the read may introduce a shuffle."""
        plan = _plan(QUERIES["q_cdc_read_pruned"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 0, plan
        assert plan.count("Filter (") >= 1  # pushed filter re-applied

    def test_cdc_deletes_filters_tombstones_map_side(self, spark):
        """Tombstone elimination is a map-side filter over the scan —
        zero exchanges; a shuffle appearing means delete handling
        stopped being a projection of the stored table."""
        plan = _plan(QUERIES["q_cdc_deletes"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 0, plan
        assert plan.count("Filter (") >= 1

    def test_kll_shuffles_only_sketch_state(self, spark):
        """KLL: per-partition mapInPandas build, ONE shuffle of sketch
        state, merge; the exact twin + bound check add at most two
        more aggregate exchanges. A 4th exchange means raw rows
        started moving through the sketch path."""
        plan = _plan(QUERIES["q_agg_kll"](spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert plan.count("Exchange (") <= 3, plan
        assert "SortMergeJoin" not in plan

    def test_sim_ivf_broadcasts_probe_side(self, spark):
        """IVF: the exploded query-probe side is tiny and must
        broadcast against the inverted lists — the corpus never
        sort-merge-joins."""
        plan = _plan(QUERIES["q_sim_ivf"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_gaps_islands_single_shuffle(self, spark):
        """Gaps-and-islands is ONE exchange on user_id: both windows
        and the final agg must ride the same partitioning. A second
        exchange means the groupBy stopped reusing the window
        clustering."""
        plan = _plan(QUERIES["q_gaps_islands"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert plan.count("Window (") == 2

    def test_interval_merge_single_shuffle(self, spark):
        plan = _plan(QUERIES["q_interval_merge"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan

    def test_rolling_median_stays_jvm_side(self, spark):
        """The holistic sliding median is pure JVM expressions over a
        bounded ROWS frame: one exchange, no Python worker."""
        plan = _plan(QUERIES["q_rolling_median"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan

    def test_triangles_all_equi_joins_no_blowup(self, spark):
        """Degree-ordered triangle counting: every join is an
        equi-join (no cartesian/BNLJ), and the checkpointed edge +
        oriented-edge sets keep the plan at single-digit exchanges
        (un-cut, the re-derived lineage explodes to ~77)."""
        plan = _plan(QUERIES["q_graph_triangles"](spark, SF_SMALL))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange (") <= 8, plan

    def test_bloom_never_sort_merge_joins(self, spark):
        """Bloom build/probe: word-state aggregation plus broadcast
        joins of the tiny filter/stat tables — the probe stream must
        not sort-merge-join anything."""
        plan = _plan(QUERIES["q_agg_bloom"](spark, SF_SMALL))
        assert "SortMergeJoin" not in plan

    def test_pq_scans_codes_not_vectors(self, spark):
        """PQ ADC: the ranking scan joins the broadcast query-LUT
        side (BNLJ over the 8-byte code rows — intentional, the
        LUT side is |queries|-sized); full vectors only re-enter at
        the bounded rerank joins, never via a sort-merge join."""
        plan = _plan(QUERIES["q_sim_pq"](spark, SF_SMALL))
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_weighted_sample_single_shuffle_no_python(self, spark):
        """A-ES weighted sampling is one window shuffle on the
        stratum key; priorities are JVM expressions (md5/conv/ln) —
        no Python worker, no extra exchange."""
        plan = _plan(QUERIES["q_sample_weighted"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan

    def test_partitioned_scan_prunes_directories(self, spark):
        """The lang filter must land in PartitionFilters (directory-
        level pruning), not just PushedFilters — and zero exchanges:
        a partition-pruned scan is a scan, nothing more."""
        plan = _plan(QUERIES["q_scan_partition_pruned"](spark, SF_SMALL))
        assert "PartitionFilters" in plan
        pf_line = [ln for ln in plan.splitlines()
                   if "PartitionFilters" in ln][0]
        assert "lang" in pf_line, pf_line
        assert plan.count("Exchange (") == 0

    def test_scd2_lookup_joins_on_the_dim_key(self, spark):
        """Point-in-time SCD2 lookup: an equi-join on user_id with
        the validity residual inside it — never a cartesian or
        nested-loop over versions."""
        plan = _plan(QUERIES["q_join_scd2_lookup"](spark, SF_SMALL))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pattern_match_single_shuffle(self, spark):
        """Sessionize + journey-string + regex is ONE exchange on
        user_id — no per-stage self-joins ever appear."""
        plan = _plan(QUERIES["q_pattern_match"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert "Join" not in plan

    def test_chunk_overlap_is_pure_mapside(self, spark):
        """RAG chunking must plan ZERO exchanges and zero Python —
        sequence/explode/slice only."""
        plan = _plan(QUERIES["q_chunk_overlap"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 0, plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan

    def test_timegrain_single_scan_single_shuffle(self, spark):
        """Three grains from ONE scan: a single exploded aggregate,
        one exchange — not three unioned scans."""
        plan = _plan(QUERIES["q_rollup_timegrain"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        # formatted mode prints each node twice (tree + detail):
        # exactly one physical scan == two textual occurrences
        assert plan.count("Scan parquet") == 2, plan

    def test_multimodal_pipeline_shape(self, spark):
        """The 4-stage media pipeline compiles to one tree: Arrow
        decode stage present, at most the dedup + stats exchanges,
        no joins."""
        plan = _plan(QUERIES["q_pipeline_multimodal"](spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert plan.count("Exchange (") <= 3, plan
        assert "Join" not in plan

    def test_sql_q3_take_ordered(self, spark):
        """The SQL-surface TPC-H Q3 must plan TakeOrderedAndProject
        for its LIMIT 10, never a global sort."""
        plan = _plan(QUERIES["q_sql_shipping_priority"](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan

    def test_pca_projection_is_mapside(self, spark):
        """After the (pre-executed) Gram/power-iteration phase, the
        projection itself is a pure map-side literal dot product:
        zero exchanges, zero Python."""
        plan = _plan(QUERIES["q_embed_pca"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 0, plan
        assert "ArrowEvalPython" not in plan

    def test_pivot_is_single_conditional_aggregate(self, spark):
        """Conditional-aggregate pivot: ONE two-phase agg, one
        exchange — not the stacked pair native pivot() compiles to."""
        plan = _plan(QUERIES["q_pivot"](spark, SF_SMALL))
        assert plan.count("HashAggregate (") == 2
        assert plan.count("Exchange (") == 1

    # ---- round-6 continuation batch ----------------------------------

    def test_agg_moments_one_shuffle_two_phase(self, spark):
        """Power sums are mergeable: partial+final aggregate around
        ONE exchange, no Python anywhere."""
        plan = _plan(QUERIES["q_agg_moments"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert plan.count("HashAggregate (") == 2, plan
        assert "ArrowEvalPython" not in plan

    def test_window_ewma_single_window_pass(self, spark):
        """The unrolled fixed-point EWMA is one window pass over one
        user_id exchange — pure JVM expressions, codegen'd."""
        plan = _plan(QUERIES["q_window_ewma"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert plan.count("Window (") == 1, plan
        assert "ArrowEvalPython" not in plan

    def test_setops_all_pushes_both_leg_filters(self, spark):
        """Each bag-op leg pushes its own predicate to its parquet
        scan; no nested-loop join sneaks into the ALL semantics."""
        plan = _plan(QUERIES["q_setops_all"](spark, SF_SMALL))
        assert "EqualTo(o_orderstatus,O)" in plan
        assert "In(o_orderpriority" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_resample_interp_no_python_bounded_plan(self, spark):
        """Grid explode + both IGNORE NULLS fill passes stay JVM-side;
        the only nested-loop joins are the two 1-row bounds
        broadcasts (intentional)."""
        plan = _plan(QUERIES["q_resample_interp"](spark, SF_SMALL))
        assert "ArrowEvalPython" not in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 4, plan

    def test_sql_q7_keeps_nation_self_join_distinct(self, spark):
        """Q7's nation-pair disjunction needs nation joined twice:
        6 physical scans (nation twice), every dim broadcast at this
        size."""
        plan = _plan(QUERIES["q_sql_volume_shipping"](spark, SF_SMALL))
        assert plan.count("Scan parquet") == 12, plan
        assert "SortMergeJoin" not in plan

    def test_sql_q8_snowflake_broadcasts_and_pushes(self, spark):
        """Q8's 7-table snowflake: nation joined twice (8 logical
        scans → 16 printed), every dim broadcast at this size, the
        p_type / r_name / order-date filters all pushed to their
        scans, and the share folded into ONE year-grain two-phase
        aggregate (numerator and denominator in the same partials —
        no second pass over the join tree)."""
        plan = _plan(QUERIES["q_sql_market_share"](spark, SF_SMALL))
        assert plan.count("Scan parquet") == 16, plan
        assert "SortMergeJoin" not in plan
        assert "EqualTo(p_type,ECONOMY)" in plan
        assert "EqualTo(r_name,ASIA)" in plan
        assert "GreaterThanOrEqual(o_orderdate" in plan
        assert plan.count("HashAggregate (") == 2

    def test_sql_q10_pushes_returnflag_take_ordered(self, spark):
        plan = _plan(QUERIES["q_sql_returned_items"](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan
        assert "EqualTo(l_returnflag,R)" in plan

    def test_sql_q18_semi_join_take_ordered(self, spark):
        """The HAVING subquery plans as a semi join on the aggregated
        key set, and the LIMIT as TakeOrdered."""
        plan = _plan(QUERIES["q_sql_large_orders"](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan
        assert "LeftSemi" in plan

    def test_snapshot_diff_two_pruned_scans_hash_join(self, spark):
        """Both snapshot sides read through the gasket_cdc DataSource
        (two BatchScans) and diff with a hash join — never a
        nested-loop."""
        plan = _plan(QUERIES["q_snapshot_diff"](spark, SF_SMALL))
        assert plan.count("BatchScan") >= 2, plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_dpp_injects_runtime_partition_filter(self, spark):
        """The fact scan's PartitionFilters must carry a
        dynamicpruning subquery — and NO static lang literal (the
        dim's filter is on source, so any lang pruning is runtime
        DPP, not constraint propagation)."""
        plan = _plan(QUERIES["q_join_dpp"](spark, SF_SMALL))
        pf = [ln for ln in plan.splitlines()
              if "PartitionFilters" in ln]
        assert pf and "dynamicpruning" in pf[0], plan
        assert "IN (en" not in pf[0], pf[0]

    def test_null_safe_join_still_hash_joins(self, spark):
        """eqNullSafe is an equality predicate: hash join, never a
        nested-loop."""
        plan = _plan(QUERIES["q_join_null_safe"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_window_navigation_single_pass(self, spark):
        """All four navigation functions share one user_id window
        partitioning: one exchange, at most two Window nodes (the
        full-frame trio + the default-frame lead)."""
        plan = _plan(QUERIES["q_window_navigation"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert plan.count("Window (") <= 2, plan
        assert "ArrowEvalPython" not in plan

    def test_cusum_shares_partitioning_no_python(self, spark):
        """All CUSUM windows ride the one event_type partitioning;
        integer-space arithmetic stays JVM-side."""
        plan = _plan(QUERIES["q_cusum_changepoint"](spark, SF_SMALL))
        assert "ArrowEvalPython" not in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange (") <= 3, plan

    def test_join_size_estimate_never_joins_facts(self, spark):
        """The estimator joins per-key COUNT tables (two-phase aggs on
        both sides), never the raw fact tables."""
        plan = _plan(QUERIES["q_join_size_estimate"](spark, SF_SMALL))
        assert plan.count("HashAggregate (") >= 4, plan
        assert "ArrowEvalPython" not in plan

    def test_consistent_sample_hash_joins(self, spark):
        plan = _plan(QUERIES["q_sample_consistent"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_maxsim_broadcast_arrow_kernel(self, spark):
        """The corpus streams through ONE MapInPandas MaxSim pass
        with the bounded query set held in the kernel closure (r13:
        the old BroadcastNestedLoopJoin shipped both 64-dim vectors
        per query×corpus pair through Arrow); one window exchange for
        per-query top-k, no join of any kind."""
        plan = _plan(QUERIES["q_sim_maxsim"](spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange (") <= 2, plan
        assert "SortMergeJoin" not in plan

    def test_try_ops_pure_mapside(self, spark):
        """The whole safe-arithmetic pack is a zero-exchange
        map-side projection."""
        plan = _plan(QUERIES["q_scalar_try_ops"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 0, plan
        assert "ArrowEvalPython" not in plan

    def test_period_over_period_window_on_grain(self, spark):
        """Two-phase daily rollup + window over the grain-sized
        table: exactly two exchanges, one window."""
        plan = _plan(QUERIES["q_period_over_period"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 2, plan
        assert plan.count("Window (") == 1, plan

    def test_rolling_distinct_explodes_presence_not_events(self, spark):
        """The 24x fan-out (Generate) must sit ABOVE the presence
        dedup aggregate, not on the raw scan — the plan's Generate
        consumes an aggregated child."""
        plan = _plan(QUERIES["q_rolling_distinct"](spark, SF_SMALL))
        assert plan.count("Generate (") == 1, plan
        # dedup agg (2 nodes) + distinct-count agg pair below/above
        assert plan.count("HashAggregate (") >= 6, plan
        assert "ArrowEvalPython" not in plan

    def test_spatial_grid_hash_joins_on_cells(self, spark):
        """The proximity join must equi-join on cells — no quadratic
        nested-loop anywhere (that's what the oracle runs)."""
        plan = _plan(QUERIES["q_join_spatial_grid"](spark, SF_SMALL))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Generate (") == 2, plan

    def test_decayed_topk_take_ordered_not_global_window(self, spark):
        """Top-10 plans as TakeOrdered; the only nested-loop is the
        1-row max_age broadcast; no single-partition window over the
        full user table."""
        plan = _plan(QUERIES["q_decayed_topk"](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan
        # the rank window runs on 10 rows, AFTER the limit
        assert plan.index("TakeOrderedAndProject") \
            > plan.index("Window"), "window must consume the limit"

    def test_feature_scale_bounded_explode_broadcast_stats(self, spark):
        plan = _plan(QUERIES["q_feature_scale"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange (") <= 2, plan

    def test_time_to_convert_single_shuffle(self, spark):
        """Sessionize + both conversion anchors in ONE grouped
        aggregate on the user_id partitioning: window + agg share
        one exchange, no self-joins."""
        plan = _plan(QUERIES["q_time_to_convert"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1, plan
        assert "Join" not in plan


class TestRound7PlanContracts:
    def test_forecast_revenue_pushes_filters_to_scan(self, spark):
        """Q6 shape: the whole query is the scan — shipdate/quantity
        predicates reach the parquet reader and the ReadSchema is
        pruned to the 4 referenced columns; one two-phase agg."""
        plan = _plan(QUERIES["q_sql_forecast_revenue"](spark, SF_SMALL))
        assert "PushedFilters: [IsNotNull" in plan
        read_schema = [ln for ln in plan.splitlines()
                       if "ReadSchema" in ln][0]
        assert read_schema.count(",") <= 4
        assert plan.count("HashAggregate (") == 2
        assert "Join" not in plan

    def test_promo_share_broadcasts_part_two_phase_agg(self, spark):
        """Q14 shape: part dim broadcasts; both conditional sums fold
        into ONE partial+final aggregate pair (never two scans)."""
        plan = _plan(QUERIES["q_sql_promo_share"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("HashAggregate (") == 2

    def test_percentile_disc_single_shuffle(self, spark):
        """One exchange on event_type feeds both rank windows via one
        sort; the pct explode is map-side."""
        plan = _plan(QUERIES["q_agg_percentile_disc"](spark, SF_SMALL))
        assert plan.count("Exchange (") == 1
        assert "Generate (" in plan  # the explode

    def test_grid_density_convolves_cells_not_points(self, spark):
        """The 9-offset explode must sit ABOVE the cell aggregate
        (cell-sized), not on the raw point set: the plan has the
        point->cell agg before any Generate node."""
        plan = _plan(QUERIES["q_join_grid_density"](spark, SF_SMALL))
        # tree is printed leaves-last in formatted mode's details, so
        # assert structurally: two Generates (dx, dy), and the join of
        # cells x neighborhood aggregates
        assert plan.count("Generate (") == 2
        assert plan.count("HashAggregate (") >= 4  # distinct+cells+nb

    def test_attribution_scalars_broadcast(self, spark):
        """The two 1-row scalar aggregates join back as broadcast
        nested loop joins (1-row side), never a shuffle."""
        plan = _plan(QUERIES["q_attribution_removal"](spark, SF_SMALL))
        # tree-form node count (details re-mention each node)
        assert plan.count("BroadcastNestedLoopJoin Cross") == 2
        assert "CartesianProduct" not in plan

    def test_agg_corr_is_single_two_phase_agg(self, spark):
        """All five cross/power sums come from ONE partial+final
        aggregate pair — never a second scan or a sort fallback."""
        plan = _plan(QUERIES["q_agg_corr"](spark, SF_SMALL))
        assert plan.count("HashAggregate (") == 2
        assert plan.count("Exchange (") == 1
        assert "SortAggregate" not in plan

    def test_anomaly_mad_broadcasts_both_medians(self, spark):
        """Both group-sized median tables broadcast back over the
        event scan; the corpus never shuffles."""
        plan = _plan(QUERIES["q_anomaly_mad"](spark, SF_SMALL))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_seq_trigrams_one_window_sort_topk(self, spark):
        """Both LEADs share one user_id window sort; top-20 is
        TakeOrdered, not a global sort."""
        plan = _plan(QUERIES["q_seq_trigrams"](spark, SF_SMALL))
        assert plan.count("Window (") == 1
        assert "TakeOrderedAndProject" in plan

    def test_pareto_share_windows_are_partitioned(self, spark):
        """The running-share windows partition by nation — a global
        Pareto would plan Exchange SinglePartition."""
        plan = _plan(QUERIES["q_pareto_share"](spark, SF_SMALL))
        assert "Exchange SinglePartition" not in plan
        assert "hashpartitioning(c_nationkey" in plan

    def test_time_weighted_avg_one_window_one_agg(self, spark):
        """One user_id window for the LEAD, one two-phase agg — the
        window's shuffle is reused by the agg (same key)."""
        plan = _plan(QUERIES["q_time_weighted_avg"](spark, SF_SMALL))
        assert plan.count("Window (") == 1
        assert plan.count("HashAggregate (") >= 2

    def test_rfm_has_no_global_window(self, spark):
        """Quintile scores come from broadcast boundaries, never an
        unpartitioned ntile — no single-partition exchange."""
        plan = _plan(QUERIES["q_rfm_segments"](spark, SF_SMALL))
        assert "Exchange SinglePartition" not in plan
        assert "Window (" not in plan

    def test_top_supplier_argmax_is_broadcast(self, spark):
        """The 1-row MAX and the supplier dim both broadcast; no
        window, no global sort."""
        plan = _plan(QUERIES["q_sql_top_supplier"](spark, SF_SMALL))
        assert "Window (" not in plan
        assert "Sort (" not in plan
        assert "BroadcastHashJoin" in plan

    def test_funnel_windowed_no_windows_no_sorts(self, spark):
        """Three chained conditional-MIN aggregates — never a per-user
        event sort or window."""
        plan = _plan(QUERIES["q_funnel_windowed"](spark, SF_SMALL))
        assert "Window (" not in plan
        assert "Sort (" not in plan
        assert plan.count("HashAggregate (") >= 6  # 3 two-phase aggs

    def test_min_cost_supplier_decorrelates_to_one_agg_pair(self, spark):
        """Q2 shape: the correlated scalar-MIN subquery must
        decorrelate — ONE supply-grain aggregate + one part-grain MIN
        + an equality join-back, never a per-row re-aggregation (which
        would plan one aggregate per outer row / a nested subquery
        scan). Dimension chains broadcast; the fact scan happens
        once per aggregate tree."""
        df = QUERIES["q_sql_min_cost_supplier"](spark, SF_SMALL)
        # three two-phase agg pairs in the static tree (supply, its
        # repeat under mn, and mn itself) — bounded, not per-row
        static = _plan(df)
        assert static.count("HashAggregate (") == 6
        assert "BroadcastHashJoin" in static
        assert "SortMergeJoin" not in static
        assert "Window (" not in static
        # at runtime AQE dedups the repeated supply subtree — the
        # join-back reuses the supply exchange, never re-aggregates
        df.collect()
        final = _plan(df)
        assert "isFinalPlan=true" in final
        assert "ReusedExchange" in final

    def test_important_stock_total_is_scalar_broadcast(self, spark):
        """Q11 shape: the global total reuses the part-grain agg's
        exchange (ReusedExchange in the adaptive plan) and broadcasts
        as one row — the only SinglePartition exchange is the 1-row
        scalar reduction, never row data."""
        df = QUERIES["q_sql_important_stock"](spark, SF_SMALL)
        df.collect()
        plan = _plan(df)
        assert "isFinalPlan=true" in plan
        assert "ReusedExchange" in plan

    def test_parts_supplier_count_anti_join_broadcasts(self, spark):
        """Q16 shape: the excluded-supplier set anti-joins by
        broadcast; distinct-count is a two-phase aggregate."""
        plan = _plan(QUERIES["q_sql_parts_supplier_count"](spark,
                                                          SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_potential_promotion_semi_join_chain(self, spark):
        """Q20 shape: both semi levels stay dimension-sized — the
        part filter broadcasts into the fact scan and the HAVING
        survivors reach the supplier dim as a semi join."""
        plan = _plan(QUERIES["q_sql_potential_promotion"](spark,
                                                         SF_SMALL))
        assert "LeftSemi" in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_sampled_agg_is_one_pass(self, spark):
        """Sample estimate + exact twin fold into ONE conditional
        two-phase aggregate over a single scan — no join, no second
        scan."""
        plan = _plan(QUERIES["q_agg_sampled"](spark, SF_SMALL))
        assert plan.count("HashAggregate (") == 2
        assert "Join" not in plan
        assert plan.count("Exchange (") == 1  # group-sized partials

    def test_small_qty_revenue_decorrelates_to_broadcast_joinback(
            self, spark):
        """Q17 shape: the correlated 20%-of-average gate must
        decorrelate into ONE part-grain aggregate whose (dimension-
        sized) output BROADCASTS back onto the brand-filtered fact
        rows — never a per-row subquery, never a shuffle join-back.
        The fact table is scanned per aggregate tree but exchanged
        only at part grain."""
        plan = _plan(QUERIES["q_sql_small_qty_revenue"](spark,
                                                        SF_SMALL))
        # one part-grain two-phase pair + the final 1-row pair
        assert plan.count("HashAggregate (") == 4
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the 20%-of-avg threshold rides in the join-back's condition
        assert "n_lines" in plan and "sum_qty" in plan

    def test_sales_opportunity_scalar_broadcast_and_anti(self, spark):
        """Q22 shape: the above-average gate is a 1-row scalar
        broadcast (decorrelated AVG via integer cross-multiply), and
        the no-recent-orders quantifier a LEFT ANTI join — never a
        correlated per-row probe. The only SinglePartition exchange
        is the 1-row scalar reduction."""
        plan = _plan(QUERIES["q_sql_sales_opportunity"](spark,
                                                        SF_SMALL))
        assert "LeftAnti" in plan
        assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar side
        assert plan.count("HashAggregate (") >= 4

    def test_order_priority_exists_is_semi_join(self, spark):
        """Q4 shape: the correlated EXISTS compiles to one LEFT SEMI
        join (match-deduped inside the join), with the quarter
        window PUSHED to the orders scan."""
        plan = _plan(QUERIES["q_sql_order_priority"](spark, SF_SMALL))
        assert "LeftSemi" in plan
        assert "PushedFilters: [IsNotNull(o_orderdate)" in plan

    def test_waiting_suppliers_single_pass_no_expand(self, spark):
        """Q21 shape: the multi-EXISTS chain must collapse to one
        (order, supplier)-grain dedup aggregate plus ONE per-order
        window — no countDistinct Expand, no join-back that would
        duplicate the dedup subtree (scanning lineitem twice), no
        per-row subquery."""
        plan = _plan(QUERIES["q_sql_waiting_suppliers"](spark,
                                                        SF_SMALL))
        assert "Expand" not in plan
        assert plan.count("Window (") == 1
        # lineitem + orders + supplier + nation: each scanned ONCE
        # (formatted mode prints every scan twice — tree + detail)
        assert plan.count("Scan parquet") == 8
        assert "BroadcastNestedLoopJoin" not in plan


class TestR11RegistrationPlanContracts:
    """Plan-shape contracts for the round-11 registrations — the
    scale posture each of these was designed around (df-capped
    inverted indexes never broadcast their keep tables; sketch
    shuffles move counters, not rows; broadcast sides stay bounded)."""

    def test_containment_keep_join_never_broadcasts(self, spark):
        """The df-cap `keep` table is shingle-VOCABULARY sized — a
        blind broadcast estimate OOMed the driver at 10x (r10 probe).
        The hint pins it to a shuffle-hash join co-partitioned with
        the self-join's key; no sort-merge, no cartesian."""
        plan = _plan(QUERIES["q_dedup_containment"](spark, SF_SMALL))
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # shingle hashing is the Arrow kernel, not a Python row loop
        assert "ArrowEvalPython" in plan

    def test_spans_keep_join_never_broadcasts(self, spark):
        """Same posture for duplicate_spans' window-vocabulary keep
        table; the maximal-span merge is ONE window pass per
        diagonal partition."""
        plan = _plan(QUERIES["q_dedup_spans"](spark, SF_SMALL))
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Window (") == 1

    def test_winnow_reuses_persisted_fingerprints(self, spark):
        """The fingerprint table must come from the persisted build
        (InMemoryTableScan) on both sides of the candidate self-join
        — recomputing the gram/min chain per side doubled the wall
        time (r11 measurement); the sliding-min runs as the Arrow
        kernel, never an interpreted HOF tower."""
        plan = _plan(QUERIES["q_fingerprint_winnow"](spark, SF_SMALL))
        assert "InMemoryTableScan" in plan
        assert "ArrowEvalPython" in plan
        assert "CartesianProduct" not in plan

    def test_knn_label_broadcasts_queries_and_neighbors(self, spark):
        """Corpus never shuffles: the bounded query batch rides in
        the scoring kernel's closure and the corpus makes ONE
        MapInPandas pass emitting narrow (query, neighbor, cos) rows
        (r13: the old BroadcastNestedLoopJoin shipped both 64-dim
        vectors per pair through Arrow — ~128 doubles per 16-byte
        decision); the |queries|·k neighbor set still broadcasts into
        the label lookup — no BNLJ, no sort-merge join anywhere."""
        plan = _plan(QUERIES["q_knn_label"](spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_mg_sketch_shuffles_counters_not_rows(self, spark):
        """Misra-Gries: per-partition counter build (MapInPandas on
        the scan), then exactly ONE exchange whose payload is <=
        partitions·k counter rows, merged per group — the raw rows
        never shuffle."""
        plan = _plan(QUERIES["q_heavy_hitters_mg"](spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert "FlatMapGroupsInPandas" in plan
        assert plan.count("Exchange (") == 1, plan

    def test_rendezvous_is_pure_mapside(self, spark):
        """HRW assignment is a zero-exchange map-side projection —
        the whole point of content-addressed sharding at 100 TB."""
        plan = _plan(QUERIES["q_shard_rendezvous"](spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan

    def test_lateral_decorrelates_to_ranked_join(self, spark):
        """Spark must decorrelate the LATERAL subquery into a ranked
        broadcast join + WindowGroupLimit — one shuffle, no per-row
        subquery execution, no cartesian."""
        plan = _plan(QUERIES["q_lateral_topk"](spark, SF_SMALL))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange (") <= 2, plan

    def test_oov_vocab_broadcasts_back(self, spark):
        """The top-1000 vocab joins the token stream as a broadcast
        (map-side membership test) — a shuffle join here would move
        the whole token stream a second time."""
        plan = _plan(QUERIES["q_oov_rate"](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestR12RegistrationPlanContracts:
    """Plan-shape contracts for the round-12 registrations — the
    scale posture each was designed around: ANN labeling is a bucket
    equi-join (never the query x corpus product), BPE encode and
    VARIANT extraction are zero-exchange map-side passes, the
    edit-distance gram join is the pinned shuffle-hash shape."""

    def test_knn_label_ann_is_bucket_pruned_stream(self, spark):
        """The LSH candidate scoring must be ONE bucket-pruned corpus
        stream (r13: _probe_scores_stream) — no join at candidate
        grain at all: a BroadcastNestedLoopJoin here would BE the
        quadratic scoring product the operator exists to avoid, and
        even the old broadcast bucket equi-join shipped vector PAIRS
        through Arrow. The bucket kernel is the Arrow pandas_udf
        (ArrowEvalPython) feeding a single MapInPandas scorer."""
        plan = _plan(QUERIES["q_knn_label_ann"](spark, SF_SMALL))
        assert "MapInPandas" in plan
        assert "ArrowEvalPython" in plan        # lsh_bucket kernel
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Join" not in plan               # no candidate-grain join

    def test_dedup_edit_gram_join_is_shuffle_hash(self, spark):
        """The (df, gram) ranking join is pinned shuffle_hash (the
        gram-frequency table is vocabulary-sized — never broadcast,
        the r10 OOM lesson) and the persisted gram table serves both
        signature and candidate sides from cache."""
        plan = _plan(QUERIES["q_dedup_edit"](spark, SF_SMALL))
        assert "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan

    def test_bpe_train_result_is_bounded_local_artifact(self, spark):
        """The merge table IS a driver artifact (n_merges rows) — its
        plan is a LocalTableScan, all training work having run at
        vocabulary grain inside the loop."""
        plan = _plan(QUERIES["q_bpe_train"](spark, SF_SMALL))
        # createDataFrame-from-driver-rows plans as ExistingRDD (or
        # LocalTableScan via Arrow) — either way a bounded local scan
        assert "ExistingRDD" in plan or "LocalTableScan" in plan
        assert "Exchange" not in plan

    def test_bpe_tokens_is_zero_exchange_mapside(self, spark):
        """Encoding replays the merge table as a literal JVM replace
        chain: ONE narrow map-side pass — no shuffle, no Python."""
        plan = _plan(QUERIES["q_bpe_tokens"](spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan   # Arrow or batch — neither

    def test_udtf_runs_fans_out_without_exchange(self, spark):
        """The LATERAL UDTF is row-local fan-out: Python eval on the
        scan, zero exchanges until a downstream consumer aggregates."""
        plan = _plan(QUERIES["q_udtf_runs"](spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "PythonUDTF" in plan or "EvalPython" in plan

    def test_json_variant_is_zero_exchange_jvm(self, spark):
        """parse_json + typed variant_get paths are JVM expressions:
        one map-side projection over the scan — no shuffle, no
        Python worker."""
        plan = _plan(QUERIES["q_json_variant"](spark, SF_SMALL))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestLateR12RegistrationPlanContracts:
    """Plan contracts for the two late-r12 registrations (the banked
    r13 candidates, pulled forward into the free window headroom)."""

    def test_pack_sequences_prefix_sum_is_two_phase(self, spark):
        """Offsets come from the distributed two-phase prefix sum:
        range partitioning by the order key, per-partition windows,
        and the per-partition totals cascade BROADCAST back — the
        only single-partition work is the <= #partitions-row totals
        window, never corpus rows."""
        plan = _plan(QUERIES["q_pack_sequences"](spark, SF_SMALL))
        assert "rangepartitioning" in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_dedup_semantic_pairs_only_within_clusters(self, spark):
        """Candidate pairing is a cluster equi-join — never the
        corpus cross product; coarse + fine assignment run as Arrow
        kernels (the fine quantizer is a bounded broadcast artifact —
        no cogroup cell materialization in the default regime), and
        the fine trainer runs as a DISTRIBUTED grouped-pandas stage
        (the two-level weak-grade fix: no driver-side O(K²) Lloyd)."""
        plan = _plan(QUERIES["q_dedup_semantic"](spark, SF_SMALL))
        assert "ArrowEvalPython" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the per-cell fine Lloyd runs as a DISTRIBUTED grouped-pandas
        # stage: in the default broadcast regime it executes eagerly
        # at build time (the bounded quantizer collect), so pin it on
        # the lazy cogroup regime's plan, where the same trainer
        # lineage is visible alongside the cogrouped assignment
        from pyspark.sql import functions as SF

        from gasket_spark.operators.similarity import (
            two_level_assignments)

        emb = (spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
               .select("vec_id", SF.transform(
                   "embedding", lambda x: x.cast("double"))
                   .alias("embedding")))
        lazy = _plan(two_level_assignments(emb, 2, 2,
                                           assign_via="cogroup"))
        assert "FlatMapGroupsInPandas" in lazy
        assert "FlatMapCoGroupsInPandas" in lazy
