"""Pipeline-operator queries: gasket's composition vocabulary
(pipe/run/fork/map/reduce, /root/reference/index.js:140-161) exercised
over relational stages and verified against SQL oracles.

These run through the real Engine/operator code paths — not
hand-inlined equivalents — so the correctness gate covers the pipeline
kernel itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gasket_spark.io import read_table
from gasket_spark.pipeline import operators as ops
from gasket_spark.pipeline.engine import Engine
from gasket_spark.queries import query


# module-level stage functions (importable, deterministic)

def _stage_filter_highvalue(df: DataFrame, ctx) -> DataFrame:
    return df.filter(F.col("o_totalprice") > 200000)


def _stage_project_year(df: DataFrame, ctx) -> DataFrame:
    return df.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        "o_totalprice",
    )


def _stage_agg_by_year(df: DataFrame, ctx) -> DataFrame:
    return (
        df.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
             / F.lit(100.0)).alias("total"),
        )
    )


@query(
    "q_pipe_compose",
    oracle="""
    SELECT yr, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS total
    FROM (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr, o_totalprice
          FROM orders WHERE o_totalprice > 200000)
    GROUP BY yr
    """,
)
def q_pipe_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gasket ``pipe`` (index.js:52-56) over relational module stages:
    filter → project → aggregate, compiled by the Engine into ONE
    Catalyst tree — the stages fuse into a single codegen span, proving
    composition adds no physical boundaries."""
    eng = Engine({"p": [_stage_filter_highvalue, _stage_project_year,
                        _stage_agg_by_year]}, spark=spark)
    return eng.pipe("p", input_df=read_table(spark, sf_dir, "orders"))


@query(
    "q_run_concat",
    oracle="""
    SELECT 0 AS ord, r_name AS name FROM region
    UNION ALL
    SELECT 1 AS ord, n_name AS name FROM nation
    """,
)
def q_run_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gasket ``run`` — *ordered* concatenation (index.js:30-39) via the
    ordinal-tag pattern (Spark unions are bags; the ordinal preserves
    gasket's declared order observably)."""
    r = read_table(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    n = read_table(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    out = ops.run_concat([r, n], keep_ord=True)
    return out.select(F.col(ops.ORD_COL).cast("int").alias("ord"), "name")


@query(
    "q_fork_union",
    oracle="""
    SELECT 'customer' AS src, c_nationkey AS nk FROM customer
    UNION ALL
    SELECT 'supplier' AS src, s_nationkey AS nk FROM supplier
    """,
)
def q_fork_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gasket ``fork`` — parallel merge (index.js:42-49): bag union,
    branches scan concurrently."""
    c = read_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"), F.col("c_nationkey").alias("nk"))
    s = read_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"), F.col("s_nationkey").alias("nk"))
    return ops.fork_union([c, s])


@query(
    "q_map_broadcast",
    oracle="""
    SELECT n_name AS s FROM nation
    UNION ALL
    SELECT upper(n_name) AS s FROM nation
    """,
)
def q_map_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gasket ``map`` — fan-out (index.js:62): every row of the source
    reaches each consumer. The 25-row nation scan is read once per
    consumer; the plan pins nothing."""
    src = read_table(spark, sf_dir, "nation")
    return ops.map_broadcast(src, [
        lambda d: d.select(F.col("n_name").alias("s")),
        lambda d: d.select(F.upper("n_name").alias("s")),
    ])


@query(
    "q_reduce_fanin",
    oracle="""
    SELECT nk, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION ALL
      SELECT s_nationkey AS nk FROM supplier
    ) GROUP BY nk
    """,
)
def q_reduce_fanin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gasket ``reduce`` — fan-in (index.js:64): producers union into a
    single aggregating consumer (partial aggregation applies before the
    shuffle, so the fan-in is map-side cheap)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return ops.reduce_fanin(
        [c, s],
        lambda d: d.groupBy("nk").agg(F.count(F.lit(1)).alias("n")))


@query(
    "q_cmd_pipe",
    oracle="""
    SELECT r_name AS line FROM region
    """,
)
def q_cmd_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""gasket command stage (index.js:14-27): a line stream piped
    through an external ``tr a-z A-Z`` child process per partition
    (the JVM ``PipedRDD``: each row one line; ``\n``, ``\r\n`` and a lone
    ``\r`` end an output row; the child inherits the executor's
    environment plus the engine's env and ``GASKET_PIPELINE``; a
    non-zero exit fails the action), read back as lines. HASH-checked, not
    just rows-only: the input is one lowercase-only line column (a
    single string column rides the line-stream convention untouched),
    so the child's observable output is a pure string function of the
    row that the SQL oracle regenerates literally — region names are
    [A-Z ]-only, so ``lower`` then ``tr`` round-trips to the
    original."""
    eng = Engine({"shout": ["tr a-z A-Z"]}, spark=spark)
    src = read_table(spark, sf_dir, "region").select(
        F.lower(F.col("r_name")).alias("name"))
    out = eng.pipe("shout", input_df=src)
    return out.select(F.col("value").alias("line"))


# ---------------------------------------------------------------------------
# the flagship composition: a training-data curation pipeline run
# THROUGH the gasket Engine (the whole point of the rebuild — gasket's
# composition vocabulary over the LLM-data operator set)
# ---------------------------------------------------------------------------

def _stage_normalize(df: DataFrame, ctx) -> DataFrame:
    norm = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "))
    return df.select("doc_id", "lang", norm.alias("norm_text"))


def _stage_quality_gate(df: DataFrame, ctx) -> DataFrame:
    return df.filter(F.size(F.split("norm_text", " ")) >= 20)


def _stage_exact_dedup(df: DataFrame, ctx) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("norm_text")).orderBy("doc_id")
    return df.withColumn("_rk", F.row_number().over(w)) \
        .filter(F.col("_rk") == 1).drop("_rk")


def _stage_corpus_stats(df: DataFrame, ctx) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("norm_text", " ")).cast("bigint"))
        .alias("total_tokens"))


@query(
    "q_pipeline_curate",
    oracle="""
    WITH normed AS (
      SELECT doc_id, lang,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
      FROM documents),
    gated AS (
      SELECT * FROM normed
      WHERE len(string_split(norm_text, ' ')) >= 20),
    deduped AS (
      SELECT * FROM (
        SELECT gated.*, row_number() OVER (
          PARTITION BY md5(norm_text) ORDER BY doc_id) AS rk
        FROM gated) t
      WHERE rk = 1)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(string_split(norm_text, ' ')) AS BIGINT))
             AS BIGINT) AS total_tokens
    FROM deduped GROUP BY lang
    """,
)
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: a four-stage training-data curation
    pipeline (normalize → quality gate → exact dedup → corpus stats)
    declared as a gasket pipeline spec and compiled BY THE ENGINE into
    one Catalyst tree (/root/reference/index.js:52-56 semantics over
    the LLM operator set). The narrow stages (normalize, gate) fuse
    into the scan's codegen span; dedup is the only shuffle before the
    final vocab-sized aggregate — composition itself adds zero
    physical boundaries, which is the reason the rebuild maps gasket
    pipelines to lazy DataFrame chains instead of materialized
    stages."""
    eng = Engine({"curate": [_stage_normalize, _stage_quality_gate,
                             _stage_exact_dedup, _stage_corpus_stats]},
                 spark=spark)
    return eng.pipe("curate",
                    input_df=read_table(spark, sf_dir, "documents"))


# multimodal curation pipeline stages (module-level, deterministic)

def _stage_attach_media(df: DataFrame, ctx) -> DataFrame:
    from gasket_spark.operators import multimodal as M

    return M.attach_media(df)


def _stage_decode_features(df: DataFrame, ctx) -> DataFrame:
    from gasket_spark.operators import multimodal as M

    return M.extract_features(df)


def _stage_dedup_media(df: DataFrame, ctx) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("checksum").orderBy("media_id")
    return df.withColumn("_rk", F.row_number().over(w)) \
        .filter(F.col("_rk") == 1).drop("_rk")


def _stage_media_stats(df: DataFrame, ctx) -> DataFrame:
    return df.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.count_distinct("checksum").alias("n_distinct_checksums"),
        F.sum(F.round(F.col("metric") * 1e6).cast("bigint"))
        .alias("sum_metric_micro"))


@query(
    "q_pipeline_multimodal",
    oracle="""
    WITH m AS (
      SELECT doc_id, length(text) AS lt,
             4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             4 + doc_id % 5 AS vw, 2 + doc_id % 3 AS vh,
             2 + doc_id % 4 AS vn
      FROM documents),
    feat AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CASE WHEN doc_id % 3 = 1 THEN CAST(44 + 2 * lt AS BIGINT)
                  WHEN doc_id % 3 = 0
                  THEN CAST(9 + length(CAST(w AS VARCHAR))
                              + length(CAST(h AS VARCHAR))
                              + 3 * w * h AS BIGINT)
                  ELSE CAST(224 + vn * (8 + ((3 * vw + 3) // 4) * 4 * vh)
                       AS BIGINT)
             END AS n_bytes,
             CASE WHEN doc_id % 3 = 1
                  THEN md5(array_to_string(list_transform(
                         range(0, lt),
                         i -> (doc_id * 31 + i * 7) % 256 - 128), ','))
                  WHEN doc_id % 3 = 0
                  THEN md5(array_to_string(list_transform(
                         range(0, 3 * w * h),
                         i -> (doc_id * 13 + i * 5) % 256), ','))
                  ELSE md5(array_to_string(list_transform(
                         range(0, vn * 3 * vw * vh),
                         k -> (doc_id * 17 + (k // (3 * vw * vh)) * 11
                               + (k % (3 * vw * vh)) * 3) % 256), ','))
             END AS checksum,
             CASE WHEN doc_id % 3 = 1
                  THEN CAST(round(sqrt(CAST(list_sum(list_transform(
                         range(0, lt),
                         i -> ((doc_id * 31 + i * 7) % 256 - 128)
                            * ((doc_id * 31 + i * 7) % 256 - 128)))
                       AS DOUBLE) / lt) * 1e6) AS BIGINT)
                  WHEN doc_id % 3 = 0
                  THEN CAST(round(CAST(list_sum(list_transform(
                         range(0, 3 * w * h),
                         i -> (doc_id * 13 + i * 5) % 256))
                       AS DOUBLE) / (3 * w * h) * 1e6) AS BIGINT)
                  ELSE CAST(round(CAST(list_sum(list_transform(
                         range(0, vn * 3 * vw * vh),
                         k -> (doc_id * 17 + (k // (3 * vw * vh)) * 11
                               + (k % (3 * vw * vh)) * 3) % 256))
                       AS DOUBLE) / (vn * 3 * vw * vh) * 1e6) AS BIGINT)
             END AS metric_micro
      FROM m),
    deduped AS (
      SELECT * FROM (
        SELECT feat.*, row_number() OVER (
          PARTITION BY checksum ORDER BY doc_id) AS rk
        FROM feat) t
      WHERE rk = 1)
    SELECT modality, COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT checksum) AS BIGINT)
             AS n_distinct_checksums,
           CAST(SUM(metric_micro) AS BIGINT) AS sum_metric_micro
    FROM deduped GROUP BY modality
    """,
)
def q_pipeline_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND flagship composition — the multimodal twin of
    q_pipeline_curate: attach → REAL decode (WAV/PPM/AVI strict
    parsers in one Arrow-batched mapInPandas stage) → exact dedup on
    the decode-invariant content checksum (the canonicalized pixels/
    samples, so re-containered copies of the same media collapse) →
    per-modality corpus stats, declared as a gasket pipeline and
    compiled by the Engine into one Catalyst tree. Decode is the only
    Python crossing, dedup the only wide shuffle, and the stats ride
    integer micro-units end to end — the oracle re-derives every
    decoded byte in closed form, so the WHOLE four-stage pipeline is
    hash-exact cross-engine."""
    eng = Engine({"curate_media": [_stage_attach_media,
                                   _stage_decode_features,
                                   _stage_dedup_media,
                                   _stage_media_stats]},
                 spark=spark)
    return eng.pipe("curate_media",
                    input_df=read_table(spark, sf_dir, "documents"))
