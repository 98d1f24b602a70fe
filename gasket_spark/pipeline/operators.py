"""The six gasket composition operators as DataFrame combinators.

Each maps a reference stream combinator to a declarative Spark shape
(citations into /root/reference/index.js). These are plain functions —
usable directly on DataFrames, and by the pipeline engine's compiler.

Ordering note: Spark unions are bag-semantics and order-free; the
reference's ``run`` concatenation is *ordered* (multistream,
index.js:30-39). We preserve that with an ordinal column + sort, which
at scale costs one range partitioning of the (usually small) final
output rather than a forced single partition.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORD_COL = "_gasket_ord"

Transform = Callable[[DataFrame], DataFrame]


def pipe_compose(df: DataFrame, transforms: Sequence[Transform]) -> DataFrame:
    """``pipe`` — sequential composition (index.js:52-56): stage i+1
    consumes stage i's output. The composed lazy plan is a single
    Catalyst tree, so filters/projections written as separate stages
    still fuse into one whole-stage-codegen span."""
    return reduce(lambda acc, t: t(acc), transforms, df)


def run_concat(dfs: Sequence[DataFrame], keep_ord: bool = False) -> DataFrame:
    """``run`` — *ordered* concatenation (index.js:30-39). Tag each
    input with its ordinal, union, sort by ordinal. With ``keep_ord``
    the tag column stays (hashable evidence of order for tests)."""
    tagged = [df.withColumn(ORD_COL, F.lit(i)) for i, df in enumerate(dfs)]
    out = reduce(lambda a, b: a.unionByName(b), tagged).orderBy(ORD_COL)
    return out if keep_ord else out.drop(ORD_COL)


def fork_union(dfs: Sequence[DataFrame]) -> DataFrame:
    """``fork`` — parallel merge (index.js:42-49): interleaved,
    order-free. Exactly Spark's union bag semantics; all branches scan
    concurrently as independent stages of one job."""
    return reduce(lambda a, b: a.unionByName(b), dfs)


def map_broadcast(src: DataFrame, consumers: Sequence[Transform]) -> DataFrame:
    """``map`` — fan-out (index.js:59-69, map arm :62): every source
    row goes to *each* consumer; consumer outputs merge. The plan pins
    nothing: a caller whose source is costly to recompute caches it
    and releases it once the last action that reads the result has
    run — the reference gets that sharing from stream teeing, which
    ends with the pipeline. ``Engine`` caches a pipeline's map
    sources and releases them when it builds that pipeline again."""
    return fork_union([t(src) for t in consumers])


def reduce_fanin(producers: Sequence[DataFrame], consumer: Transform) -> DataFrame:
    """``reduce`` — fan-in (index.js:59-69, reduce arm :64): all
    producers' outputs flow into the single consumer (typically an
    aggregate)."""
    return consumer(fork_union(producers))


def background_union(main: DataFrame, background: Sequence[DataFrame]) -> DataFrame:
    """``background`` (batch realization, index.js:167-174): background
    stage outputs interleave with the main pipeline's (the reference's
    ``parallel([mainPipeline, bkgds])``). In batch both are bounded, so
    this is a union; the streaming lifecycle variant (start side query,
    stop on main completion) lives in gasket_spark.streaming."""
    return fork_union([main, *background])
