r"""Stage kinds: external command stages and in-process module stages.

Command stages are the reference's child-process duplex
(index.js:14-27) re-expressed as Spark's JVM
``PipedRDD`` — the one place the engine deliberately drops below the
DataFrame API, because the semantics (arbitrary OS command over a line
stream) are inherently imperative. Each partition spawns one child on
an executor, so an N-partition input runs N concurrent copies of the
command — the data-parallel generalization of gasket's single child
per stage. Rows go from the JVM to the child and back without passing
through a Python worker. The contract:

* framing — each input row is written as one line, NULL as an empty
  line, with trailing ``\n``s stripped first; ``\n``, ``\r\n`` and a
  lone ``\r`` each end an output row (the rule ``spark.read.text``
  applies to every file read by ``io.read_text_lines``). Output must be
  valid UTF-8, or the action fails.
* environment — the child inherits the executor's environment, with
  the engine's ``env`` and ``GASKET_PIPELINE`` laid over it (the
  reference inherits ``process.env``, SURVEY.md §1.2).
* exit code — a non-zero exit fails the action. A child that stops
  reading its stdin early (``head -n 1``) is not an error.

Module stages are in-process transforms (index.js:71-74): any Python
callable ``fn(df, ctx) -> DataFrame``. With ``json=True`` the input
line stream is lifted to typed records first and the output serialized
back to NDJSON lines after (the reference's ndjson sandwich,
index.js:73); the lift is the JVM's ``DataFrameReader.json`` over the
line column itself.
"""

from __future__ import annotations

import importlib
import inspect
import shlex
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gasket_spark.io import df_to_ndjson
from gasket_spark.pipeline.spec import Stage

# the child's stdin buffer and the byte encoding of its stdin and stdout
_PIPE_BUFFER = 8192
_PIPE_ENCODING = "UTF-8"


@dataclass
class StageContext:
    """Execution context a stage receives — the analog of gasket's
    opts merge (cwd/env/params, /root/reference/index.js:124-132) plus
    the pipeline-name argv injection (index.js:85)."""

    spark: SparkSession
    name: str                       # pipeline name (argv[0] analog)
    params: list[str] = field(default_factory=list)
    env: dict[str, str] = field(default_factory=dict)
    debug: bool = False
    # debug tap (reference DEBUG wrap, index.js:77-80): per-stage
    # Observation objects — row counts become available after the
    # pipeline's action with zero extra jobs (observe() piggybacks the
    # metrics on the action itself, unlike a count() per stage)
    observations: list = field(default_factory=list)


def _is_line_df(df: DataFrame) -> bool:
    return len(df.columns) == 1 and df.schema[0].dataType.simpleString() == "string"


def to_lines(df: DataFrame) -> DataFrame:
    """Coerce any DataFrame to a single-string-column line stream
    (typed rows become NDJSON — the boundary convention between typed
    stages and byte-stream command stages)."""
    return df if _is_line_df(df) else df_to_ndjson(df)


def _strings(df: DataFrame):
    """The single string column of ``df`` as a JVM ``Dataset[String]``."""
    encoders = df.sparkSession._jvm.org.apache.spark.sql.Encoders
    return getattr(df._jdf, "as")(encoders.STRING())


def run_command_stage(stage: Stage, ctx: StageContext,
                      df: DataFrame | None) -> DataFrame:
    """Execute an external command stage through the JVM ``PipedRDD``
    (framing, environment and exit-code rules in the module docstring).

    Explicit stage/invocation params are appended to the command line
    (the reference's params injection, index.js:85) and the line is
    split with ``shlex`` into argv; no shell runs it. The reference
    also prepends the *pipeline name* to params — which, if appended
    to the command, would break its own documented examples (`cat -`
    would become `cat - main`; readme.md:44-48 expects `echo hello
    world | transform-uppercase` ⇒ exactly `HELLO WORLD`). We implement
    the intended surface (SURVEY.md §2.4 discipline): only explicit
    params reach argv; the pipeline name is exported as
    ``$GASKET_PIPELINE``.

    A non-zero exit fails the task (≙ the error-destroy at
    index.js:16-18). With no input (``run``-style source stage) the
    command runs once in a single empty partition — stdin closed,
    output captured. With input, each partition, an empty one too,
    pipes through its own child process (data-parallel fan-out of
    gasket's single child per stage).
    """
    spark = ctx.spark
    argv = shlex.split(" ".join(
        [stage.command, *[shlex.quote(a) for a in [*stage.params, *ctx.params]]]))
    env = {**(ctx.env or {}), "GASKET_PIPELINE": ctx.name}
    if df is None:
        rows = spark._jsc.parallelize(spark._jvm.java.util.ArrayList(), 1)
    else:
        # str.rstrip("\n"): Java's `$` would also match before a final \r
        line = F.regexp_replace(F.col("value"), r"\n+\z", "")
        lines = to_lines(df).toDF("value").select(F.coalesce(line, F.lit("")))
        rows = _strings(lines).javaRDD()
    piped = rows.pipe(argv, env, False, _PIPE_BUFFER, _PIPE_ENCODING)
    encoders = spark._jvm.org.apache.spark.sql.Encoders
    return DataFrame(spark._jsparkSession.createDataset(
        piped.rdd(), encoders.STRING()).toDF(), spark)


def _resolve_module(module: str | Callable) -> Callable:
    """Resolve a module reference: a callable, ``pkg.mod:fn``, or a
    dotted path whose last element is the function (analog of the
    reference's ``resolve.sync`` module lookup, index.js:72)."""
    if callable(module):
        return module
    if ":" in module:
        mod_name, fn_name = module.split(":", 1)
    else:
        mod_name, _, fn_name = module.rpartition(".")
    mod = importlib.import_module(mod_name)
    fn = getattr(mod, fn_name)
    if not callable(fn):
        raise TypeError(f"module stage target is not callable: {module}")
    return fn


def _call_stage_fn(fn: Callable, df: DataFrame | None, ctx: StageContext):
    try:
        n_params = len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):
        n_params = 2
    return fn(df, ctx) if n_params >= 2 else fn(df)


def run_module_stage(stage: Stage, ctx: StageContext,
                     df: DataFrame | None) -> DataFrame:
    """Execute an in-process module stage.

    ``json=True``: input lines are parsed to typed records (pinned
    ``stage.schema`` if given — the deterministic, single-pass path;
    else one inference pass), the fn transforms typed rows, and the
    output is re-serialized to NDJSON lines (index.js:73 semantics).
    The parse is the JVM ``DataFrameReader.json(Dataset[String])`` over
    the line column, in PERMISSIVE mode: a malformed line becomes an
    all-NULL record (with inference, its text lands in
    ``_corrupt_record``), an empty or blank line is skipped, and a NULL
    line becomes an all-NULL record.
    """
    fn = _resolve_module(stage.module)
    if stage.json and df is not None:
        reader = ctx.spark.read
        if stage.schema is not None:
            reader = reader.schema(stage.schema)
        df = DataFrame(reader._jreader.json(_strings(to_lines(df))), ctx.spark)
    out = _call_stage_fn(fn, df, ctx)
    if not isinstance(out, DataFrame):
        raise TypeError(
            f"module stage {stage.module!r} must return a DataFrame, got {type(out)}")
    return df_to_ndjson(out) if stage.json else out


def run_stage(stage: Stage, ctx: StageContext,
              df: DataFrame | None) -> DataFrame:
    out = (run_command_stage if stage.kind == "command" else run_module_stage)(
        stage, ctx, df)
    if ctx.debug:
        import sys
        print(f"[gasket:{ctx.name}] stage={stage.to_json()!r} "
              f"schema={out.schema.simpleString()}", file=sys.stderr)
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation(
            f"{ctx.name}[{len(ctx.observations)}] {stage.to_json()!r}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        ctx.observations.append(obs)
    return out
