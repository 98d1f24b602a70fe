"""The pipeline engine: registry, compiler, and invocation API.

The reference's constructor/API surface (/root/reference/index.js:
117-212): ``list / has / pipe / run / exec / toJSON`` plus config
discovery (``load``, index.js:214-256) and registry CRUD (the CLI's
add/rm, /root/reference/bin.js:94-130).

Compilation model (the Spark analog of index.js:130-176): a pipeline's
stage list is split into maximal same-type groups; each group compiles
to one DataFrame; group outputs are sequenced by *ordered* concat
(``runStream(mainPipeline)``, index.js:164); ``background`` groups are
unioned into the final output (``parallel([mainPipeline, bkgds])``,
index.js:172). Everything stays a lazy logical plan until the caller
acts on it — the engine never triggers a job itself.

Only a ``pipe`` group's first stage receives the pipeline's input
(stdin); every other group is a source (the reference ``.end()``s
group stdins: index.js:33,45,54).
"""

from __future__ import annotations

import json as _json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gasket_spark.pipeline import operators as ops
from gasket_spark.pipeline.spec import Stage, split_groups
from gasket_spark.pipeline.stages import StageContext, run_stage


class Engine:
    """Compile a pipeline config into callable DataFrame pipelines."""

    def __init__(self, config: dict[str, list] | list | None = None,
                 cwd: str | None = None, env: dict[str, str] | None = None,
                 spark: SparkSession | None = None):
        if config is None:
            config = {}
        if isinstance(config, list):  # bare array → {main: [...]} (index.js:120)
            config = {"main": config}
        self._config: dict[str, list] = dict(config)
        self.cwd = os.path.abspath(cwd or ".")
        self.env = dict(env or {})
        self._spark = spark
        self.config_path: str | None = None
        # pipeline name → the map sources its last build cached
        self._cached: dict[str, list[DataFrame]] = {}

    # -- registry ---------------------------------------------------------

    def list(self) -> list[str]:
        return list(self._config.keys())

    def has(self, name: str) -> bool:
        return name in self._config

    def to_json(self) -> dict[str, list]:
        return dict(self._config)

    toJSON = to_json  # reference-compatible alias (index.js:208)

    def add(self, name: str, stage: Any) -> None:
        """Append a stage to a pipeline (creates it if missing) — the
        CLI ``add`` verb (/root/reference/bin.js:94-103)."""
        self._config.setdefault(name, []).append(stage)

    def rm(self, name: str) -> None:
        self._config.pop(name, None)

    # -- execution --------------------------------------------------------

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from gasket_spark.session import get_spark
            self._spark = get_spark()
        return self._spark

    def pipe(self, name: str, input_df: DataFrame | None = None,
             params: list[str] | None = None) -> DataFrame:
        """Instantiate a pipeline with its input left open — the caller
        supplies ``input_df`` (≙ stdin, index.js:188-195). Lazy: returns
        the composed DataFrame, no action triggered. A ``map`` group
        caches its source until this pipeline is built again; an action
        on the previous build after that recomputes the source."""
        if not self.has(name):
            raise KeyError(f"no pipeline named {name!r}")
        for src in self._cached.pop(name, []):
            src.unpersist()
        cached = self._cached[name] = []
        ctx = StageContext(
            spark=self.spark, name=name, params=[str(p) for p in params or []],
            env=self.env, debug=bool(os.environ.get("GASKET_DEBUG")))
        # DEBUG tap surface: after the caller's action, each
        # Observation in last_observations yields its stage's row count
        self.last_observations = ctx.observations
        groups = split_groups(self._config[name])
        main_outputs: list[DataFrame] = []
        background: list[DataFrame] = []
        current_input = input_df  # only the first group sees pipeline stdin
        for group in groups:
            gtype = group[0].type
            if gtype == "pipe":
                out = self._eval_pipe(group, ctx, current_input)
            elif gtype == "run":
                out = ops.run_concat([run_stage(s, ctx, None) for s in group])
            elif gtype == "fork":
                out = ops.fork_union([run_stage(s, ctx, None) for s in group])
            elif gtype == "map":
                src = run_stage(group[0], ctx, current_input)
                consumers = [
                    (lambda df, s=s: run_stage(s, ctx, df)) for s in group[1:]]
                if consumers:
                    src = src.cache()
                    out = ops.map_broadcast(src, consumers)
                    cached.append(src)
                else:
                    out = src
            elif gtype == "reduce":
                producers = [run_stage(s, ctx, None) for s in group[1:]]
                first = group[0]
                if producers:
                    out = ops.reduce_fanin(
                        producers, lambda df: run_stage(first, ctx, df))
                else:
                    out = run_stage(first, ctx, current_input)
            elif gtype == "background":
                background.extend(run_stage(s, ctx, None) for s in group)
                continue
            else:  # pragma: no cover - spec already validates
                raise ValueError(f"unsupported group type {gtype!r}")
            main_outputs.append(out)
            current_input = None
        if not main_outputs and not background:
            raise ValueError(f"pipeline {name!r} is empty")
        if not main_outputs:
            # Background-only pipeline — the reference runs it as
            # parallel([empty multistream, ...backgrounds]) (index.js:115),
            # so the pipeline's output IS the background union.
            return ops.fork_union(background)
        main = (main_outputs[0] if len(main_outputs) == 1
                else ops.run_concat(main_outputs))
        if background:
            main = ops.background_union(main, background)
        return main

    def _eval_pipe(self, group: list[Stage], ctx: StageContext,
                   input_df: DataFrame | None) -> DataFrame:
        df = input_df
        for stage in group:
            df = run_stage(stage, ctx, df)
        return df

    def run(self, name: str, params: list[str] | None = None) -> DataFrame:
        """Instantiate with stdin closed (≙ ``.run``'s immediate
        ``end()``, index.js:197-201): source stages produce all data."""
        return self.pipe(name, input_df=None, params=params)

    def exec(self, command: str, params: list[str] | None = None,
             input_df: DataFrame | None = None) -> DataFrame:
        """Ad-hoc single-command stage; argv name is the literal
        ``'exec'`` (index.js:203-206)."""
        ctx = StageContext(spark=self.spark, name="exec",
                           params=[str(p) for p in params or []], env=self.env)
        return run_stage(Stage(kind="command", command=command), ctx, input_df)

    # -- persistence ------------------------------------------------------

    def save(self, path: str | None = None) -> str:
        """Persist the registry — gasket.json gets the raw mapping, a
        package.json gets it under the ``"gasket"`` key
        (/root/reference/bin.js:26-46)."""
        path = path or self.config_path or os.path.join(self.cwd, "gasket.json")
        if os.path.basename(path) == "package.json":
            data = {}
            if os.path.exists(path):
                with open(path) as fh:
                    data = _json.load(fh)
            data["gasket"] = self._config
        else:
            data = self._config
        with open(path, "w") as fh:
            _json.dump(data, fh, indent=2)
            fh.write("\n")
        self.config_path = path
        return path


def load(cwd_or_file: str = ".", env: dict[str, str] | None = None,
         spark: SparkSession | None = None) -> Engine:
    """Config discovery, same order as the reference (index.js:242-255):
    explicit file path → ``<dir>/gasket.json`` → ``<dir>/package.json``
    (config under its ``"gasket"`` key, index.js:219-220). The config's
    directory becomes the engine cwd (index.js:237)."""
    candidates: list[str]
    if os.path.isfile(cwd_or_file):
        candidates = [cwd_or_file]
    else:
        candidates = [os.path.join(cwd_or_file, "gasket.json"),
                      os.path.join(cwd_or_file, "package.json")]
    for path in candidates:
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            data = _json.load(fh)  # malformed JSON raises, as in the reference
        if os.path.basename(path) != "gasket.json":
            data = data.get("gasket", {})
        eng = Engine(data, cwd=os.path.dirname(os.path.abspath(path)),
                     env=env, spark=spark)
        eng.config_path = path
        return eng
    raise FileNotFoundError(
        f"no gasket.json or package.json found under {cwd_or_file!r}")
