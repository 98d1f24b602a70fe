"""Engine + operator semantics tests on tiny DataFrames, mirroring the
reference's behavior table (SURVEY.md §2A) and its smoke test
(`echo hello world | transform-uppercase` → HELLO WORLD,
/root/reference/test.js:5-20)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gasket_spark import io
from gasket_spark.pipeline import Engine, load
from gasket_spark.pipeline import operators as ops


def lines(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "value string")


def upper_stage(df, ctx):
    return df.select(F.upper("value").alias("value"))


def exclaim_stage(df, ctx):
    return df.select(F.concat("value", F.lit("!")).alias("value"))


def source_stage(df, ctx):
    # run/fork-style producer: ignores (None) input.
    assert df is None
    return ctx.spark.createDataFrame([(f"src:{ctx.name}",)], "value string")


class TestPipeCompose:
    def test_reference_smoke(self, spark):
        # the reference's only test (test.js:5-20): a single pipe group
        # `echo hello world | transform-uppercase`; the source command
        # ignores its (closed) stdin.
        eng = Engine({"main": ["echo hello world", upper_stage]}, spark=spark)
        out = [r.value for r in eng.run("main").collect()]
        assert out == ["HELLO WORLD"]

    def test_chain_order(self, spark):
        eng = Engine({"p": [upper_stage, exclaim_stage]}, spark=spark)
        out = eng.pipe("p", lines(spark, "a", "b")).collect()
        assert sorted(r.value for r in out) == ["A!", "B!"]

    def test_operator_fn(self, spark):
        df = lines(spark, "x")
        out = ops.pipe_compose(df, [lambda d: d.select(F.upper("value").alias("value")),
                                    lambda d: d.select(F.concat("value", F.lit("!")).alias("value"))])
        assert [r.value for r in out.collect()] == ["X!"]


class TestRunConcat:
    def test_ordered(self, spark):
        # gasket `run` guarantees declared order (index.js:30-39).
        dfs = [lines(spark, "b"), lines(spark, "a"), lines(spark, "c")]
        out = [r.value for r in ops.run_concat(dfs).collect()]
        assert out == ["b", "a", "c"]

    def test_engine_run_group(self, spark):
        eng = Engine({"p": [
            {"command": "echo one", "type": "run"},
            {"command": "echo two", "type": "run"},
        ]}, spark=spark)
        assert [r.value for r in eng.run("p").collect()] == ["one", "two"]


class TestForkUnion:
    def test_bag_merge(self, spark):
        out = ops.fork_union([lines(spark, "a"), lines(spark, "b")])
        assert sorted(r.value for r in out.collect()) == ["a", "b"]

    def test_engine_fork_group(self, spark):
        eng = Engine({"p": [
            {"exports": source_stage, "type": "fork"},
            {"exports": source_stage, "type": "fork"},
        ]}, spark=spark)
        assert [r.value for r in eng.run("p").collect()] == ["src:p", "src:p"]


class TestMapBroadcast:
    def test_every_row_to_every_consumer(self, spark):
        src = lines(spark, "a", "b")
        out = ops.map_broadcast(src, [
            lambda d: d.select(F.upper("value").alias("value")),
            lambda d: d.select(F.concat("value", F.lit("!")).alias("value")),
        ])
        assert sorted(r.value for r in out.collect()) == ["A", "B", "a!", "b!"]

    def test_engine_releases_the_previous_builds_cache(self, spark):
        # a command-stage source is a new RDD on every build, so each
        # build caches a new copy; the Engine drops the last build's
        # copy before it builds the same pipeline again
        jsc = spark.sparkContext._jsc
        before = set(dict(jsc.getPersistentRDDs()))
        eng = Engine({"m": [{"type": "map", "command": "cat"},
                            {"type": "map", "command": "tr a-z A-Z"},
                            {"type": "map", "command": "tr -d a"}]},
                     spark=spark)
        for _ in range(5):
            out = eng.pipe("m", lines(spark, "ab", "cd"))
            assert sorted(r.value for r in out.collect()) == [
                "AB", "CD", "b", "cd"]
            assert len(set(dict(jsc.getPersistentRDDs())) - before) <= 1


class TestReduceFanin:
    def test_union_then_consumer(self, spark):
        producers = [lines(spark, "a", "b"), lines(spark, "b")]
        out = ops.reduce_fanin(
            producers,
            lambda d: d.groupBy("value").agg(F.count(F.lit(1)).alias("n")))
        got = {(r.value, r.n) for r in out.collect()}
        assert got == {("a", 1), ("b", 2)}

    def test_engine_reduce_group(self, spark):
        agg = lambda df, ctx: df.groupBy().agg(  # noqa: E731
            F.count(F.lit(1)).alias("value")).select(
            F.col("value").cast("string").alias("value"))
        eng = Engine({"p": [
            {"exports": agg, "type": "reduce"},
            {"exports": source_stage, "type": "reduce"},
            {"exports": source_stage, "type": "reduce"},
        ]}, spark=spark)
        assert [r.value for r in eng.run("p").collect()] == ["2"]


class TestBackground:
    def test_background_output_interleaved(self, spark):
        # batch realization: background outputs union into main's
        # (parallel([mainPipeline, bkgds]), index.js:172)
        eng = Engine({"p": [
            {"command": "echo main", "type": "run"},
            {"exports": source_stage, "type": "background"},
        ]}, spark=spark)
        assert sorted(r.value for r in eng.run("p").collect()) == ["main", "src:p"]

    def test_background_only_pipeline(self, spark):
        # a pipeline of ONLY background stages is valid in the
        # reference (parallel([empty multistream, bkgds])): its output
        # is the background union, not an empty-reduce crash
        eng = Engine({"p": [
            {"exports": source_stage, "type": "background"},
            {"exports": source_stage, "type": "background"},
        ]}, spark=spark)
        assert sorted(r.value for r in eng.run("p").collect()) == [
            "src:p", "src:p"]


class TestCommandStages:
    def test_pipe_through_command(self, spark):
        eng = Engine({"p": ["tr a-z A-Z"]}, spark=spark)
        out = eng.pipe("p", lines(spark, "hey"))
        assert [r.value for r in out.collect()] == ["HEY"]

    def test_argv_injection(self, spark):
        # explicit params reach argv (index.js:85 intended surface);
        # the pipeline name rides in $GASKET_PIPELINE instead.
        eng = Engine({"shout": [
            {"command": "sh -c 'echo \"$GASKET_PIPELINE:$1\"' --",
             "type": "run"}]}, spark=spark)
        out = eng.run("shout", params=["x"])
        assert [r.value for r in out.collect()] == ["shout:x"]

    def test_failing_command_raises(self, spark):
        eng = Engine({"p": [{"command": "false", "type": "run"}]}, spark=spark)
        with pytest.raises(Exception, match="(?i)pipe|exit|code"):
            eng.run("p").collect()

    def test_exec(self, spark):
        # ad-hoc command; the name is the literal 'exec'
        # (index.js:203-206), carried in $GASKET_PIPELINE
        out = Engine(spark=spark).exec("sh -c 'echo $GASKET_PIPELINE'")
        assert [r.value for r in out.collect()] == ["exec"]

    def test_lf_crlf_and_lone_cr_each_end_an_output_row(self, spark, tmp_path):
        eng = Engine({"p": [{"command": r"printf 'x\r\ny\rz\n'",
                             "type": "run"}],
                      "cat": ["cat"]}, spark=spark)
        assert [r.value for r in eng.run("p").collect()] == ["x", "y", "z"]
        # the rule spark.read.text applies to a file entering a pipeline
        path = tmp_path / "mixed.txt"
        path.write_bytes(b"a\r\nb\rc\nd e\n\nf")
        src = io.read_text_lines(spark, str(path))
        want = [r.value for r in src.collect()]
        assert want == ["a", "b", "c", "d e", "", "f"]
        assert [r.value for r in eng.pipe("cat", src).collect()] == want

    def test_child_inherits_the_executor_environment(self, spark):
        show = {"command": """sh -c 'echo "$HOME|$GASKET_PIPELINE"'""",
                "type": "run"}
        out = Engine({"p": [show]}, spark=spark).run("p")
        assert [r.value for r in out.collect()] == [
            f"{os.environ['HOME']}|p"]
        # the engine's env is laid over the inherited one
        out = Engine({"p": [show]}, env={"HOME": "/elsewhere"},
                     spark=spark).run("p")
        assert [r.value for r in out.collect()] == ["/elsewhere|p"]

    def test_input_rows_are_shaped_into_lines(self, spark):
        eng = Engine({"cat": ["cat"], "wc": ["wc -c"]}, spark=spark)
        out = eng.pipe("cat", lines(spark, "a", None, "b").coalesce(1))
        assert [r.value for r in out.collect()] == ["a", "", "b"]
        # trailing \n's are stripped as str.rstrip("\n") does: "a\n\n"
        # is written as "a\n" and "b\n\r" as "b\n\r\n"
        out = eng.pipe("wc", lines(spark, "a\n\n", "b\n\r").coalesce(1))
        assert [r.value.strip() for r in out.collect()] == ["6"]

    def test_each_partition_runs_one_child_even_when_empty(self, spark):
        eng = Engine({"p": ["sh -c 'cat; echo end'"]}, spark=spark)
        src = spark.range(0, 1, 1, 4).select(
            F.col("id").cast("string").alias("value"))
        got = sorted(r.value for r in eng.pipe("p", src).collect())
        assert got == ["0", "end", "end", "end", "end"]

    def test_child_closing_stdin_early_succeeds(self, spark):
        eng = Engine({"p": ["head -n 1"]}, spark=spark)
        src = spark.range(0, 100000, 1, 2).select(
            F.col("id").cast("string").alias("value"))
        assert sorted(r.value for r in eng.pipe("p", src).collect()) == [
            "0", "50000"]

    def test_invalid_utf8_output_raises(self, spark):
        eng = Engine({"p": [{"command": r"printf '\377\n'", "type": "run"}]},
                     spark=spark)
        with pytest.raises(Exception, match="(?i)malformed|decode"):
            eng.run("p").collect()

    def test_multibyte_text_round_trips(self, spark):
        text = ["héllo wörld", "日本語 ✓", "emoji 🚀 end"]
        out = Engine({"p": ["cat"]}, spark=spark).pipe(
            "p", lines(spark, *text).coalesce(1))
        assert [r.value for r in out.collect()] == text


class TestJsonFraming:
    def test_ndjson_sandwich(self, spark):
        # json:true lifts lines → typed records → fn → NDJSON lines
        # (index.js:73)
        def double_v(df, ctx):
            return df.select("k", (F.col("v") * 2).alias("v"))

        eng = Engine({"p": [{"exports": double_v, "json": True,
                             "schema": "k string, v long"}]}, spark=spark)
        out = eng.pipe("p", lines(spark, '{"k":"a","v":1}', '{"k":"b","v":2}'))
        got = sorted(json.loads(r.value)["v"] for r in out.collect())
        assert got == [2, 4]

    @pytest.mark.parametrize("schema", [None, "a long, b string"])
    def test_lift_matches_the_rdd_reader(self, spark, schema):
        # the JVM lift is the overload spark.read.json(rdd) calls, so
        # parsing, inference and PERMISSIVE mode are the same
        vals = ['{"a":1,"b":"x"}', '{"a":2', None, "", '{"a":3,"c":[1]}']
        src = lines(spark, *vals)
        seen = []
        stage = {"exports": lambda df, ctx: seen.append(df) or df,
                 "json": True, "schema": schema}
        Engine({"p": [stage]}, spark=spark).pipe("p", src)
        reader = spark.read.schema(schema) if schema else spark.read
        rdd_path = reader.json(src.rdd.map(lambda r: r[0]))
        assert seen[0].schema == rdd_path.schema
        want = [r.asDict() for r in rdd_path.collect()]
        if schema is None:
            # the RDD reader got the NULL line as PySpark's str(None);
            # the lift reads a NULL line as an all-NULL record, as a
            # pinned schema already did
            nulls = dict.fromkeys(rdd_path.columns)
            want = [nulls if r["_corrupt_record"] == "None" else r
                    for r in want]
        got = [r.asDict() for r in seen[0].collect()]
        key = lambda r: json.dumps(r, sort_keys=True)  # noqa: E731
        assert sorted(got, key=key) == sorted(want, key=key)
        assert len(got) == 4  # the empty line is skipped


class TestNoPythonWorker:
    """Command stages and the json lift run in the JVM: their lineage
    holds no PythonRDD, so no row reaches a Python worker."""

    @staticmethod
    def lineage(df):
        return df._jdf.rdd().toDebugString()

    @staticmethod
    def records(spark):
        return spark.range(6).selectExpr(
            "to_json(named_struct('k', cast(id % 2 AS string), 'v', id))"
            " AS value")

    def test_command_stage(self, spark):
        out = Engine({"p": ["tr a-z A-Z"]}, spark=spark).pipe(
            "p", self.records(spark))
        assert "PipedRDD" in self.lineage(out)
        assert "PythonRDD" not in self.lineage(out)
        assert out.count() == 6

    @pytest.mark.parametrize("schema", [None, "k string, v long"])
    def test_json_lift(self, spark, schema):
        def per_k(df, ctx):
            return df.groupBy("k").agg(F.sum("v").alias("v"))

        out = Engine({"p": [{"exports": per_k, "json": True,
                             "schema": schema}]}, spark=spark).pipe(
            "p", self.records(spark))
        assert "PythonRDD" not in self.lineage(out)
        assert sorted(json.loads(r.value)["v"] for r in out.collect()) == [
            6, 9]


class TestRegistryApi:
    def test_list_has_add_rm_tojson(self, spark):
        eng = Engine({"a": ["cat -"]})
        assert eng.list() == ["a"] and eng.has("a") and not eng.has("b")
        eng.add("b", "wc -l")
        assert eng.has("b") and eng.to_json()["b"] == ["wc -l"]
        eng.rm("b")
        assert not eng.has("b")

    def test_array_config_becomes_main(self, spark):
        assert Engine(["cat -"]).list() == ["main"]

    def test_unknown_pipeline_raises(self, spark):
        with pytest.raises(KeyError):
            Engine({}).pipe("nope")


class TestLoad:
    def test_discovery_order(self, tmp_path, spark):
        # explicit path → gasket.json → package.json gasket key
        # (index.js:242-255)
        (tmp_path / "gasket.json").write_text('{"g": ["cat -"]}')
        (tmp_path / "package.json").write_text(
            '{"name": "x", "gasket": {"pk": ["cat -"]}}')
        assert load(str(tmp_path)).list() == ["g"]
        os.remove(tmp_path / "gasket.json")
        assert load(str(tmp_path)).list() == ["pk"]
        explicit = load(str(tmp_path / "package.json"))
        assert explicit.list() == ["pk"]

    def test_save_roundtrip(self, tmp_path):
        eng = Engine({"p": ["cat -"]}, cwd=str(tmp_path))
        path = eng.save()
        assert load(path).to_json() == {"p": ["cat -"]}


class TestDebugTap:
    def test_observations_report_stage_row_counts(self, spark, monkeypatch):
        """GASKET_DEBUG taps every stage with an Observation — row
        counts ride on the action itself (no extra jobs), the Spark
        analog of the reference's debug-stream wrap (index.js:77-80)."""
        monkeypatch.setenv("GASKET_DEBUG", "1")

        def keep_evens(df, ctx):
            return df.filter(F.col("value").cast("long") % 2 == 0)

        eng = Engine({"p": [{"exports": keep_evens},
                            {"exports": lambda df: df.limit(2)}]},
                     spark=spark)
        src = spark.range(10).select(F.col("id").cast("string")
                                     .alias("value"))
        out = eng.pipe("p", input_df=src)
        assert len(eng.last_observations) == 2
        out.collect()  # the action the metrics piggyback on
        counts = [o.get["rows"] for o in eng.last_observations]
        assert counts == [5, 2]
