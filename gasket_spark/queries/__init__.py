"""Query registry — the executable inventory of SURVEY.md §2B.

Every operator the engine claims is registered here twice:

* ``QUERIES[name]`` — a callable ``(spark, sf_dir) -> DataFrame`` built
  with the DataFrame API (the Spark-first implementation under test).
* ``ORACLES[name]`` — the equivalent ANSI SQL the DuckDB oracle runs on
  the same parquet tables. Omitted only for genuinely
  non-SQL-expressible ops (streaming state machines, LSH with
  engine-specific hashing); those get rows-only checks.

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _sql_literals(sql: str) -> list[str]:
    """Extract the content of every single-quoted SQL string literal,
    honoring ``''`` escapes and ``"``-quoted identifiers (an
    apostrophe inside one must not open a literal — the r13 ADVICE
    fix generalized: the old split-on-quote parity scan miscounted
    whenever an apostrophe appeared OUTSIDE a literal).

    REFUSES ``--`` and ``/*`` comments outside literals/identifiers
    (ValueError): registry normalization collapses newlines, so a
    line comment would silently swallow the rest of the oracle — a
    far worse corruption than the whitespace-run class the literal
    guard exists for. Registered oracles must be comment-free."""
    lits: list[str] = []
    cur: list[str] | None = None  # None = outside a literal
    in_ident = False
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if cur is not None:
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":  # '' escape
                    cur.append("'")
                    i += 2
                    continue
                lits.append("".join(cur))
                cur = None
            else:
                cur.append(c)
        elif in_ident:
            if c == '"':
                if i + 1 < n and sql[i + 1] == '"':  # "" escape
                    i += 2
                    continue
                in_ident = False
        elif c == "'":
            cur = []
        elif c == '"':
            in_ident = True
        elif sql[i:i + 2] in ("--", "/*"):
            raise ValueError(
                f"SQL comment marker {sql[i:i + 2]!r} outside a "
                "literal: registry whitespace normalization collapses "
                "newlines, which would swallow the rest of the oracle "
                "— registered oracles must be comment-free")
        i += 1
    return lits


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation and (optionally) its SQL oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        # refuse silent overwrites at import: module load order
        # (llm -> streamingq -> pipelineq -> relational) would let a
        # later module's same-named registration win and the earlier
        # oracle pair still self-agree in selfcheck — an r13 near-miss
        # (a duplicate q_sample_weighted shadowed relational's)
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            # The cosmetic normalization below collapses ALL
            # whitespace runs — including inside SQL string literals,
            # where a '  ' (double space) would silently become ' '
            # and change the query's semantics (the r12 q_bpe_tokens
            # catch: the BPE word separator corrupted to a symbol
            # separator). Refuse loudly at import: state such
            # literals as ' ' || ' ' instead.
            try:
                lits = _sql_literals(oracle)
            except ValueError as e:
                raise ValueError(f"{name}: {e}") from None
            for lit in lits:
                if "  " in lit or "\n" in lit or "\t" in lit:
                    raise ValueError(
                        f"{name}: oracle string literal {lit!r} "
                        "contains a whitespace run that registry "
                        "normalization would collapse — state it as "
                        "' ' || ' ' (or chr()-escapes) instead")
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side effects; keep order stable.
    from gasket_spark.queries import llm  # noqa: F401
    from gasket_spark.queries import streamingq  # noqa: F401
    from gasket_spark.queries import pipelineq  # noqa: F401
    from gasket_spark.queries import relational  # noqa: F401


_load_all()
