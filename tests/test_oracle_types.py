"""Registry-wide oracle schema audit.

The driver hashes Spark and DuckDB result VALUES after a pandas
round-trip, so any oracle whose final select list contains a type
DuckDB cannot hand to pandas exactly is a latent hash red even when
the values agree numerically. The canonical instance: a bare DuckDB
``SUM(bigint_col)`` types HUGEINT, and DuckDB's pandas conversion
renders HUGEINT as float64 — the driver then hashes float ``9.0``
against Spark's int64 ``9``. That single uncast column shipped the
r7 AND r8 ``q_join_grid_density`` driver reds while six local
gauntlet variants stayed green (selfcheck's ``check_dtype=False``
coerced the split away; it now fails on dtype-class splits too).

This guard DESCRIBEs every registered oracle against the real table
views (no execution — DuckDB binds and types the query only) and
asserts every final column type is in the pandas-exact allowlist.
Anything new — HUGEINT, UHUGEINT, DECIMAL, unsigned ints, intervals —
fails loudly with the query and column named, BEFORE a driver round
can ship it.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tools.selfcheck import connect

# Types DuckDB's pandas conversion reproduces exactly AND whose pandas
# dtype class matches what Spark's toPandas yields for the equivalent
# Spark type. This is the complete census of the 205-query registry as
# of round 9 — widen deliberately, never to paper over a new query.
PANDAS_EXACT = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN",
    "TIMESTAMP", "DATE",
}


@pytest.fixture(scope="module")
def oracle_registry():
    import __spark_entry__ as entrymod

    return entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    return connect(SF_SMALL)


def test_every_oracle_final_type_is_pandas_exact(con, oracle_registry):
    offenders = []
    for name, sql in sorted(oracle_registry.items()):
        rows = con.execute(f"DESCRIBE ({sql})").fetchall()
        for col, typ, *_ in rows:
            base = typ.split("(")[0].strip().upper()
            if base not in PANDAS_EXACT:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle final select contains non-pandas-exact types (driver "
        "hash-red class — CAST them, see q_join_grid_density r7/r8): "
        + "; ".join(offenders))


def test_guard_is_sensitive_to_hugeint(con):
    """Prove the audit actually detects the class it exists for: the
    exact shape of the pre-fix q_join_grid_density oracle column."""
    rows = con.execute(
        "DESCRIBE (SELECT SUM(user_id) AS s FROM events)").fetchall()
    assert rows[0][1].upper() == "HUGEINT"
    assert rows[0][1].split("(")[0].upper() not in PANDAS_EXACT


def test_sql_literal_scanner_handles_escapes_and_identifiers():
    """The import-time whitespace-run guard scans literals with a
    real walker (r13 ADVICE fix), not quote-parity splitting:
    '' escapes stay in-literal, an apostrophe inside a double-quoted
    IDENTIFIER must not open a literal, and the guard still catches
    the r12 q_bpe_tokens class (a whitespace run inside a literal).
    Comments are REFUSED outright — registry normalization collapses
    newlines, so a line comment would swallow the rest of the oracle
    (a corruption class the guard must block, not legitimize)."""
    import pytest

    from gasket_spark.queries import _sql_literals

    # '' escape is literal content, not a boundary
    assert _sql_literals("SELECT 'it''s  ok'") == ["it's  ok"]
    # -- inside a literal is content, not a comment
    assert _sql_literals("SELECT 'a -- b', 'c'") == ["a -- b", "c"]
    # apostrophe inside a quoted identifier doesn't open a literal:
    # the real literal after it is still scanned (and would still be
    # guarded for whitespace runs)
    assert _sql_literals('SELECT "it\'s" AS x, \'a b\'') == ["a b"]
    # double quotes INSIDE a literal are content (the q_json_variant
    # shape: JSON text in a single-quoted string)
    assert _sql_literals("SELECT '{\"k\": 1}' AS j") == ['{"k": 1}']
    # comment markers outside literals are refused, both kinds
    with pytest.raises(ValueError, match="comment"):
        _sql_literals("SELECT 'x' -- doesn't matter")
    with pytest.raises(ValueError, match="comment"):
        _sql_literals("SELECT /* block */ 'x'")
