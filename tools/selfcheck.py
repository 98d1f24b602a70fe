"""Spark-vs-DuckDB oracle harness.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares them with
:func:`check`: row count, sorted column names, dtype classes and
order-insensitive values (exact equality — no tolerance: the engine's
determinism patterns are supposed to make results bit-identical).

The Tier-1 suite runs the same check over the whole registry at sf0.01
(``tests/test_queries_smoke.py::test_query_matches_oracle``). This CLI
remains for the variants the suite does not cover: another session
time zone (``TZ=America/New_York``, ``TZ=Asia/Kathmandu``), another
shuffle partition count (``SPARK_GRAFT_SHUFFLE=7``) and sf0.1.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per oracle table over
    ``<sf_dir>/<table>.parquet``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize for order-insensitive compare: sort columns by
    name, normalize dtypes, sort rows by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: repr(v), na_action="ignore")
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="last").reset_index(drop=True)
    return df


def dtype_class(s: pd.Series) -> str:
    """Coarse dtype class for cross-engine hash-compatibility: two
    columns whose classes differ (e.g. integer vs float) hold values
    the driver hashes differently even when numerically equal."""
    if pd.api.types.is_bool_dtype(s):
        return "boolean"
    if pd.api.types.is_integer_dtype(s):
        return "integer"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def check(got: pd.DataFrame, want: pd.DataFrame | None) -> list[str]:
    """Compare a query's Spark result with its DuckDB oracle result;
    return the failure reasons, empty on a pass. ``want`` is None for
    a query without an oracle: the rows-only check, which fails only
    an empty result."""
    if want is None:
        return [] if len(got) else ["rows-only: 0 rows"]
    a, b = canon(got), canon(want)
    reasons = []
    if len(a) != len(b):
        reasons.append(f"rowcount {len(a)} != {len(b)}")
    if list(a.columns) != list(b.columns):
        reasons.append(f"columns {list(a.columns)} != {list(b.columns)}")
    if reasons:
        return reasons
    # Dtype-KIND audit. A result hash reads raw values, so an int64 9
    # vs float64 9.0 split is a hash mismatch even though
    # assert_frame_equal(check_dtype=False) coerces it equal (that
    # masking shipped the r7+r8 q_join_grid_density red twice: DuckDB
    # renders HUGEINT to pandas as float64). Fail loudly BEFORE the
    # value compare when the two engines disagree on a column's dtype
    # class.
    splits = [f"dtype-class split on '{c}': spark={dtype_class(a[c])} "
              f"({a[c].dtype}) vs oracle={dtype_class(b[c])} "
              f"({b[c].dtype}) — the values would hash differently"
              for c in a.columns if dtype_class(a[c]) != dtype_class(b[c])]
    if splits:
        return splits
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=True)
    except AssertionError as exc:
        return [f"values differ: {str(exc)[:500]}"]
    return []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_SESSION") == "engine":
        from gasket_spark.session import get_spark
        spark = get_spark("selfcheck")
    else:
        # Default: a VANILLA session, like the driver's — none of the
        # engine's session.py confs. Every query must self-provision
        # any conf it needs (q_scan_pysource taught us that).
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[32]")
                 .appName("selfcheck-vanilla")
                 .config("spark.sql.shuffle.partitions",
                         os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
                 .getOrCreate())
    con = connect(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
            want = (con.execute(oracles[name]).fetchdf()
                    if name in oracles else None)
        except Exception as exc:  # noqa: BLE001
            reasons = [f"{type(exc).__name__}: {exc}"]
        else:
            reasons = check(got, want)
        if reasons:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(reasons)}")
        else:
            kind = "match" if name in oracles else "rows-only"
            print(f"ok   {name}: {len(got)} rows {kind} "
                  f"({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
