"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and (where present) its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, column names, and exact values (rows sorted by all columns,
column order by name). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]

An argument that is neither an existing directory (first position only)
nor a registered query name exits 2 before anything runs.

Driver-faithfulness (VERDICT r04 next #1b — the old gate could NOT
reproduce the driver's red rows):

- ``oracle_sql()`` is evaluated BEFORE any query runs, in a state where
  no query has recorded an sf dir — the driver's order.
- ``SPARK_GRAFT_CORRECTNESS_SF_DIR`` is only pinned when an sf_dir was
  explicitly passed on argv; a bare run leaves the env untouched exactly
  like the driver (oracles then resolve their default sf0.01).
- A float column on one side vs an integer column on the other is a
  FAILURE, not a cast-and-compare: the driver hashes value strings, so
  DuckDB's ``SUM(BIGINT) -> HUGEINT -> pandas float64`` (``12.0``) never
  hash-equals Spark's int64 (``12``) even when the integers are equal.
  The old ``astype`` normalization masked exactly this for two rounds
  (cdc_agg_rollup, VERDICT r04 wrong #1). The kinds come from the
  declared types — the Spark schema and the DuckDB result's Arrow types —
  not from pandas dtypes, which turn any integer column holding a NULL
  into float64 and so hid the mismatch in exactly those columns.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(list(df.columns), ignore_index=True)


def _spark_kind(dt) -> str:
    """"f" for a floating Spark type, "i" for an integral one, else "o"."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    return "o"


def _arrow_kind(t) -> str:
    """The same kinds for a DuckDB result column's Arrow type. DECIMAL
    (and HUGEINT, which Arrow carries as decimal) count as float: the
    gate's pandas frame and the driver both see them as float64."""
    import pyarrow as pa

    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "f"
    if pa.types.is_integer(t):
        return "i"
    return "o"


def main() -> int:
    explicit_sf = len(sys.argv) > 1 and os.path.isdir(sys.argv[1])
    sf_dir = sys.argv[1] if explicit_sf else "/root/testdata/sf0.01"
    only = set(sys.argv[2:] if explicit_sf else sys.argv[1:])

    if explicit_sf:
        # pin the expected-state oracles to THIS gate's sf dir — without it,
        # a gate at any sf other than the driver-contract sf0.01 compared
        # queries at sf X against oracles at sf0.01 and red-ed out
        # spuriously (VERDICT r03 missing #1)
        os.environ["SPARK_GRAFT_CORRECTNESS_SF_DIR"] = sf_dir
    else:
        os.environ.pop("SPARK_GRAFT_CORRECTNESS_SF_DIR", None)

    import __spark_entry__ as ent
    from canal_spark.session import get_spark

    # a typo'd sf_dir or query name must not become a filter that matches
    # nothing and reports a green gate: refuse it before any work starts
    qs = ent.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"not a directory or a registered query: {unknown}",
              file=sys.stderr)
        return 2

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # driver order: the oracle SQL strings (and any expected-state parquet
    # they materialize) are produced before a single query has run
    oracles = ent.oracle_sql()
    spark = get_spark("check_correctness")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sres = fn(spark, sf_dir)
            skind = {f.name: _spark_kind(f.dataType)
                     for f in sres.schema.fields}
            sdf = sres.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only) [{dt:.1f}s]")
            continue
        try:
            dres = con.execute(oracles[name]).fetch_arrow_table()
            dkind = {f.name: _arrow_kind(f.type) for f in dres.schema}
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        s, d = _norm(sdf), _norm(ddf)
        if list(s.columns) != list(d.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}")
            continue
        if len(s) != len(d):
            failures.append(name)
            print(f"FAIL {name}: rows {len(s)} vs {len(d)}")
            continue
        bad = reason = None
        for c in s.columns:
            a, b = s[c], d[c]
            if (skind[c] == "f") != (dkind[c] == "f"):
                # one side float, the other not, by the DECLARED types —
                # pandas turns a nullable int column into float64, so its
                # dtype cannot tell: the driver's value hash sees "12.0"
                # vs "12" -> red
                bad, reason = c, (f"type kind mismatch (spark {skind[c]} vs "
                                  f"duck {dkind[c]}) — driver hash would differ")
                break
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                eq = np.allclose(a.astype(float), b.astype(float),
                                 rtol=0, atol=0, equal_nan=True)
            else:
                eq = a.equals(b.astype(a.dtype)) if a.dtype != b.dtype else a.equals(b)
            if not eq:
                bad, reason = c, "values differ"
                break
        if bad:
            failures.append(name)
            print(f"FAIL {name}: column '{bad}': {reason}")
            if reason == "values differ":
                merged = pd.DataFrame({"spark": s[bad], "duck": d[bad]})
                print(merged[merged["spark"] != merged["duck"]].head(5))
        else:
            ftypes = [c for c in s.columns if s[c].dtype.kind == "f"]
            note = f" (float cols: {ftypes})" if ftypes else ""
            print(f"ok   {name}: rows={len(s)} cols={len(s.columns)} exact{note} [{dt:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
