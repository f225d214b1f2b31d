"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark and its ``oracle_sql()``
twin on DuckDB (same parquet registered as views), then compares row count,
sorted column names, and order-insensitive values.

Canonicalization mirrors the DRIVER's harness, which materializes both
results through pandas and hash-compares the values (round-1 lesson:
the builder's old checker coerced Decimal->int and tuple-ized lists, which
masked 13 driver failures):

- both sides are fetched as pandas DataFrames (Spark ``toPandas``, DuckDB
  ``.df()``), so DuckDB's HUGEINT->float64 materialization is visible here
  exactly as the driver sees it;
- float vs int is a VALUE MISMATCH even when numerically equal (the driver
  hashes the pandas values; ``3.77e13`` != ``37700000000000``);
- a list/ndarray cell is an immediate failure (the driver's row sort dies on
  ``TypeError: unhashable type: 'list'`` — driver-facing queries must emit
  md5 digests of arrays instead).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class RawArrayError(TypeError):
    pass


def cell_key(v):
    """Canonical, type-discriminating key for one cell (mirrors what the
    driver's pandas-based value hash distinguishes)."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        raise RawArrayError(
            "raw array column in driver-facing output — the driver's pandas "
            "canonicalizer cannot hash lists; emit an md5 digest instead"
        )
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return ("null",) if f != f else ("float", repr(f))
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (np.integer, int)):
        return ("int", int(v))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return ("ts", str(v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    return ("str", str(v))


def df_to_multiset(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(cell_key(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=str)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from etl_spark.session import build_session

    # progress bars would land on the same stdout lines as the verdicts
    spark = build_session(app_name="check-correctness", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(spdf)} rows, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = []
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}")
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if not problems:
            try:
                sm = df_to_multiset(spdf)
            except RawArrayError as e:
                problems.append(f"spark side: {e}")
                sm = None
            try:
                om = df_to_multiset(opdf)
            except RawArrayError as e:
                problems.append(f"oracle side: {e}")
                om = None
            if sm is not None and om is not None and sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name} ({len(spdf)} rows) [{time.time()-t0:.1f}s]")

    # denominator = queries actually RUN (a name-filtered invocation must
    # never print the full-registry count and masquerade as a full pass)
    print(f"\n{ran - len(failures)}/{ran} queries pass")
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"WARNING: unknown query names skipped: {sorted(unknown)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
