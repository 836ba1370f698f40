"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, schema (sorted column names)
and an order-insensitive value comparison (columns sorted by name, rows
sorted by all columns, exact string equality per cell after canonical
formatting). Exact-string equality is intentionally stricter than any
tolerance the driver might use.

Driver-faithful since round 8 (the r7 post-mortem): the DuckDB side is
fetched through pandas (``.df()``) and the Spark side through
``.toPandas()``, because that is the fetch path the driver uses — it is
where DuckDB HUGEINT (bare ``sum(BIGINT)``) coerces to float64 and where
nullable integer columns become floats. Both sides also run the
driver's canonicalization probe (``sort_values`` over every column), so
a query returning a pandas-unsortable cell (list/struct/map) fails HERE
before it can fail at the gate. Any contract query whose Spark schema
contains an Array/Map/Struct column is rejected outright.

Usage: python tools/check_oracle.py [--sf-dir DIR] [--only name1,name2]
       [--registry window|off_window|all]

``--registry`` widens the sweep beyond the driver's 50-slot window to
the off-window registry (the same comparison pytest runs in
tests/test_rotated_contract.py), so an auditor can re-verify EVERY
oracle-backed entry from one command.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v) -> str:
    """Exact canonical string for one pandas cell. Raises on complex
    types (list/dict/ndarray) — those must never reach a contract row."""
    import numpy as np

    if v is None:
        return "<NULL>"
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise TypeError(f"complex-typed cell in contract row: {type(v).__name__}")
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    # pandas NaT / Timestamp / str / Decimal all stringify stably
    try:
        if v != v:  # NaN-like (e.g. pd.NaT)
            return "NaN"
    except Exception:
        pass
    return str(v)


def frame_to_rows(cols, rows):
    """Row-tuple canonicalization (collect()/fetchall() shape) -- the
    form tests/test_rotated_contract.py imports for the rotated/staged
    pytest gates. The driver-faithful pandas path below is what the
    window sweep itself uses."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def complex_spark_columns(schema) -> list[str]:
    """Names of Array/Map/Struct columns — banned from contract rows
    (the driver's pandas canonicalizer cannot sort them; r7 red #1)."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def pandas_frame_to_rows(pdf):
    """Driver-shaped canonicalization: sort columns by name, run the
    driver's sort_values probe (raises exactly where the gate would),
    then emit exact canonical string tuples sorted for comparison."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # the driver's probe — unhashable/unsortable cells die here, as at
    # the gate (r7: training_pairs' array<string> column)
    pdf.sort_values(by=cols, inplace=False)
    rows = [tuple(canon(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    return cols, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--registry",
        default="window",
        choices=("window", "off_window", "all"),
    )
    args = ap.parse_args()
    # computed VALUES-literal oracles must be generated at the same scale
    os.environ["LETSEARCH_ORACLE_SF_DIR"] = args.sf_dir

    import duckdb

    import __spark_entry__ as entrymod
    from letsearch_spark.queries import TABLES
    from letsearch_spark.session import get_spark

    spark = get_spark("check-oracle", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = dict(entrymod.queries()) if args.registry in ("window", "all") else {}
    oracles = dict(entrymod.oracle_sql()) if qs else {}
    if args.registry in ("off_window", "all"):
        from letsearch_spark.queries import (
            OFF_WINDOW_ORACLES,
            OFF_WINDOW_QUERIES,
        )

        qs.update(OFF_WINDOW_QUERIES)
        # computed-literal oracles are callables (sf_dir) -> SQL,
        # resolved only for the entries this run compares
        oracles.update(OFF_WINDOW_ORACLES)
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            bad_cols = complex_spark_columns(sdf.schema)
            if bad_cols:
                raise TypeError(
                    f"contract schema has complex-typed columns {bad_cols} "
                    "— the driver's pandas canonicalizer cannot sort these"
                )
            s_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(s_pdf)} rows (rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            if len(s_pdf) == 0:
                print(f"      WARNING {name} returned 0 rows")
            continue
        try:
            oracle = oracles[name]
            if callable(oracle):
                oracle = oracle(args.sf_dir)
            d_pdf = con.sql(oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue

        try:
            s_cols, s_rows = pandas_frame_to_rows(s_pdf)
        except Exception as e:
            print(f"FAIL  {name}: spark-side canonicalization: {e}")
            n_fail += 1
            continue
        try:
            d_cols, d_rows = pandas_frame_to_rows(d_pdf)
        except Exception as e:
            print(f"FAIL  {name}: duckdb-side canonicalization: {e}")
            n_fail += 1
            continue
        problems = []
        if s_cols != d_cols:
            problems.append(f"schema: spark={s_cols} duckdb={d_cols}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount: spark={len(s_rows)} duckdb={len(d_rows)}")
        if not problems and s_rows != d_rows:
            # find first differing row for the report
            for i, (a, b) in enumerate(zip(s_rows, d_rows)):
                if a != b:
                    problems.append(f"first diff at sorted row {i}:\n"
                                    f"        spark : {a}\n"
                                    f"        duckdb: {b}")
                    break
        if problems:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(s_rows)} rows match exactly "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
