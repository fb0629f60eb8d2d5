"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` AND ``extra_queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count + column set + order-insensitive values. (The driver itself only
evaluates the first 50 ``queries()`` entries; the extras keep full local
coverage for the physical-twin / folded variants.) Usage:

    python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("null",)
        # collapse -0.0/0.0 and represent exactly
        return ("f", repr(v + 0.0))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        # The driver harness canonicalizes with pandas sort_values, which
        # CRASHES on list cells ("unhashable type: 'list'") — a contract
        # query emitting an array column is therefore red in the driver even
        # if values match. Fail loudly here instead of false-greening
        # (round-1 lesson: 7 queries erred only in the driver).
        raise TypeError(
            "array column in contract query output — emit a scalar canon "
            "(array_to_string / _arr_csv) instead"
        )
    if isinstance(v, pd.Timestamp):
        return ("t", v.isoformat())
    if hasattr(v, "item"):  # numpy scalar
        return canon_cell(v.item())
    return (type(v).__name__, str(v))


def canon_df(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    rows = [
        tuple(canon_cell(row[c]) for c in cols)
        for _, row in pdf[cols].iterrows()
    ]
    rows.sort()
    return cols, rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from geofeaturegeneration_spark.session import get_spark

    spark = get_spark("compare_oracle", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = {**E.queries(), **E.extra_queries()}, E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"skip  {name}: no oracle ({len(sdf)} rows)")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {e}")
            continue
        try:
            scols, srows = canon_df(sdf)
            ocols, orows = canon_df(odf)
        except TypeError as e:
            failures.append((name, f"CANON ERROR: {e}"))
            print(f"FAIL  {name}: canon error {e}")
            continue
        if scols != ocols:
            failures.append((name, f"cols spark={scols} oracle={ocols}"))
            print(f"FAIL  {name}: column mismatch\n  spark={scols}\n  duck ={ocols}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rows spark={len(srows)} oracle={len(orows)}"))
            print(f"FAIL  {name}: row count spark={len(srows)} oracle={len(orows)}")
            continue
        diff = [i for i, (a, b) in enumerate(zip(srows, orows)) if a != b]
        if diff:
            i = diff[0]
            failures.append((name, f"{len(diff)} differing rows"))
            print(
                f"FAIL  {name}: {len(diff)}/{len(srows)} rows differ; first @{i}\n"
                f"  cols ={scols}\n  spark={srows[i]}\n  duck ={orows[i]}"
            )
            continue
        print(f"OK    {name}: {len(srows)} rows")

    print(f"\n{len(failures)} failures" if failures else "\nALL OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
