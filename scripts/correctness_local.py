#!/usr/bin/env python
"""Correctness evidence for every ``queries()`` entry, produced in-repo.

Runs each query of ``__spark_entry__.queries()`` at one scale factor and,
where ``oracle_sql()`` has its DuckDB oracle, compares the two results the
way the driver does: row count, schema (column names, sorted) and values
(columns sorted by name, rows sorted, floats to 1e-6). Writes
``CORRECTNESS_local_r{N}.json`` in the repo root, one entry per query with
``rows_match``, ``schema_match``, ``hash_match``, ``spark_rows``,
``oracle_rows`` and ``err``; a rows-only query (no oracle) gets
``spark_rows`` and ``err``. ``N`` is one past the newest driver
``CORRECTNESS_r{N}.json``. ``tests/test_driver_contract.py`` compares with
the same ``_duck`` and ``_normalize``.

Usage:
  python scripts/correctness_local.py --sf-dir DIR   # or set SPARK_GRAFT_SF_DIR
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _duck(sql: str, sf_dir: str) -> pd.DataFrame:
    """``sql`` on DuckDB over the scale factor's parquet tables."""
    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, strings for objects, floats rounded to 6
    places, ints as int64, rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _values_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    try:
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9
        )
    except AssertionError:
        return False
    return True


def check(spark, fn, oracle: str | None, sf_dir: str) -> dict:
    """One query's entry: the driver's fields, ``err`` holding the
    exception of whichever side failed."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
        if oracle is None:
            return {"spark_rows": len(sdf), "err": None}
        odf = _duck(oracle, sf_dir)
    except Exception as exc:  # one failing query must not stop the sweep
        if oracle is None:
            return {"spark_rows": None, "err": f"{type(exc).__name__}: {exc}"}
        return {"rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": f"{type(exc).__name__}: {exc}"}
    schema = sorted(sdf.columns) == sorted(odf.columns)
    return {
        "rows_match": len(sdf) == len(odf),
        "schema_match": schema,
        "hash_match": schema and len(sdf) == len(odf) and _values_match(_normalize(sdf), _normalize(odf)),
        "spark_rows": len(sdf),
        "oracle_rows": len(odf),
        "err": None,
    }


def next_round() -> int:
    rounds = [int(m.group(1)) for p in glob.glob(f"{REPO}/CORRECTNESS_r*.json")
              if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))]
    return max(rounds, default=0) + 1


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="directory of the scale factor's parquet tables")
    args = p.parse_args()
    if not args.sf_dir:
        p.error("give --sf-dir or set SPARK_GRAFT_SF_DIR")
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from newocr_spark.pipeline.session import build_session

    spark = build_session(app="correctness-local", shuffle_partitions=8)
    oracles = e.oracle_sql()
    results = {}
    try:
        for name, fn in e.queries().items():
            results[name] = check(spark, fn, oracles.get(name), args.sf_dir)
            print(name, json.dumps(results[name]), flush=True)
    finally:
        spark.stop()
    path = f"{REPO}/CORRECTNESS_local_r{next_round():02d}.json"
    with open(path, "w") as f:
        json.dump(results, f, indent=2)
        f.write("\n")
    red = [n for n, r in results.items() if r["err"] or r.get("hash_match") is False]
    print(f"wrote {path}: {len(results)} queries, {len(red)} not green {red}")


if __name__ == "__main__":
    main()
