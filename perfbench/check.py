"""Correctness comparison against DuckDB.

Uses the repository's oracle gate, `tools/check_oracle.py`: columns
sorted by name, rows sorted by value, exact equality (a float that is
only close is a mismatch), and no DECIMAL/HUGEINT/STRUCT/LIST output
columns.
"""
import glob
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, cmp_rows, hazards, rows_of  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(con, spark_glob, oracle_sql):
    """Compares Spark's parquet output with DuckDB's answer to the SQL;
    with no SQL, the output must merely be non-empty (rows-only). Returns
    None when they match, else the reason."""
    if not glob.glob(spark_glob):
        return "no output"
    got = con.sql(f"SELECT * FROM '{spark_glob}'")
    bad = hazards(got, "spark")
    want = None
    if oracle_sql is not None:
        try:
            want = con.sql(oracle_sql)
        except duckdb.Error as e:
            return f"oracle SQL error: {e}"
        bad += hazards(want, "oracle")
    if bad:
        return "hazard column types " + ", ".join(bad)
    gcols, grows = rows_of(got)
    if want is None:
        return None if grows else "rows-only query returned no rows"
    wcols, wrows = rows_of(want)
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    verdict = cmp_rows(grows, wrows)
    return None if verdict == "OK" else verdict


def check_queries(data_dir, out_dir):
    """Failures of the query dumps under `out_dir` against `data_dir`."""
    con = connect(data_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = json.load(open(os.path.join(out_dir, "selected_queries.json")))
    failures = []
    for name in names:
        why = compare(con, os.path.join(out_dir, name, "*.parquet"),
                      oracle.get(name))
        if why:
            failures.append(f"{name}: {why}")
    return failures
