"""Output checks in DuckDB.  Query ops go through the repo's own verify
flow, tools/check.py (each output against its SparkEntry.oracleSql, cell
by cell) with its tools/typecheck.py output-type audit; ETL ops are
checked against the CSV they converted (row count plus checksum)."""
import contextlib
import json
import os
import sys
from contextlib import closing

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check  # noqa: E402

# row count plus checksum of a lineitem copy, the same on the CSV source
# and on both ETL outputs whatever types the conversion chose
ETL_CHECKSUM = """
SELECT count(*), sum(l_orderkey), sum(l_partkey), sum(l_suppkey),
       sum(l_linenumber), round(sum(l_quantity), 2),
       round(sum(l_extendedprice), 2), round(sum(l_discount), 2),
       round(sum(l_tax), 2),
       sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END),
       sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
FROM {src}"""


def check_etl(out_dir, csv_dir):
    src = f"read_csv('{csv_dir}/*.csv', header = true)"
    dst = f"read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"
    with closing(duckdb.connect()) as con:
        want = con.execute(ETL_CHECKSUM.format(src=src)).fetchone()
        got = con.execute(ETL_CHECKSUM.format(src=dst)).fetchone()
    return None if want == got else f"checksum {got} != {want}"


def check_queries(data_dir, verify_dir, oracle_sql):
    """{op: None or reason} for the query outputs under verify_dir, one
    parquet directory per op, as tools/check.py reports them."""
    os.makedirs(verify_dir, exist_ok=True)
    with open(os.path.join(verify_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    summary = os.path.join(os.path.dirname(verify_dir), "check.json")
    # check.py reports on stdout, which carries the benchmark's result
    with contextlib.redirect_stdout(sys.stderr):
        check.main(data_dir, verify_dir, summary)
    with open(summary) as f:
        values = json.load(f)["queries"]
    with open(os.path.join(os.path.dirname(summary), "TYPECHECK.json")) as f:
        types = json.load(f)["queries"]
    out = {}
    for name, v in values.items():
        why = [] if v["match"] else [v["detail"]]
        why += types.get(name, {}).get("problems", [])
        out[name] = "; ".join(why) or None
    return out


def check_all(data_dir, verify_dir, cold_ops, oracle_sql, etl_outputs, csv_dir):
    """{op: None or reason} for every op of the cold (verified) pass."""
    queries = check_queries(data_dir, verify_dir, oracle_sql)
    out = {}
    for o in cold_ops:
        name = o["name"]
        if not o["ok"]:
            out[name] = f"verify run failed: {o['error']}"
        elif name in etl_outputs:
            try:
                out[name] = check_etl(etl_outputs[name], csv_dir)
            except Exception as e:  # an unreadable output is a failed check
                out[name] = f"{type(e).__name__}: {str(e)[:200]}"
        elif name not in oracle_sql:
            out[name] = "no oracle"
        else:
            out[name] = queries.get(name, "not checked")
    return out
