"""DuckDB oracle for the benchmark's check pass.

Each checked step's Spark output (`<check_dir>/<step>/*.parquet`) is compared
with the step's oracle SQL (`SparkEntry.oracleSql`, written by the runner to
`<check_dir>/oracle_sql.json`) run over the generated tables: same column
names and types, same row count, same rows after sorting. This is the
comparison `scripts/check.py` makes against the fixed test corpus.
"""
import json
import os

import duckdb


def _norm(rows):
    return sorted(tuple(repr(v) if isinstance(v, float) else str(v) for v in r) for r in rows)


def check(data_dir, check_dir, steps):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for entry in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, entry)
        if entry.endswith(".parquet") and os.path.isdir(path):
            con.sql(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM '{path}/*.parquet'")
    sql = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    passed, failed = [], []
    for step in steps:
        try:
            spark_rel = con.sql(f"SELECT * FROM '{check_dir}/{step}/*.parquet'")
            orel = con.sql(sql[step])
            scols, ocols = sorted(spark_rel.columns), sorted(orel.columns)
            if scols != ocols:
                failed.append(f"{step}: columns {scols} != oracle {ocols}")
                continue
            stypes = dict(zip(spark_rel.columns, map(str, spark_rel.types)))
            otypes = dict(zip(orel.columns, map(str, orel.types)))
            bad = {c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]}
            if bad:
                failed.append(f"{step}: column types differ {bad}")
                continue
            srows = con.sql(f"SELECT {', '.join(scols)} FROM spark_rel").fetchall()
            orows = con.sql(f"SELECT {', '.join(ocols)} FROM orel").fetchall()
            if _norm(srows) == _norm(orows):
                passed.append(step)
            else:
                failed.append(f"{step}: {len(srows)} rows differ from oracle's {len(orows)}")
        except Exception as e:  # an oracle that cannot run is a failed check
            failed.append(f"{step}: {type(e).__name__}: {e}")
    return {"pass": passed, "fail": failed}
