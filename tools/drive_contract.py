"""Drive the __spark_entry__.py query contract under a vanilla session:
a plain SparkSession (no tuned confs), the working directory outside the
repository (to surface worker/runner ImportErrors), sf0.01 data, and a
DuckDB oracle comparison via tests/canonical.py.

Run: python tools/drive_contract.py [--only name1,'layout_*']
"""

import argparse
import fnmatch
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir("/tmp")

import duckdb
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e
from tests.canonical import assert_frames_match

rows = e.entry(spark).collect()
assert len(rows) > 0, "entry() returned 0 rows"
print(f"entry(): {len(rows)} rows OK", flush=True)

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, os_ = e.queries(), e.oracle_sql()
assert set(os_) <= set(qs)
ap = argparse.ArgumentParser()
ap.add_argument(
    "--only", default="", help="comma-separated query names or fnmatch patterns (default: all)"
)
only = set(n for n in ap.parse_args().only.split(",") if n)
if only:
    missing = {pat for pat in only if not fnmatch.filter(qs, pat)}
    assert not missing, f"names/patterns matching no query: {sorted(missing)}"
    qs = {n: f for n, f in qs.items() if any(fnmatch.fnmatchcase(n, pat) for pat in only)}
n_match = n_rows_only = 0
fails = []
for name, fn in qs.items():
    t0 = time.time()
    try:
        pdf = fn(spark, SF).toPandas()
        if name in os_:
            assert_frames_match(pdf, con.sql(os_[name]).df(), name)
            n_match += 1
            status = "MATCH"
        else:
            n_rows_only += 1
            status = f"rows-only({len(pdf)})"
    except Exception as ex:
        fails.append((name, f"{type(ex).__name__}: {ex}"))
        status = "FAIL"
        traceback.print_exc()
    print(f"[{status}] {name} ({time.time()-t0:.1f}s)", flush=True)

print(json.dumps({"match": n_match, "rows_only": n_rows_only, "fail": len(fails), "fails": fails[:5]}))
sys.exit(1 if fails else 0)
