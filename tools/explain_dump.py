"""Dump .explain('formatted') for named queries to .explain/<name>_<tag>.txt.

Usage: python tools/explain_dump.py <tag> <query> [query ...]
Tag is 'before' or 'after'. Uses the bench session factory so the plans
match what bench.py executes (local[$SPARK_GRAFT_CPUS], AQE on).
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_avro_pipeline_java_spark.plans import QUERIES
from kafka_avro_pipeline_java_spark.session import get_spark

TAG = sys.argv[1]
NAMES = sys.argv[2:]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".explain")
os.makedirs(OUT, exist_ok=True)

spark = get_spark("explain-dump")
spark.sparkContext.setLogLevel("ERROR")
for name in NAMES:
    df = QUERIES[name](spark, SF_DIR)
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    path = os.path.join(OUT, f"{name}_{TAG}.txt")
    with open(path, "w") as fh:
        fh.write(txt)
    print(f"wrote {path} ({len(txt)} bytes)")
spark.stop()
