#!/usr/bin/env python3
"""Pin the analytics result hashes in perfbench/expected.json.

    python3 perfbench/pin.py

For every workload: queries with an entry in SparkEntry.oracleSql get the
hash of DuckDB's answer to that SQL over the workload's tables; queries
without one (q165) get the hash of the library's own answer, so the pin
for those is only as good as the commit it is taken at. The library's
answers to the oracle queries are computed too and must agree, otherwise
nothing is written. Re-run only when the tables under perfbench/data or the
query set change.
"""
import json
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

import run
import stats

def oracle_sql(classes, work):
    out = work / "oracle.json"
    subprocess.run(["java", "-cp", f"{classes}:{run.SPARK_JARS}/*", "perfbench.Main",
                    "--dump_oracle", str(out)], check=True, timeout=300)
    return json.loads(out.read_text())


def main():
    classes = run.build()
    pinned, ok = {}, True
    for workload in run.WORKLOADS:
        work = run.BUILD / "work" / f"pin-{workload}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            data = run.data_dir(workload)
            sql = oracle_sql(classes, work)
            con = duckdb.connect()
            for t in sorted(data.glob("*.parquet")):
                con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
            oracle = {q: stats.frame_hash(con.execute(s).df()) for q, s in sql.items()}
            run.run_jvm(classes, workload, 1, 1, 0, work / "run")
            spark = {q: stats.frame_hash(pd.read_parquet(work / "run" / "results" / q))
                     for q in {**run.layers.GRAPH, **run.layers.STREAM, **run.layers.SIM}.values()}
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for q, h in oracle.items():
            agree = spark.get(q) == h
            ok &= agree
            print(f"{workload} {q}: oracle {h} library {spark.get(q)} {'OK' if agree else 'MISMATCH'}")
        pinned[workload] = {q: oracle.get(q, spark[q]) for q in sorted(spark)}
    if not ok:
        sys.exit("library and oracle disagree; nothing pinned")
    (run.BENCH / "expected.json").write_text(json.dumps(pinned, indent=2, sort_keys=True) + "\n")
    print(f"wrote {run.BENCH / 'expected.json'}")


if __name__ == "__main__":
    main()
