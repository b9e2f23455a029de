"""Full oracle gate: every registered query vs the DuckDB oracle at the
given SF dir. Usage: python tools/run_oracle_gate.py [sf_dir] [names...]
Prints one line per query and a final PASS/FAIL summary. Unknown query
names are refused before Spark starts; the exit code is 1 when any query
fails. Runs on local[$SPARK_GRAFT_CPUS] (default 32), like the session
factory."""
from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, ROOT)
    # the Python workers Spark starts import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as e

    qs = e.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        return 2
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "200")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from mysense_spark.oracle import compare_frames, run_oracle

    n = e.entry(spark).count()
    print(f"entry rows={n}", flush=True)
    if n == 0:
        print("FAIL entry: 0 rows", flush=True)
        spark.stop()
        return 1

    fails = []
    sqls = e.oracle_sql()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            pdf = fn(spark, sf_dir).toPandas()
            sql = sqls.get(name)
            if sql:
                res = compare_frames(pdf, run_oracle(sql, sf_dir))
                ok = res.ok
                why = "" if ok else f" ({res})"
            else:
                ok = len(pdf) > 0
                why = "" if ok else " (vacuous)"
        except Exception as exc:
            ok, why = False, f" EXC {exc}"
        dt = time.perf_counter() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name} {dt:.2f}s{why}", flush=True)
        if not ok:
            fails.append(name)
    print(f"SUMMARY: {len(fails)} failures: {fails}", flush=True)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
