"""Full driver-contract drive: every queries() gate vs its DuckDB
oracle at sf0.01 with a plain SparkSession — the grading driver's
comparison, replicated locally. Prints one line per gate + a summary.

Drives the checkout this script lives in (its tests/, its
__spark_entry__.py and, in Spark's Python workers, its package) at
local[$SPARK_GRAFT_CPUS] (8 when unset), from any working directory.

Usage: python tools_drive.py [--sf /root/testdata/sf0.01] [--only k1,k2]
"""
import argparse
import importlib.util
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(ROOT, "tests"))
# Spark's Python workers import the package too: this checkout first
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
from oracle_harness import duck_connection, compare  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = mod.queries()
    oracles = mod.oracle_sql()
    names = sorted(qs)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    con = duck_connection(args.sf)
    n_pass = n_fail = 0
    fails = []
    for name in names:
        t0 = time.monotonic()
        try:
            df = qs[name](spark, args.sf)
            if name in oracles:
                ok, msg = compare(df, con, oracles[name])
            else:
                ok, msg = df.count() >= 0, "rows-only"
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        dt = time.monotonic() - t0
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name} ({dt:.1f}s){'' if ok else ' :: ' + msg[:300]}",
              flush=True)
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            fails.append(name)
    print(f"SUMMARY {n_pass}/{n_pass + n_fail} pass; fails: {fails}",
          flush=True)


if __name__ == "__main__":
    main()
