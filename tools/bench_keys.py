"""Measurement harness: time a subset of bench keys (min-of-N, same
actions as bench.py) and/or capture their formatted plans.

    python tools/bench_keys.py --keys a,b,c [--n 3] [--sf DIR] \
        [--plans before --plans-dir plans/r18]
    python tools/bench_keys.py --all [--n 3]           # every bench.py key

Prints one JSON line {key: floor_sec} so runs can be diffed. Plans land
at <plans-dir>/<key>_<tag>.txt when --plans <tag> is given.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default="",
                    help="tag: capture explain('formatted') per key")
    ap.add_argument("--plans-dir", default="plans",
                    help="directory the --plans captures are written to")
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip timing")
    args = ap.parse_args()

    import bench as benchmod
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    from tripgogo_vector_search_spark.session import get_spark

    actions: dict[str, str] = {}
    for gname in dir(benchmod):
        if gname.startswith("HEADLINE"):
            actions.update(getattr(benchmod, gname))

    if args.all:
        keys = list(actions)
    else:
        keys = [k for k in args.keys.split(",") if k]
    for k in keys:
        if k not in QUERIES:
            raise SystemExit(f"unknown query {k!r}")

    spark = get_spark("bench-keys")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    QUERIES["knn_topk"](spark, args.sf).collect()
    from pyspark.sql import functions as F

    from tripgogo_vector_search_spark.functions.kernels import simhash_udf
    (spark.range(256)
     .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
     .select(simhash_udf(F.lit("warm up"))).write
     .format("noop").mode("overwrite").save())

    if args.plans:
        os.makedirs(args.plans_dir, exist_ok=True)
        for k in keys:
            df = QUERIES[k](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            dest = os.path.join(args.plans_dir, f"{k}_{args.plans}.txt")
            with open(dest, "w") as fh:
                fh.write(buf.getvalue())
            print(f"plan -> {dest}", file=sys.stderr)

    if args.no_time:
        return

    floors: dict[str, float] = {}
    for rep in range(args.n):
        for k in keys:
            action = actions.get(k, "noop")
            spark.sparkContext.setJobDescription(f"{k} rep{rep}")
            t0 = time.perf_counter()
            df = QUERIES[k](spark, args.sf)
            if action == "collect":
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            floors[k] = round(min(floors.get(k, 1e9), dt), 3)
            print(f"rep{rep} {k} {dt:.3f}", file=sys.stderr, flush=True)
    print(json.dumps(floors))


if __name__ == "__main__":
    main()
