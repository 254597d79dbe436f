"""Benchmark entry point.

    python3 perfbench/run.py --workload hotel_search --seed 1 --seconds 8 --trace 0

Runs one workload against a ``local[<cpus>]`` session of the engine in
this checkout, checks every answer, prints a human-readable run record
and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones (see README.md).

Everything it writes stays under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "3g"
SETUP_REPS = 3
CACHE_KEEP = 12

END_TO_END = {
    "setup_s": "s",
    "request_p50_ms": "ms",
    "cycle_p50_s": "s",
    "load_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["hotel_search", "corpus_search", "corpus_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="operation time to measure (checks excluded); sets "
                        "the number of loop cycles")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: a seconds-long smoke of the same code paths")
    return p.parse_args(argv)


def configure_env() -> dict:
    """Pin the session to this host's cores and a driver heap well below
    its memory, and keep every scratch file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData: no JVM writes its perf file under /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf 'spark.driver.extraJavaOptions={jvm_opts}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell"]),
    })
    return {"cpus": cpus, "driver_memory": DRIVER_MEM}


def start_session():
    from tripgogo_vector_search_spark.session import get_spark, prepare
    return prepare(get_spark("perfbench"))


def jvm_process():
    from pyspark import SparkContext
    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_process()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    proc = jvm_process()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prune_cache(cache_dir: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache_dir, e)), e)
                     for e in os.listdir(cache_dir))
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_dir, e), ignore_errors=True)


def run(args, record: dict) -> dict:
    import checks
    from layers import PER_LAYER, layer_metrics
    from spans import NullTracer, Tracer
    from workloads import SIZES, WORKLOADS, median, steal_s

    cache_dir = os.path.join(WORK, "cache")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    chk = checks.Checker()
    sizes = SIZES[args.size][args.workload]
    record["sizes"] = sizes
    wl = WORKLOADS[args.workload](chk, args.seed, sizes, cache_dir, run_dir)
    wl.tracer = NullTracer()
    spark = None
    steal0 = steal_s()
    try:
        t0 = time.perf_counter()
        wl.generate()
        record["generate_s"] = time.perf_counter() - t0
        prune_cache(cache_dir)

        # set-up, SETUP_REPS times: session start + prepare + the
        # program's own set-up; the first start also launches the JVM,
        # the others restart the session in it
        setup_times = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = wl.spark = start_session()
            if rep == 0:
                start_s = time.perf_counter() - t0
            wl.program_setup()
            setup_times.append(time.perf_counter() - t0)

        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        wl.tracer = tracer

        def load():
            tracer.phase = "load"
            wl.load_s = wl.load()

        if not wl.warm_before_load:
            load()
        tracer.phase = "warmup"
        wl.warmup()
        if wl.warm_before_load:
            load()
            tracer.phase = "warmup"
            wl.warmup_after_load()
        warmup_s = wl.busy
        wl.reset_measurements()
        if args.trace:
            tracer.resolve()

        tracer.phase = "loop"
        traced_lat, untraced_lat = [], []
        # a fixed number of cycles, so both sides of an A/B comparison run
        # the same operations: about `seconds` at the nominal cycle time
        n_cycles = max(2, round(args.seconds / sizes["cycle_s"]))
        i = 0
        # while the hypervisor steals from most cycles, run up to as many
        # again, so the medians rest on at least half of n_cycles clean ones
        while i < n_cycles or (i < 2 * n_cycles
                               and wl.clean_cycles() < (n_cycles + 1) // 2):
            if not wl.has_more():   # generated inputs ran out
                break
            # a traced run alternates traced and untraced cycles, so the
            # tracing overhead is measured within the run
            traced = bool(args.trace) and i % 2 == 0
            wl.tracer = tracer if traced or not args.trace else NullTracer()
            tracer.cycle = i
            n0 = len(wl.lat.get(wl.request_kind, []))
            try:
                wl.run_cycle(i)
            except Exception:   # counted as a failed operation
                chk.messages.append("operation raised:\n"
                                    + traceback.format_exc(limit=3))
                break
            new = [dt for dt, _ in wl.lat.get(wl.request_kind, [])[n0:]]
            (traced_lat if traced else untraced_lat).extend(new)
            if traced:
                tracer.resolve()
            i += 1
        record["loop_cycles"] = [n_cycles, i]
        wl.tracer = tracer

        # set-up time is the median of the warm repeats: the first also
        # launched the JVM (that is session.start_s)
        setup = {"start_s": start_s, "warmup_s": warmup_s}
        e2e = {"setup_s": median(setup_times[1:]) + warmup_s,
               "request_p50_ms": 1e3 * median(wl.latencies(wl.request_kind)),
               "cycle_p50_s": median(wl.cycle_times()),
               "load_s": wl.load_s}
        ops = [ok for both in wl.lat.values() for _, ok in both]
        record.update(peak_rss_mb=peak_rss_mb(),
                      cpu_steal_s=steal_s() - steal0,
                      stolen_ops=ops.count(False), loop_ops=len(ops),
                      setup_reps_s=setup_times, warmup_s=warmup_s,
                      load_reps_s=wl.load_reps,
                      cycles=wl.cycles, busy_s=wl.busy, latencies=wl.lat,
                      end_to_end=e2e,
                      details={k: v for k, (v, _u) in wl.details().items()})
        for name, (value, unit) in wl.details().items():
            print(f"  {name:<28} {value:>14.4f} {unit}")
        if args.trace:
            metrics = layer_metrics(wl, tracer, setup, traced_lat,
                                    untraced_lat)
            units = PER_LAYER
            tracer.dump(os.path.join(
                WORK, "results",
                f"spans_{args.workload}_seed{args.seed}.jsonl"))
            tracer.close()
        else:
            metrics, units = e2e, END_TO_END
        record["metrics"] = metrics
        for name, value in metrics.items():
            print(f"  {name:<28} {value:>14.4f} {units[name]}")
        print(f"  checks: {chk.checks} over {chk.attempted} operations, "
              f"{chk.failed} failed; {record['stolen_ops']} of "
              f"{record['loop_ops']} loop operations left out as stolen")
        for msg in chk.messages:
            print(f"  FAILED: {msg}")
        return {"correct": chk.failed == 0 and chk.attempted > 0,
                "attempted": chk.attempted, "failed": chk.failed,
                "metrics": {n: {"value": metrics[n], "unit": units[n]}
                            for n in units}}
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tripgogo_vector_search_spark")):
        print("perfbench: the engine package tripgogo_vector_search_spark is "
              f"not next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    env = configure_env()
    sys.path[:0] = [ROOT, HERE]
    import pyspark
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "size": args.size,
              "pyspark": pyspark.__version__, **env}
    print("perfbench: " + " ".join(f"{k}={v}" for k, v in record.items()))
    try:
        result = run(args, record)
    except Exception:
        traceback.print_exc()
        return 1
    with open(os.path.join(WORK, "results",
                           f"{args.workload}_seed{args.seed}"
                           f"_trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
