"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload mor_fanout --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end ones; with --trace 1 the same
workload runs with spans and Spark counters on and the metrics are its
per_layer ones. The line before it is a JSON record of the host, the
engine's source digest, the seed and the sample counts.

Everything the run writes goes under .perfbench_work/ in the current
directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("mor_fanout", "catalog")


def metric_units(kind: str) -> dict:
    """name -> unit of BENCHMARK.json's `end_to_end` or `per_layer` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def host_fit_env(work: str) -> tuple[dict, int]:
    """Size the Spark session to this host: all cores, half of physical
    memory as the (pre-touched) driver heap, scratch space in the run's
    work directory. Returns the environment and MemTotal in MB."""
    cpus = os.cpu_count() or 1
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    heap_mb = mem_kb // 2 // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    # every JVM the run starts (Spark's launcher and driver) keeps its
    # scratch files in the work directory and writes no perf-data file
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData")
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    return env, mem_kb // 1024


def source_digest() -> str:
    """Digest of the engine's sources: the run's commit stand-in, since
    the benchmark may run from a checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "kafka_cdc_redshift_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def heap_used_mb(spark) -> float:
    """JVM heap in use after forced full GCs: the least of three readings."""
    # drop Python's handles first: each live py4j proxy pins its JVM object
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        # Spark's context cleaner drops broadcast and shuffle state only
        # after a GC has found it unreachable; the next GC frees it
        time.sleep(0.5)
    return min(used)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, then wait again
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    env, mem_total_mb = host_fit_env(work)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    spark = None
    try:
        try:
            from kafka_cdc_redshift_spark.session import build_session
            import spans
            import workloads as wl
        except ImportError as e:
            print(f"perfbench: the engine is not importable here: {e}",
                  file=sys.stderr)
            return 2

        t = time.perf_counter()
        spark = build_session(
            f"perfbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        res = wl.Result()
        res.setup["session_s"] = time.perf_counter() - t
        run = wl.run_catalog if args.workload == "catalog" else wl.run_mor_fanout
        run(spark, args.seed, args.seconds, work, bool(args.trace), res,
            T_PROCESS0)
        heap = heap_used_mb(spark)
        res.info["process_s"] = time.perf_counter() - T_PROCESS0

        op_tail, op_p, _ = spans.tail(res.op_s)
        read_tail, read_p, _ = spans.tail(res.read_s)
        e2e = {
            "setup_s": res.setup["total_s"],
            "op_s_p50": statistics.median(res.op_s),
            "ops_per_s": len(res.op_s) / res.window_s,
            "read_s_mean": statistics.mean(res.read_s),
            "heap_mb": heap,
        }
        if args.trace:
            values = dict(res.layer)
            values["session.start_s"] = res.setup["session_s"]
            values["setup.generate_s"] = res.setup["generate_s"]
            values["setup.warm_s"] = res.setup["warm_s"]
            values["trace.op_s_p50"] = e2e["op_s_p50"]
            values["store.mb"] = res.info.get("store_mb", 0.0)
            units = metric_units("per_layer")
        else:
            values = e2e
            units = metric_units("end_to_end")
        unknown = set(values) - set(units)
        if unknown:
            raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
        if args.trace:  # a layer the workload does not exercise reads 0
            values = {k: values.get(k, 0.0) for k in units}
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": {"cores": os.cpu_count(), "mem_total_mb": mem_total_mb,
                     "heap": env["SPARK_GRAFT_DRIVER_MEM"]},
            "source_digest": source_digest(),
            "setup": res.setup, "samples": {
                "ops": len(res.op_s), "reads": len(res.read_s),
                "op_s_tail": op_tail, "op_tail_pct": round(100 * op_p, 1),
                "read_s_tail": read_tail,
                "read_tail_pct": round(100 * read_p, 1),
                "op_s": res.op_s, "read_s": res.read_s},
            "info": res.info, "errors": res.errors[:20],
            "end_to_end": e2e,
        }
        print(json.dumps(record))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
