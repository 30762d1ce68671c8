"""Run one benchmark workload and print its metrics.

From the repository root::

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 10 --trace 0

The benchmark starts its own Spark session (``local[nproc]``, 8 shuffle
partitions, 3 GiB driver heap), generates the workload's inputs from the
seed, times the set-up, then repeats the workload's operation cycle until
``--seconds`` have passed (whole cycles, at least one).  Every output is
checked against an oracle.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a ``{"detail": ...}`` record with the host, sizes and per-operation data.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` wraps the
engine's public calls in spans (see ``spans.py``) and reports the per-layer
metrics instead.  Working files go to ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {"setup_s": "s", "write_cpu_s": "s", "read_cpu_s": "s"}
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_program() -> None:
    """Exit non-zero, printing no result, when the engine or its reference
    oracles are not in the checkout."""
    sys.path.insert(0, ROOT)
    try:
        import hipporag_spark  # noqa: F401
        import tests.reference_impl  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def start_spark(work: str, event_dir: str | None):
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and the Python workers inherit these: workers import the
    # engine from the checkout, and nothing writes outside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no /tmp/hsperfdata_<user> from the launcher JVM or the Spark driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    from hipporag_spark.session import get_spark

    spark = get_spark("perfbench", cores=nproc, shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_op(sc, kind: str, op, check) -> dict:
    """Run one operation with wall, CPU, steal and persisted-RDD counters
    around it; its output check runs after the counters stop."""
    from spans import tree_cpu_s

    p0 = sc._jsc.getPersistentRDDs().size()
    cpu0, k0 = tree_cpu_s(), cpu_ticks()
    t = time.perf_counter()
    try:
        out, errs = op(), None
    except Exception as e:  # an op failure is data, not a crash
        out, errs = None, [f"{type(e).__name__}: {str(e)[:300]}"]
    wall = time.perf_counter() - t
    cpu = tree_cpu_s() - cpu0
    k = [b - a for a, b in zip(k0, cpu_ticks())]
    return {"kind": kind, "wall_s": wall, "cpu_s": cpu, "steal_share": k[7] / max(sum(k), 1),
            "persisted_rdds_delta": sc._jsc.getPersistentRDDs().size() - p0,
            "errors": errs if errs is not None else check(out)}


def median(xs):
    return statistics.median(xs) if xs else None


def run(args, sizes: dict | None = None) -> tuple[dict, dict]:
    from spans import RssSampler, Tracer, per_layer_units, tree_cpu_s
    from workloads import WORKLOADS

    os.makedirs(WORK, exist_ok=True)
    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    phases = {}
    mark = time.perf_counter()
    ticks0 = cpu_ticks()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    wl = WORKLOADS[args.workload](args.seed, WORK, sizes)
    wl.make_inputs()
    phase("make_inputs")
    # set-up time runs from the session start to the serving state: a user
    # of the engine pays both before the first operation
    t0, setup_cpu0 = time.perf_counter(), tree_cpu_s()
    spark, nproc = start_spark(WORK, event_dir)
    sc = spark.sparkContext
    spark_version = spark.version
    ops: list[dict] = []
    with RssSampler() as rss:
        tracer = Tracer(spark) if args.trace else None
        wl.spark, wl.tracer = spark, tracer
        try:
            if tracer:
                tracer.install()
                tracer.request = "setup"
            wl.setup()
            setup_s = time.perf_counter() - t0
            setup_cpu_s = tree_cpu_s() - setup_cpu0
            phase("setup")
            cycles = 0
            window = time.perf_counter()
            while cycles < wl.sizes["max_cycles"]:
                for kind, op, check in wl.cycle(cycles):
                    if tracer:
                        tracer.request = f"op{len(ops)}"
                    ops.append(run_op(sc, kind, op, check))
                    ops[-1].update(id=f"op{len(ops) - 1}", cycle=cycles)
                cycles += 1
                if time.perf_counter() - window >= args.seconds:
                    break
            phase("window")
            cached_mb = sum(r.memSize() for r in sc._jsc.sc().getRDDStorageInfo()) / 2**20
            final_errs = wl.final_errors(cycles)
            if final_errs:  # the final check re-verifies the last retrieval
                reads = [o for o in ops if o["kind"] in wl.retrieval_kinds] or ops
                reads[-1]["errors"] += final_errs
            if tracer:
                tracer.request = None
                tracer.attach_job_counts()
                tracer.uninstall()
            phase("final_check")
        finally:
            wl.close()
            stop_spark(spark)
    phase("stop")
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]

    # per cycle, the sum over its write operations and over its reads;
    # untimed output checks between operations are not part of either
    def per_cycle(key, write):
        return [sum(o[key] for o in ops if o["cycle"] == c and (o["kind"] in wl.write_kinds) == write)
                for c in range(cycles)]

    failed = sum(1 for o in ops if o["errors"])
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {"nproc": nproc, "mem_total_kb": mem_total_kb(),
                 "spark": spark_version, "python": platform.python_version(),
                 # CPU time the hypervisor took from the host's virtual CPUs
                 # during the run: a high share explains slow, noisy walls
                 "steal_share": ticks[7] / max(sum(ticks), 1)},
        "sizes": wl.sizes, "inputs": wl.info,
        "setup_s": setup_s, "setup_cpu_s": setup_cpu_s,
        # wall times and memory: data, not gated (see README)
        "write_s": median(per_cycle("wall_s", True)), "read_s": median(per_cycle("wall_s", False)),
        "peak_rss_mb": rss.peak_bytes / 2**20, "cached_mb": cached_mb,
        "kind_p50_s": {k: median([o["wall_s"] for o in ops if o["kind"] == k])
                       for k in sorted({o["kind"] for o in ops})},
        "op_samples": len(ops), "ops": ops, "phases_s": phases,
    }
    metrics = {
        "setup_s": setup_cpu_s,
        "write_cpu_s": median(per_cycle("cpu_s", True)),
        "read_cpu_s": median(per_cycle("cpu_s", False)),
    }
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if args.trace:
        metrics = traced_metrics(tracer, event_dir, ops, wl, detail)
        metrics["trace.read_cpu_s"] = median(per_cycle("cpu_s", False))
    units = per_layer_units() if args.trace else END_TO_END
    result["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    return result, detail


def traced_metrics(tracer, event_dir: str, ops: list[dict], wl, detail: dict) -> dict:
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    tracer.attach_task_metrics(logs[0])
    shutil.rmtree(event_dir, ignore_errors=True)
    tracer.dump(os.path.join(WORK, f"spans-{wl.name}-{wl.seed}.jsonl"))
    metrics = tracer.layer_metrics()
    metrics["retrieve.persisted_rdds_delta"] = sum(
        o["persisted_rdds_delta"] for o in ops if o["kind"] in wl.retrieval_kinds)
    # per operation: Spark jobs and stages, and the share of the wall that
    # the spans' self times account for
    selfs = tracer.self_times()
    for o in ops:
        spans = [s for s in tracer.spans if s.request == o["id"]]
        o["jobs"] = sum(s.counts.get("jobs", 0) for s in spans)
        o["stages"] = sum(s.counts.get("stages", 0) for s in spans)
        o["span_self_share"] = sum(selfs[s.id] for s in spans) / o["wall_s"]
    detail["spans"] = len(tracer.spans)
    return metrics


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    require_program()
    result, detail = run(args)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
