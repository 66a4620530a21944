#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload recrawl_mostly_seen --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a local Spark session, runs
the workload's warm-up reps, then repeats set-up + timed op (fresh seeded
inputs each rep) until ``--seconds`` of op time have been measured,
checks every timed rep's outputs outside the timed region, and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (medians over the reps);
``--trace 1`` adds an untraced reference rep and a traced rep after the
timed ones (and a traced op of each workload that runs only in traced
runs) and reports the per-layer metrics instead. Every metric name, unit and bound is in BENCHMARK.json; the
notes are in perfbench/README.md. A line starting with ``detail`` before
the result holds input digests, the CPU gauge and per-rep numbers.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GAUGE_BYTES = 200 * 1024 * 1024


def cpu_gauge_s() -> float:
    """Single-thread CPU calibration: md5 over a fixed 200 MB buffer
    (median of 3). Read next to a run's numbers to tell an ambient-load
    burst from a regression; it is not a metric of the program."""
    buf = bytes(GAUGE_BYTES)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        hashlib.md5(buf).digest()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_spark(app: str, cores: int, work: str, event_log: str | None):
    from edgar_crawler_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Dderby.system.home={work} ",
        "spark.python.worker.reuse": "true",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores",
        type=int,
        default=min(4, os.cpu_count() or 1),
        help="local[N] parallelism (default min(4, nproc))",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "edgar_crawler_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds edgar_crawler_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        gauge = cpu_gauge_s()
        t = time.perf_counter()
        spark = start_spark(f"perfbench-{args.workload}", args.cores, work, event_log)
        session_s = time.perf_counter() - t
        result = run_workload(WORKLOADS[args.workload], spark, work, args, session_s, gauge)
        stop_spark(spark)  # flushes the event log
        spark = None
        return report(args, result, event_log)
    except CheckFailed as e:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def report(args, result: dict, event_log: str | None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        from tracing import event_log_layers, read_event_log

        layers = result["layers"]
        layers.update(event_log_layers(read_event_log(event_log, result["run_id"])))
        metrics = {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (result["e2e"][m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print("detail " + json.dumps(result["detail"], sort_keys=True))
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def prepare(wl, rep: int) -> float:
    """Set up rep ``rep`` (stage its inputs, bootstrap its state) and
    return the seconds it took."""
    t = time.perf_counter()
    wl.stage_inputs(rep)
    wl.bootstrap()
    return time.perf_counter() - t


def run_workload(cls, spark, work: str, args, session_s: float, gauge: float) -> dict:
    """The workload's warm-up reps, on inputs of their own (their
    outputs are not checked), then timed reps until ``--seconds`` of op
    time are measured (at least one)."""
    wl = cls(spark, work, args.seed)
    t = time.perf_counter()
    for rep in range(-cls.warmup_reps, 0):
        prepare(wl, rep)
        wl.op()
    warm_s = time.perf_counter() - t
    steal0 = steal_s()
    prep, results, digests = [], [], []
    measured = 0.0
    while measured < args.seconds or not results:
        prep.append(prepare(wl, len(results)))
        digests.append(wl.digest)
        res = wl.op()
        res.failed += wl.check()
        results.append(res)
        measured += res.wall_s

    med = statistics.median
    out = {
        "correct": True,
        "attempted": sum(r.attempted for r in results),
        "failed": sum(r.failed for r in results),
        "e2e": {
            "setup_s": session_s + warm_s + med(prep),
            "items_per_s": med(r.items / r.wall_s for r in results),
            "cpu_ms_per_item": med(1e3 * r.cpu_s / r.items for r in results),
            # bytes depend on the inputs alone: pool them over the reps
            "stored_bytes_per_item": sum(r.stored_bytes for r in results) / sum(r.items for r in results),
        },
        "detail": {
            "workload": cls.name,
            "seed": args.seed,
            "cores": args.cores,
            "input_digests": digests,
            "cpu_gauge_md5_200MB_s": gauge,
            "session_s": session_s,
            "warmup_s": warm_s,
            "prepare_s": prep,
            "op_wall_s": [r.wall_s for r in results],
            "op_cpu_s": [r.cpu_s for r in results],
            "first_durable_s": [r.first_durable_s for r in results],
            "steal_s": steal_s() - steal0,
            "item": cls.unit,
            "reps": len(results),
        },
    }
    if args.trace:
        out["layers"], out["run_id"] = traced_rep(wl, len(results))
    d = out["detail"]
    d["failed_fraction"] = f"{out['failed']}/{out['attempted']}"
    return out


def traced_rep(wl, rep: int) -> tuple[dict, str]:
    """One untraced reference rep, one rep with spans and job tags on,
    then one traced op of each of the workload's ``traced_companions``
    (workloads that run only here). The traced rep's wall minus the
    reference rep's is the tracing overhead; both run after the timed
    reps, so both are equally warm. Returns the per-layer numbers known
    before the event log is read."""
    from contextlib import contextmanager, nullcontext

    from tracing import Tracer

    tracer = Tracer(wl.spark.sparkContext)
    roots = []

    @contextmanager
    def timed():
        with tracer.span("op") as s:
            roots.append(s)
            yield s

    prepare(wl, rep)
    untraced_wall = wl.op().wall_s
    wl.check()
    layers, results = {}, []
    companions = [c(wl.spark, wl.root, wl.seed) for c in wl.traced_companions]
    for w, r in [(wl, rep + 1)] + [(c, 0) for c in companions]:
        prepare(w, r)
        tracer.install()
        w.timed = timed
        try:
            res = w.op()
        finally:
            tracer.uninstall()
            w.timed = nullcontext
        w.check()
        layers.update(w.layer_stats(res))
        results.append(res)
    res = results[0]
    times = tracer.layer_times(roots)
    walls = times["walls"]
    layers.update(
        {
            "op.first_durable_s": res.first_durable_s,
            "state.bytes_written": res.stored_bytes,
            "state.files_written": res.stored_files,
            "seen.admit_s": walls.get("seen.admit", 0.0),
            "seen.filter_update_s": walls.get("seen.filter_update", 0.0),
            "dedup.lsh_add_s": walls.get("dedup.lsh_add", 0.0),
            "trace.wall_s": sum(r["end"] - r["start"] for r in roots),
            "trace.self_sum_s": times["self_sum"],
            "trace.overhead_s": res.wall_s - untraced_wall,
        }
    )
    for name, wall in walls.items():
        if name.startswith("state.commit."):
            layers["state.commit_s." + name[len("state.commit.") :]] = wall
    for layer, t in times["self"].items():
        layers[f"self_s.{layer}"] = t
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-seed{wl.seed}.json"))
    return layers, tracer.run_id


if __name__ == "__main__":
    sys.exit(main())
