#!/usr/bin/env python3
"""Seeded single-process benchmark of the rehiver_spark engine.

One run:

    python3 perfbench/run.py --workload catalog_query --seed 1 --seconds 10 --trace 0

builds the workload's inputs from the seed, starts a local Spark
session, runs an untimed warm-up pass, measures for ``--seconds``,
checks every operation's output, and prints one JSON object as its last
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones from a traced run (spans written to ``--spans-out``).

Report and self-test modes drive several such runs as subprocesses:

    python3 perfbench/run.py --report [--workload W] [--runs 5]
    python3 perfbench/run.py --selftest [--workload W]

Run it from the root of a source checkout: it imports ``rehiver_spark``
from there and keeps every file it writes under ``.perfbench_work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HELD_OUT_SEED = 7919  # never used while tuning; reserved for gain claims


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans-out", help="traced runs: write spans + counters here (JSON)")
    p.add_argument("--report", action="store_true", help="several seeds per workload, summarized")
    p.add_argument("--selftest", action="store_true", help="determinism self-test")
    p.add_argument("--runs", type=int, default=5, help="report mode: untraced runs per workload")
    return p.parse_args(argv)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def start_session(work: str, workload: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    from rehiver_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the engine's own code-cache setting; a fixed young
            # generation, so the JVM's peak RSS does not follow G1's
            # timing-driven young sizing; temp files in the run directory
            # (no hsperfdata file in the system temp dir)
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m -Xms2g -Xmn512m "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # traced runs attribute counters after the run: keep every job
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark (if it got as far as a session), then the gateway JVM,
    and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


def spark_metrics(tr, ops: int, wall: float, cores: int) -> dict:
    """Spark counters summed over the timed operations' spans, per
    operation."""
    spans = tr.in_operations()
    tot = {}
    for f in ("jobs", "stages", "numTasks", "shuffleWriteBytes", "diskBytesSpilled",
              "jvmGcTime", "executorRunTime"):
        tot[f] = sum(s.counters.get(f, 0) for s in spans)
    n = max(1, ops)
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["numTasks"] / n,
        "spark.shuffle_write_bytes": tot["shuffleWriteBytes"] / n,
        "spark.spill_bytes": tot["diskBytesSpilled"] / n,
        "spark.gc_s": tot["jvmGcTime"] / 1e3 / n,
        "spark.executor_busy_share": tot["executorRunTime"] / 1e3 / max(1e-9, wall * cores),
    }


def run_one(args) -> int:
    from workloads import WORKLOADS, quantile
    import bench_spec

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, args.workload)
        session_s = time.perf_counter() - t0
        from spans import Tracer

        tr = Tracer(spark.sparkContext, enabled=False)
        wl = WORKLOADS[args.workload](spark, tr, args.seed, work)
        phases = wl.setup()
        tr.enabled = bool(args.trace)  # spans cover the measured window only
        # process start to the first timed operation, with the repeated
        # input builds counted once, at their median
        builds = phases.pop("builds_s")
        setup_s = time.perf_counter() - T_START - sum(builds) + statistics.median(builds)
        phases["build_s"] = statistics.median(builds)
        lat, items = wl.run(args.seconds)
        rss_py = vm_hwm_kb("self") / 1024
        rss_jvm = vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024
        peak_mb = rss_py + rss_jvm
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "op_success_ratio": 1 - wl.failed / max(1, wl.attempted),
            # the first operation always runs, so lat is never empty
            "op_p50_ms": 1e3 * statistics.median(lat),
            "items_per_s": statistics.median(n / t for n, t in zip(items, lat)),
        }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(lat),
            # too few samples beyond p90 for a bounded metric; shown, not gated
            "op_p90_ms": 1e3 * quantile(lat, 0.9),
            "ops_beyond_p90": sum(1 for x in lat if x > quantile(lat, 0.9)),
            "session_s": session_s,
            "peak_rss_mb_python": rss_py,
            "peak_rss_mb_jvm": rss_jvm,
            "op_s": [round(x, 4) for x in lat],
            **phases,
            **wl.info,
        }
        if args.trace:
            tr.attribute_counters()
            cores = spark.sparkContext.defaultParallelism
            layer = {m: 0.0 for m in bench_spec.per_layer_names()}
            computed = {**wl.layer_metrics(), **spark_metrics(tr, len(lat), sum(lat), cores)}
            unknown = set(computed) - set(layer)
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            layer.update(computed)
            st = tr.self_times()
            for s in tr.in_operations():
                layer[f"self_s.{s.layer}"] += st[s.sid] / max(1, len(lat))
            layer["trace.spans"] = len(tr.spans)
            metrics = layer
            if args.spans_out:
                with open(args.spans_out, "w") as f:
                    json.dump({"info": info, "end_to_end": e2e, "spans": tr.dump()}, f)
        else:
            metrics = e2e
        units = bench_spec.units()
        print("INFO " + json.dumps(info, sort_keys=True), flush=True)
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass  # another run is using it
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    args = parse_args(argv)
    if args.report or args.selftest:
        import report

        return report.selftest(args) if args.selftest else report.report(args)
    if not args.workload:
        raise SystemExit("--workload is required")
    import rehiver_spark  # noqa: F401  (fail fast outside a source checkout)

    # a terminated run still stops Spark and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
