#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 benchmark/run.py --workload cluster --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run makes its inputs from ``--seed``
under ``benchmark/.work/``, starts a Spark session with
``get_spark(cpus=<usable cores>)``, prepares the reference answers, warms
the workload's op up, then drives it with one closed-loop client for
``--seconds`` seconds in whole rounds of the workload's ops (the round in
flight when time is up completes). Every
output is checked after the timed window. The last line of standard output
is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and Spark's event log and reports the per-layer
ones instead. See benchmark/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "ops_per_s": "1/s",
              "cpu_s_per_op": "s"}
#: every per-layer figure, reported per timed op (session.* and
#: peak_rss_mb per run)
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "peak_rss_mb": "MB",
    "traced.latency_p50_s": "s",
    "registry.build_s": "s", "registry.collect_s": "s",
    "registry.release_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark_driver.gap_s": "s",
    "scan.bytes": "bytes", "scan.records": "count", "readers.json_s": "s",
    "sinks.publish_s": "s", "sinks.bytes_written": "bytes",
    "sinks.files_written": "count", "sinks.read_back_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.spill_bytes": "bytes",
    "python.worker_cpu_s": "s", "python.worker_starts": "count",
    "driver_py.cpu_s": "s",
    "tfidf.fit_s": "s", "tfidf.lsa_s": "s",
    "clustering.kmeans_fit_s": "s", "clustering.metrics_s": "s",
    "clustering.w2v_fit_s": "s",
    "pairwise.topk_s": "s", "knn.knee_s": "s", "dbscan.labels_s": "s",
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read().decode()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _spark_env(work_dir: str, trace: bool, in_dir: str) -> None:
    """Keep every file Spark and Python write inside the work dir, size
    shuffle partitions from the workload's own input, and switch the event
    log on at JVM launch for a traced run."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData (driver and launcher JVM): no hsperfdata file in
    # the system temp dir
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_GRAFT_SF_DIR": in_dir,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell",
    })


def _stop_spark(spark, root_pid: int) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    from proctree import descendants
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while descendants(root_pid)[1:]:
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes outlived the session: "
                               f"{descendants(root_pid)[1:]}")
        time.sleep(0.1)


def _run_round(wl, tracer, outs: list, lat: list | None) -> None:
    """Run one round of ``wl``'s ops, appending ``(label, output)`` to
    ``outs`` and, for a timed round, each op's wall time to ``lat``."""
    for label, fn in wl.round():
        tracer.begin_op(None if lat is None else len(lat))
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as ex:  # noqa: BLE001 — a failed op is counted
            out = ex
        dt = time.perf_counter() - t0
        tracer.end_op()
        outs.append((label, out))
        if lat is not None:
            lat.append(dt)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("cluster", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.monotonic() - _process_age_s()

    # the engine must be importable before anything is generated: a
    # directory holding only the benchmark fails here
    import fts_errors_clustering_spark  # noqa: F401
    import numpy as np

    import proctree
    from tracing import Tracer
    from workloads import WORKLOADS

    root_pid = os.getpid()
    work_dir = os.path.join(BENCH_DIR, ".work",
                            f"{args.workload}-{args.seed}-{root_pid}")
    os.makedirs(work_dir)
    try:
        # the RSS sampler scans /proc from a thread of this process, so it
        # runs only when its figure is reported
        with (proctree.PeakRss(root_pid) if args.trace
              else contextlib.nullcontext()) as rss:
            tracer = Tracer(bool(args.trace), root_pid=root_pid)
            wl = WORKLOADS[args.workload](work_dir, tracer)
            _spark_env(work_dir, bool(args.trace), wl.in_dir)
            wl.make_inputs(np.random.default_rng(args.seed))

            from fts_errors_clustering_spark.session import get_spark
            t0 = time.monotonic()
            spark = get_spark("fts-benchmark",
                              cpus=len(os.sched_getaffinity(0)))
            session_start_s = time.monotonic() - t0
            tracer.spark = spark
            try:
                wl.setup(spark)
                tracer.watch_workers()
                outs: list = []
                t0 = time.monotonic()
                _run_round(wl, tracer, outs, None)  # one warm-up round
                n_warm = len(outs)
                warmup_s = time.monotonic() - t0

                lat: list = []
                setup_s = time.monotonic() - t_start
                cpu0 = proctree.tree_cpu_s(root_pid)
                t0 = time.perf_counter()
                while not lat or time.perf_counter() - t0 < args.seconds:
                    _run_round(wl, tracer, outs, lat)
                wall = time.perf_counter() - t0
                cpu = proctree.tree_cpu_s(root_pid) - cpu0
                tracer.stop_watch()
            finally:
                _stop_spark(spark, root_pid)

        # outputs are checked in op order, warm-up ops included (ingest's
        # version sequence and cluster's same-rows check span them all). A
        # timed op that raised counts as failed; only timed ops count as
        # attempted, so a warm-up op that raised makes the run incorrect
        correct = True
        for i, (label, o) in enumerate(outs):
            if isinstance(o, Exception):
                print(f"{label} failed: {type(o).__name__}: {o}",
                      file=sys.stderr)
                if i < n_warm:
                    correct = False
            elif not wl.check(label, o):
                print(f"{label}: output failed its check", file=sys.stderr)
                correct = False
        failed = sum(isinstance(o, Exception) for _, o in outs[n_warm:])

        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update(tracer.per_op(len(lat),
                                         os.path.join(work_dir, "eventlog")))
            metrics.update({"session.start_s": session_start_s,
                            "session.warmup_s": warmup_s,
                            "peak_rss_mb": rss.peak / 2**20,
                            "traced.latency_p50_s": statistics.median(lat)})
            units = PER_LAYER
        else:
            metrics = {"setup_s": setup_s,
                       "latency_p50_s": statistics.median(lat),
                       "ops_per_s": len(lat) / wall,
                       "cpu_s_per_op": cpu / len(lat)}
            units = END_TO_END
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"unlisted metrics: {sorted(unknown)}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
