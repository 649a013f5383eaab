"""Traced-run instrumentation: spans, Spark event-log counters, Catalyst
phase times and the Python-worker CPU split.

Nothing here is active in an untraced run: :class:`Tracer` with
``enabled=False`` hands out one shared no-op context and patches nothing.

- **Spans** are recorded from the benchmark's side of each layer boundary:
  around the benchmark's own calls into the program (registry query fns,
  ``collect``, consumer-cache release, readers and sinks), and, by
  :meth:`Tracer.wrap`, around the operator functions under the names the
  calling module imported. Each span holds name, start, end, parent and op
  id; a layer's figure is its *self* time, the span minus its children.
- **Spark counters** come from Spark's own event log, switched on at JVM
  launch for the traced run only. Each op's jobs carry the op id as their
  job group (``setJobGroup``), so tasks fold back to ops.
- **Catalyst phases** come from ``queryExecution().tracker().phases()`` of
  each collected frame.
- **Python workers** are the ``pyspark.daemon`` processes and the workers
  they fork, found in ``/proc``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import resource
import threading
import time

from proctree import cpu_s, python_workers

#: span names whose per-op self time is reported (metric = name + "_s")
SPAN_METRICS = (
    "registry.build", "registry.collect", "registry.release",
    "readers.json", "sinks.publish", "sinks.read_back",
    "tfidf.fit", "tfidf.lsa", "clustering.kmeans_fit", "clustering.metrics",
    "clustering.w2v_fit", "pairwise.topk", "knn.knee", "dbscan.labels",
)
_PHASES = ("analysis", "optimization", "planning")

_NULL = contextlib.nullcontext()


def _driver_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


class Tracer:
    def __init__(self, enabled: bool, root_pid: int = 0):
        self.enabled = enabled
        self.spark = None  # set once the session is up
        self.root_pid = root_pid
        self.op: int | None = None
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self.counts: dict[tuple[int, str], float] = {}
        self.op_windows: dict[int, tuple[float, float]] = {}
        self._marks: dict[str, float] = {}
        self._seen_workers: dict[int, float] = {}
        self._watch_stop = threading.Event()
        self._watch: threading.Thread | None = None

    # -- spans -----------------------------------------------------------
    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        setattr(module, attr, traced)

    def add(self, name: str, value: float) -> None:
        """Add a count to the current op (timed ops only)."""
        if self.enabled and self.op is not None:
            key = (self.op, name)
            self.counts[key] = self.counts.get(key, 0.0) + value

    def catalyst(self, df) -> None:
        """Add the collected frame's Catalyst phase times to the op."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in _PHASES:
            opt = phases.get(ph)
            if opt.isDefined():
                self.add(f"catalyst.{ph}_s", opt.get().durationMs() / 1e3)

    # -- ops ---------------------------------------------------------------
    def begin_op(self, op: int | None) -> None:
        """Open op ``op`` (``None`` for a warm-up op, which is tagged but
        not reported)."""
        if not self.enabled:
            return
        self.op = op
        self.spark.sparkContext.setJobGroup(
            "warm" if op is None else f"op{op}", "benchmark op")
        self._marks = {"wall": time.time(), "driver": _driver_cpu_s(),
                       "workers": self._workers_cpu()}

    def end_op(self) -> None:
        if not self.enabled:
            return
        if self.op is not None:
            self.op_windows[self.op] = (self._marks["wall"], time.time())
            self.add("driver_py.cpu_s", _driver_cpu_s() - self._marks["driver"])
            self.add("python.worker_cpu_s",
                     self._workers_cpu() - self._marks["workers"])
        self.spark.sparkContext.setJobGroup("idle", "between ops")
        self.op = None

    def _workers_cpu(self) -> float:
        return cpu_s(python_workers(self.root_pid))

    # -- worker starts ----------------------------------------------------------
    def watch_workers(self) -> None:
        """Poll for new Python worker processes every 50 ms; each is
        charged to the op in flight when it is first seen."""
        if not self.enabled:
            return

        def run():
            while not self._watch_stop.wait(0.05):
                now = time.time()
                for pid in python_workers(self.root_pid):
                    self._seen_workers.setdefault(pid, now)
        self._watch = threading.Thread(target=run, daemon=True)
        self._watch.start()

    def stop_watch(self) -> None:
        if self._watch is not None:
            self._watch_stop.set()
            self._watch.join()

    # -- folding -----------------------------------------------------------
    def per_op(self, n_ops: int, event_log_dir: str) -> dict[str, float]:
        """Per-op means over the timed ops of every traced figure."""
        totals: dict[str, float] = {f"{n}_s": 0.0 for n in SPAN_METRICS}
        for (_op, name), v in self.counts.items():
            totals[name] = totals.get(name, 0.0) + v
        child: dict[int, float] = {}
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
        for i, (name, t0, t1, _parent, op) in enumerate(self.spans):
            if op is not None and name in SPAN_METRICS:
                totals[f"{name}_s"] += (t1 - t0) - child.get(i, 0.0)
        for t in self._seen_workers.values():
            if any(w0 <= t <= w1 for w0, w1 in self.op_windows.values()):
                totals["python.worker_starts"] = (
                    totals.get("python.worker_starts", 0.0) + 1)
        for k, v in spark_counters(event_log_dir, self.op_windows).items():
            totals[k] = totals.get(k, 0.0) + v
        return {k: v / n_ops for k, v in totals.items()}


def spark_counters(log_dir: str,
                   op_windows: dict[int, tuple[float, float]]) -> dict[str, float]:
    """Fold Spark's event log into totals over the timed ops: jobs, stages,
    tasks and their metrics, and the op wall not covered by any job."""
    job_op: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stage_op: dict[int, int] = {}
    t: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        t[k] = t.get(k, 0.0) + v

    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, "
                           f"found {paths}")
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not (group or "").startswith("op"):
                    continue
                op, jid = int(group[2:]), ev["Job ID"]
                job_op[jid] = op
                job_span[jid] = [ev["Submission Time"] / 1e3, None]
                for sid in ev["Stage IDs"]:
                    stage_op.setdefault(sid, op)
                add("spark.jobs", 1)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif (kind == "SparkListenerStageCompleted"
                  and ev["Stage Info"]["Stage ID"] in stage_op):
                add("spark.stages", 1)
            elif (kind == "SparkListenerTaskEnd"
                  and ev["Stage ID"] in stage_op):
                add("spark.tasks", 1)
                m = ev.get("Task Metrics") or {}
                add("executor.run_s", m.get("Executor Run Time", 0) / 1e3)
                add("executor.cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                add("executor.gc_s", m.get("JVM GC Time", 0) / 1e3)
                add("executor.spill_bytes", m.get("Disk Bytes Spilled", 0))
                inp = m.get("Input Metrics") or {}
                add("scan.bytes", inp.get("Bytes Read", 0))
                add("scan.records", inp.get("Records Read", 0))
                sr = m.get("Shuffle Read Metrics") or {}
                add("shuffle.read_bytes", sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                add("shuffle.write_bytes", sw.get("Shuffle Bytes Written", 0))
                add("shuffle.records", sw.get("Shuffle Records Written", 0))
    for op, (w0, w1) in op_windows.items():
        spans = sorted((max(s, w0), min(e if e is not None else w1, w1))
                       for j, (s, e) in job_span.items() if job_op[j] == op)
        covered, cur_end = 0.0, w0
        for s, e in spans:
            if e > cur_end:
                covered += e - max(s, cur_end)
                cur_end = e
        add("spark_driver.gap_s", (w1 - w0) - covered)
    return t
