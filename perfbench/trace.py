"""Instrumentation for the traced run.

Nothing here is imported by an end-to-end run. A traced run installs
timers around the program's public entry points from this file (the
program itself is not modified) and reads Spark's status store between
ops:

- ``JobWindow`` attributes every Spark job whose id falls in an op's
  window to that op, whatever job group it carries. Ids come from the
  scheduler's job counter, so jobs started from pool threads (no group) and
  streaming micro-batch jobs (the stream's run-id group) are counted like
  any other. Stage metrics are read per stage from the status store after
  the listener bus has drained.
- ``Tracer`` wraps functions with outermost-call timers and keeps
  per-layer sums for the current op; ``enabled`` switches the wrappers off
  so one process can time the same ops traced and untraced.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import threading
import time
from collections import defaultdict

_BATCH_RE = re.compile(r"runId = (\S+)\s+batch = (\d+)")
MB = 1024.0 * 1024.0


class JobWindow:
    """Read job and stage facts for a range of job ids from the status
    store of a live SparkContext."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()

    def next_job_id(self) -> int:
        """Id the scheduler will give the next job (a counter of all jobs
        ever submitted in this context)."""
        counter = self._dag.nextJobId()  # AtomicInteger; py4j may unbox it
        return int(counter if isinstance(counter, int) else counter.get())

    def jobs(self, lo: int, hi: int) -> dict:
        """Totals over jobs ``lo <= id < hi``: counts, stage metrics, the
        wall time covered by at least one running job, and streaming
        micro-batches (distinct run id and batch number)."""
        self._bus.waitUntilEmpty()
        out = defaultdict(float)
        intervals = []
        batches = set()
        seen_stages = set()
        no_tasks = self._gateway.jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        for jid in range(lo, hi):
            try:
                job = self._store.job(jid)
            except Exception:  # py4j surfaces the JVM's NoSuchElementException
                continue  # evicted from the store (over spark.ui.retainedJobs)
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
            desc = job.description()
            if desc.isDefined():
                m = _BATCH_RE.search(desc.get())
                if m:
                    batches.add(m.groups())
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    attempts = self._store.stageData(
                        sid, False, no_tasks, False, no_quantiles
                    )
                except Exception:  # skipped stage of an earlier job, or evicted
                    continue
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) in ("SKIPPED", "PENDING"):
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                    out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    out["spill_mb"] += st.diskBytesSpilled() / MB
                    out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["exec_s"] = _covered_seconds(intervals)
        out["batches"] = len(batches)
        return out


def _covered_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of millisecond intervals, in seconds."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


class Tracer:
    """Outermost-call timers around program functions.

    ``acc`` holds the current op's sums under ``<key>.s``, ``<key>.calls``
    and, for wrappers installed with ``count_jobs``, ``<key>.jobs``. A call
    made while another call under the same key is running (recursion, a
    public helper calling another) adds to ``calls`` but not to time.
    """

    def __init__(self, window: JobWindow):
        self.window = window
        self.enabled = True
        self.acc: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()

    def reset(self) -> dict[str, float]:
        acc, self.acc = self.acc, defaultdict(float)
        return acc

    def wrap(self, key: str, fn, count_jobs: bool = False):
        tracer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer._lock:
                outer = tracer._depth[key] == 0
                tracer._depth[key] += 1
            j0 = tracer.window.next_job_id() if outer and count_jobs else 0
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                jobs = tracer.window.next_job_id() - j0 if outer and count_jobs else 0
                with tracer._lock:
                    tracer._depth[key] -= 1
                    tracer.acc[key + ".calls"] += 1
                    if outer:
                        tracer.acc[key + ".s"] += dt
                        if count_jobs:
                            tracer.acc[key + ".jobs"] += jobs

        return timed


def _rebind(original, replacement, prefix: str = "etl_caic_spark") -> None:
    """Point every module-level reference to ``original`` in the program's
    modules (``from x import f`` copies included) at ``replacement``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == prefix or name.startswith(prefix + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def install(tracer: Tracer) -> None:
    """Wrap the program's public entry points. Call after the registry has
    imported every plan."""
    import importlib
    import pkgutil

    from pyspark.sql.streaming.query import StreamingQuery

    import etl_caic_spark.operators as ops_pkg
    from etl_caic_spark.sources import rest, sinks, tables

    targets = [
        (tables, "load_table", "sources.load", True),
        (rest, "fetch_json_snapshot", "sources.fetch", False),
        (rest, "fetch_json_paginated", "sources.fetch", False),
        (sinks, "submit_feature_collection", "sources.submit", False),
    ]
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        for attr in _public_functions(mod):
            targets.append((mod, attr, f"operators.{info.name}", False))
    for mod, attr, key, count_jobs in targets:
        original = getattr(mod, attr)
        _rebind(original, tracer.wrap(key, original, count_jobs))
    # Stream queries are driven to completion inside builders; the time a
    # builder spends waiting on a running stream is the streaming layer's.
    for attr in ("awaitTermination", "processAllAvailable"):
        setattr(
            StreamingQuery,
            attr,
            tracer.wrap("streaming.run", getattr(StreamingQuery, attr)),
        )


def _public_functions(mod):
    """Names of the public functions defined in ``mod``."""
    return [
        attr
        for attr, fn in vars(mod).items()
        if not attr.startswith("_")
        and inspect.isfunction(fn)
        and fn.__module__ == mod.__name__
    ]
