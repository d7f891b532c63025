"""Benchmark entry point.

    python3 perfbench/run.py --workload driver_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root (or a checkout of it). One process, one
closed-loop client, Spark in ``local[nproc]``:

1. generate the workload's inputs from ``--seed`` (not timed);
2. start the session ``SETUPS`` times, each in a newly launched JVM (the
   program's ``get_spark`` plus a fixed warm-up query), and report the
   median as ``setup_s``;
3. run the workload's fixed number of passes (``PASSES``) over its ops in
   their frozen order, so that every run times the same ops; a warning
   goes to stderr when they take less than ``--seconds``;
4. check outputs between ops, outside the timed region (``checks.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` installs the
timers of ``trace.py``, makes one pass in which every op runs once
untimed and then twice back to back (traced and untraced, alternating
which goes first) and prints the per-layer metrics, averaged per traced
op, plus the tracing overhead measured on those pairs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Lines before it give the host facts, failed op
names and every metric with its unit, for reading and for
``compare.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, "perfbench", ".cache")
SETUPS = 2
RSS_PERIOD_S = 0.1
RSS_TREE_EVERY = 10  # samples between re-walks of the process tree
PROGRAM_FILES = ("__spark_entry__.py", "etl_caic_spark")


def configure_env() -> int:
    """Environment for the program and the JVM it launches; returns the
    core count. Everything is written under the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    heap = f"{max(1, min(2, int(_ram_bytes() / 2**30 / 3)))}g"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": local,
            # The program's 16g default is more than small hosts have.
            "SPARK_GRAFT_DRIVER_MEM": heap,
            # pandas-UDF workers import the package by name.
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def _ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def program_digest() -> str:
    """sha256 over the program's source files (the checkout the benchmark
    runs in is not necessarily a git repository)."""
    h = hashlib.sha256()
    paths = []
    for top in PROGRAM_FILES:
        full = os.path.join(ROOT, top)
        if os.path.isfile(full):
            paths.append(full)
        for d, _, files in os.walk(full):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_facts(cpus: int) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    return {
        "cpus": cpus,
        "ram_gib": round(_ram_bytes() / 2**30, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "commit": commit,
        "program_sha256": program_digest(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of all CPU time the hypervisor stole between two
    ``cpu_ticks`` readings; printed beside the timings, never applied."""
    dt = t1[1] - t0[1]
    return (t1[0] - t0[0]) / dt if dt > 0 else 0.0


def process_tree(pid: int) -> list[int]:
    """``pid`` and its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            continue  # exited while walking
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM it launched (it exits when its stdin
    closes) and wait until the JVM and its Python workers have ended. The
    next ``get_spark`` in this process launches a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    gateway.close()  # after the JVM exited: its sockets are closed by then
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


class RssSampler:
    """Peak summed RSS of the driver JVM and its descendants (the Python
    workers), sampled every ``RSS_PERIOD_S`` on a daemon thread. The
    process tree is re-walked every ``RSS_TREE_EVERY`` samples: the JVM has
    ~100 threads, each with its own children file."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_bytes = self.jvm_peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pids) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            total += rss
            if p == self.jvm_pid:
                self.jvm_peak_bytes = max(self.jvm_peak_bytes, rss)
        return total

    def _loop(self) -> None:
        n = 0
        pids = process_tree(self.jvm_pid)
        while not self._stop.wait(RSS_PERIOD_S):
            n += 1
            if n % RSS_TREE_EVERY == 0:
                pids = process_tree(self.jvm_pid)
            self.peak_bytes = max(self.peak_bytes, self._rss(pids))

    def __enter__(self):
        self.peak_bytes = self._rss(process_tree(self.jvm_pid))
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._rss(process_tree(self.jvm_pid)))


def warm_up(spark, sf_dir: str) -> None:
    """Fixed first query after a session start: two scans, a join, an
    aggregate and a noop write."""
    from pyspark.sql import functions as F

    from etl_caic_spark.sources import load_table

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def start_sessions(sf_dir: str, n: int):
    """Start the session ``n`` times, each in a newly launched JVM, and stop
    all but the last with its JVM. Returns the live session and per-start
    (get_spark, warm-up) seconds: every start pays the JVM launch and the
    warm-up query's class loading and code generation."""
    from etl_caic_spark.session import get_spark

    starts = []
    spark = None
    for i in range(n):
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        warm_up(spark, sf_dir)
        starts.append((t1 - t0, time.perf_counter() - t1))
        if i < n - 1:
            stop_spark(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, starts


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, but never
    below the p90 (nearest rank): below 100 samples this is the p90 with
    fewer than ten beyond. Returns (value, percentile, samples beyond)."""
    s = sorted(values)
    k = max(len(s) - 11, math.ceil(0.9 * len(s)) - 1)
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


def run_op(spark, op, tracer, traced: bool):
    """Run one op; returns its record and the handle its check reads."""
    rec = {"op": op.name, "traced": traced, "error": None}
    window = tracer.window if traced else None
    if traced:
        tracer.reset()
        tracer.enabled = True
        j0 = window.next_job_id()
    handle = None
    t0 = time.perf_counter()
    try:
        handle, build_s, build_end = op.run(spark, window)
    except Exception as exc:  # an op failure is a result, not a crash
        first = str(exc).strip().splitlines()
        rec["error"] = f"{type(exc).__name__}: {first[0][:300] if first else ''}"
    rec["wall_s"] = time.perf_counter() - t0
    if traced:
        tracer.enabled = False
        rec["layers"] = dict(tracer.reset())
        rec["spark"] = window.jobs(j0, window.next_job_id())
        if rec["error"] is None:
            rec["build_s"] = build_s
            rec["build"] = window.jobs(j0, build_end)
    return rec, handle


def measure(spark, workload, tracer=None) -> list[dict]:
    """Closed loop over ``workload.PASSES`` whole passes. Each op's output
    is checked the first time the op runs, outside its timing. A traced run
    makes one pass in which every op runs once untimed, then twice back to
    back, traced and untraced, alternating which goes first."""
    records = []
    checked: set[str] = set()
    for _ in range(1 if tracer is not None else workload.PASSES):
        for i, op in enumerate(workload.ops()):
            modes = (False,)
            if tracer is not None:
                # An untimed first execution takes the op's first-use costs,
                # which would otherwise land on one side of the pair.
                run_op(spark, op, tracer, traced=False)
                modes = (True, False) if i % 2 == 0 else (False, True)
            for traced in modes:
                rec, handle = run_op(spark, op, tracer, traced)
                if rec["error"] is None and op.key not in checked:
                    checked.add(op.key)
                    c0 = time.perf_counter()
                    try:
                        reason = op.check(handle)
                    except Exception as exc:
                        reason = f"check raised {type(exc).__name__}: {exc}"
                    rec["check_s"] = time.perf_counter() - c0
                    if reason:
                        rec["error"] = f"output check: {reason}"
                records.append(rec)
    return records


def end_to_end(records, setup_s: float):
    untraced = [r for r in records if not r["traced"]]
    timed_s = sum(r["wall_s"] for r in untraced)
    walls = [r["wall_s"] for r in untraced if r["error"] is None]
    attempted = len(untraced)
    failed = sum(1 for r in untraced if r["error"] is not None)
    t_val, t_pct, t_beyond = tail(walls) if walls else (timed_s, 100.0, 0)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls) if walls else timed_s, "s"),
        "op_tail_s": (t_val, "s"),
        "ops_per_s": ((attempted - failed) / timed_s, "1/s"),
    }
    notes = {
        "op_tail_s": f"p{t_pct:.0f} of n={len(walls)}, {t_beyond} beyond",
        "failed_frac": f"{failed / attempted} ratio",
    }
    return metrics, notes


def per_layer(records, starts, op_modules: list[str], peak_rss_mb: float):
    traced = [r for r in records if r["traced"] and r["error"] is None]
    n = max(1, len(traced))

    def mean(f):
        return sum(f(r) for r in traced) / n

    def lay(key):
        return mean(lambda r: r["layers"].get(key, 0.0))

    traced_s = sum(r["wall_s"] for r in traced)
    # records come in (traced, untraced) pairs of the same op
    ratios = [
        a["wall_s"] / b["wall_s"] if a["traced"] else b["wall_s"] / a["wall_s"]
        for a, b in zip(records[0::2], records[1::2])
        if a["error"] is None and b["error"] is None
    ]
    m = {
        "session.start_s": (statistics.median(s for s, _ in starts), "s"),
        "session.warmup_s": (statistics.median(w for _, w in starts), "s"),
        "sources.load_calls": (lay("sources.load.calls"), "count"),
        "sources.load_s": (lay("sources.load.s"), "s"),
        "sources.load_jobs": (lay("sources.load.jobs"), "count"),
        "sources.fetch_s": (lay("sources.fetch.s"), "s"),
        "sources.submit_s": (lay("sources.submit.s"), "s"),
        "plans.build_s": (mean(lambda r: r["build_s"]), "s"),
        "plans.build_jobs": (mean(lambda r: r["build"]["jobs"]), "count"),
        "plans.build_stages": (mean(lambda r: r["build"]["stages"]), "count"),
        "plans.build_share": (
            sum(r["build_s"] for r in traced) / traced_s if traced_s else 0.0,
            "ratio",
        ),
        "streaming.run_s": (lay("streaming.run.s"), "s"),
        "streaming.batches": (mean(lambda r: r["spark"]["batches"]), "count"),
    }
    for mod in op_modules:
        m[f"operators.{mod}.s"] = (lay(f"operators.{mod}.s"), "s")
        m[f"operators.{mod}.calls"] = (lay(f"operators.{mod}.calls"), "count")
    for key, unit in (
        ("exec_s", "s"),
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("failed_tasks", "count"),
        ("shuffle_read_mb", "MB"),
        ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"),
        ("executor_run_s", "s"),
    ):
        m[f"spark.{key}"] = (mean(lambda r, k=key: r["spark"][k]), unit)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["spark.core_busy_frac"] = (
        sum(r["spark"]["executor_run_s"] for r in traced) / (traced_s * cores)
        if traced_s
        else 0.0,
        "ratio",
    )
    m["process.peak_rss_mb"] = (peak_rss_mb, "MB")
    m["trace.overhead_frac"] = (statistics.median(ratios) - 1.0 if ratios else 0.0, "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not all(os.path.exists(os.path.join(ROOT, p)) for p in PROGRAM_FILES):
        print(f"program not found under {ROOT} ({', '.join(PROGRAM_FILES)})", file=sys.stderr)
        return 2
    cpus = configure_env()

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    facts = host_facts(cpus)
    print("host " + json.dumps(facts, sort_keys=True), flush=True)
    print("run " + json.dumps(vars(args), sort_keys=True), flush=True)

    t_start = time.perf_counter()
    inputs = wl.prepare(args.seed)  # generated inputs, outside every timer
    t_inputs = time.perf_counter()
    from etl_caic_spark.registry import all_specs

    all_specs()
    ticks_setup = cpu_ticks()
    spark, starts = start_sessions(inputs.tables_dir, SETUPS)
    setup_s = statistics.median(a + b for a, b in starts)
    t_setup = time.perf_counter()
    ticks_loop = cpu_ticks()
    tracer = None
    op_modules = []
    if args.trace:
        from perfbench import trace as tr

        tracer = tr.Tracer(tr.JobWindow(spark))
        tr.install(tracer)
        tracer.enabled = False
        op_modules = list(workloads.TRACED_OPERATOR_MODULES)
    try:
        wl.bind(spark, inputs)
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            records = measure(spark, wl, tracer)
        ticks_end = cpu_ticks()
    finally:
        wl.close()
        stop_spark(spark)

    t_end = time.perf_counter()
    print("session starts (get_spark s, warm-up s): " + ", ".join(f"({a:.3f}, {b:.3f})" for a, b in starts))
    for r in records:
        mode = " traced" if r["traced"] else ""
        print(f"op {r['op']}{mode}: {r['wall_s']:.3f} s" + (" (failed)" if r["error"] else ""))
    op_time_s = sum(r["wall_s"] for r in records)
    print(
        f"phases: inputs {t_inputs - t_start:.1f} s, setups {t_setup - t_inputs:.1f} s, "
        f"loop {t_end - t_setup:.1f} s (ops {op_time_s:.1f} s, "
        f"checks {sum(r.get('check_s', 0.0) for r in records):.1f} s)"
    )
    print(
        f"steal: {100 * steal_frac(ticks_setup, ticks_loop):.1f} % of CPU time during set-up, "
        f"{100 * steal_frac(ticks_loop, ticks_end):.1f} % during the op loop (not applied)"
    )
    if not args.trace and op_time_s < args.seconds:
        print(
            f"warning: {wl.PASSES} passes took {op_time_s:.1f} s of op time, "
            f"less than --seconds {args.seconds:g}",
            file=sys.stderr,
        )
    failures = sorted({f"{r['op']}: {r['error']}" for r in records if r["error"]})
    for f in failures:
        print(f"FAILED {f}")
    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    peak_rss_mb = rss.peak_bytes / 2**20
    metrics, notes = end_to_end(records, setup_s)
    if args.trace:
        metrics = per_layer(records, starts, op_modules, peak_rss_mb)
    for name, (value, unit) in metrics.items():
        note = notes.get(name, "")
        print(f"{name} = {value} {unit}" + (f"  ({note})" if note else ""))
    if not args.trace:
        print(f"peak_rss_mb = {peak_rss_mb} MB  (JVM alone {rss.jvm_peak_bytes / 2**20:.1f} MB)")
        print(f"failed_frac = {notes['failed_frac']}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
