"""Summarize or compare sets of saved benchmark outputs.

    python3 perfbench/compare.py RUNS_DIR              # medians and spreads
    python3 perfbench/compare.py BASE_DIR HEAD_DIR     # head against base

Each directory holds the stdout of runs of ``run.py`` (one file per run,
any name). Runs are grouped by workload and mode; for each end-to-end or
per-layer metric the script prints the median, the quartile spread
(``statistics.quantiles(n=4)`` distance over the median) and, with two
directories, the head/base ratio of the medians. It refuses (exit code 3)
to put together runs whose host facts differ: core count, RAM, Python or
Spark version.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HOST_KEYS = ("cpus", "ram_gib", "python", "spark")


def load(directory: str):
    """{(workload, trace): {metric: [values]}}, host facts, program digests."""
    runs = defaultdict(lambda: defaultdict(list))
    hosts, programs = set(), set()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            lines = [ln.strip() for ln in f if ln.strip()]
        meta = host = result = None
        for ln in lines:
            if ln.startswith("run "):
                meta = json.loads(ln[4:])
            elif ln.startswith("host "):
                host = json.loads(ln[5:])
        if lines and lines[-1].startswith("{"):
            result = json.loads(lines[-1])
        if not (meta and host and result):
            print(f"skipping {name}: not a complete run output", file=sys.stderr)
            continue
        hosts.add(tuple(host[k] for k in HOST_KEYS))
        programs.add(host["program_sha256"])
        for metric, v in result["metrics"].items():
            runs[(meta["workload"], meta["trace"])][metric].append(v["value"])
    return runs, hosts, programs


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def summarize(directory: str) -> int:
    runs, hosts, programs = load(directory)
    if len(hosts) != 1:
        print(f"refusing to summarize: host facts differ {sorted(hosts)} ({HOST_KEYS})")
        return 3
    print(f"host {dict(zip(HOST_KEYS, next(iter(hosts))))} programs {sorted(programs)}")
    for key in sorted(runs):
        print(f"== {key[0]} trace={key[1]}")
        for metric, values in sorted(runs[key].items()):
            print(
                f"  {metric:32s} median {statistics.median(values):.6g}"
                f"  iqr/med {spread(values):.3f}  n={len(values)}"
            )
    return 0


def main(argv: list[str]) -> int:
    if len(argv) == 1:
        return summarize(argv[0])
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, base_hosts, base_prog = load(argv[0])
    head, head_hosts, head_prog = load(argv[1])
    hosts = base_hosts | head_hosts
    if len(hosts) != 1:
        print(f"refusing to compare: host facts differ {sorted(hosts)} ({HOST_KEYS})")
        return 3
    print(f"host {dict(zip(HOST_KEYS, next(iter(hosts))))}")
    print(f"programs base={sorted(base_prog)} head={sorted(head_prog)}")
    for key in sorted(set(base) & set(head)):
        print(f"== {key[0]} trace={key[1]}")
        for metric in sorted(set(base[key]) & set(head[key])):
            b, h = base[key][metric], head[key][metric]
            mb, mh = statistics.median(b), statistics.median(h)
            ratio = mh / mb if mb else float("nan")
            print(
                f"  {metric:32s} base {mb:.6g} (iqr/med {spread(b):.3f}, n={len(b)})"
                f"  head {mh:.6g} (iqr/med {spread(h):.3f}, n={len(h)})  head/base {ratio:.3f}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
