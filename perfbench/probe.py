"""Selection probe: one build + noop execute of each registered query on
generated tables, with the Spark jobs of each phase counted through the
status store and the output checked against the query's DuckDB twin.

    python3 perfbench/probe.py --seed 0 --sf 0.1 [--only q1,q2] [--no-check] > probe.jsonl

Prints one JSON line per query. The frozen workload lists in
``workloads.py`` were selected from this output; their ``PROVENANCE``
records the numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import CACHE, configure_env, start_sessions  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--only", default="")
    ap.add_argument("--no-check", action="store_true")
    args = ap.parse_args()
    configure_env()

    from etl_caic_spark.registry import all_specs
    from perfbench import datagen
    from perfbench.checks import OracleCheck
    from perfbench.trace import JobWindow

    sf_dir = datagen.write_tables(
        os.path.join(CACHE, f"probe_sf{args.sf}_s{args.seed}"), args.seed, args.sf
    )
    specs = all_specs()
    names = sorted(specs) if not args.only else args.only.split(",")
    spark, _ = start_sessions(sf_dir, 1)
    window = JobWindow(spark)
    checker = OracleCheck(sf_dir, sf_dir + "_twins")
    for name in names:
        spec = specs[name]
        rec = {"query": name}
        j0 = window.next_job_id()
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = window.next_job_id()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j2 = window.next_job_id()
            build, total = window.jobs(j0, j1), window.jobs(j0, j2)
            rec.update(
                build_s=round(t1 - t0, 3),
                exec_s=round(t2 - t1, 3),
                wall_s=round(t2 - t0, 3),
                build_jobs=int(build["jobs"]),
                jobs=int(total["jobs"]),
                stages=int(total["stages"]),
                shuffle_mb=round(total["shuffle_read_mb"] + total["shuffle_write_mb"], 2),
            )
            if not args.no_check:
                t3 = time.perf_counter()
                rec["check"] = checker.check(spec, df) or "ok"
                rec["check_s"] = round(time.perf_counter() - t3, 2)
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {str(exc).strip()[:200]}"
        print(json.dumps(rec), flush=True)
    checker.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
