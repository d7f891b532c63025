"""Frozen workload definitions.

Each workload names its inputs (generated from the seed by ``datagen``),
its ops and why it exists. Query lists are frozen: they were selected once
with ``probe.py`` on the commit that introduced the benchmark, by the rule
stored beside each list, and ``PROVENANCE`` keeps the probe numbers that
produced them. Re-selecting a list is a change to the benchmark, not to
the program.

An op is one registered query built with ``spec.fn`` and forced with the
noop sink, or, in ``caic_invocation``, one fetch -> pipeline -> submit
cycle. Every op returns ``(handle, build_s, build_end_job_id)``: the
handle is what its output check reads, ``build_s`` the time until the
DataFrame existed (eager jobs included) and the job id splits the op's
Spark jobs into build and execute.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.run import CACHE


@dataclass
class Inputs:
    seed: int
    tables_dir: str  # generated tables: the queries' input and the warm-up's
    payloads: list = field(default_factory=list)


class QueryOp:
    def __init__(self, spec, sf_dir: str, checker):
        self.spec = spec
        self.name = self.key = spec.name
        self.sf_dir = sf_dir
        self.checker = checker

    def run(self, spark, window):
        t0 = time.perf_counter()
        df = self.spec.fn(spark, self.sf_dir)
        build_s = time.perf_counter() - t0
        build_end = window.next_job_id() if window else None
        df.write.format("noop").mode("overwrite").save()
        return df, build_s, build_end

    def check(self, df):
        return self.checker.check(self.spec, df)


class QueryWorkload:
    """Registered queries over generated star-schema tables.

    The seed picks one of ``DATASETS`` generated table sets (``seed %
    DATASETS``), so the tables and the DuckDB twins' results are generated
    once per dataset and reused from the cache. Ops run in list order: in a
    fresh JVM the first op pays first-use costs, and a seed-dependent order
    would move that cost from op to op between runs."""

    DATASETS = 4
    PASSES = 2

    def __init__(self, name, why, queries, sf, rule):
        self.name, self.why, self.queries = name, why, tuple(queries)
        self.sf, self.rule = sf, rule
        self._ops: list[QueryOp] = []
        self._checker = None

    def prepare(self, seed: int) -> Inputs:
        dataset = seed % self.DATASETS
        d = os.path.join(CACHE, f"tables_sf{self.sf}_d{dataset}")
        sf_dir = datagen.write_tables(d, dataset, self.sf)
        return Inputs(seed=seed, tables_dir=sf_dir)

    def bind(self, spark, inputs: Inputs) -> None:
        from etl_caic_spark.registry import all_specs
        from perfbench.checks import OracleCheck

        specs = all_specs()
        self._checker = OracleCheck(inputs.tables_dir, inputs.tables_dir + "_twins")
        self._ops = [QueryOp(specs[q], inputs.tables_dir, self._checker) for q in self.queries]

    def ops(self) -> list:
        return list(self._ops)

    def close(self) -> None:
        if self._checker is not None:
            self._checker.close()


class CaicOp:
    def __init__(self, index: int, n_areas: int, payload, checker):
        self.key = f"caic#{index}"
        self.name = f"caic_invocation#{index}[{n_areas} areas]"
        self.areas_json, self.forecasts_json = payload
        self.checker = checker

    def run(self, spark, window):
        # Module attributes are looked up per call, so traced runs see the
        # wrapped functions.
        from etl_caic_spark.operators import caic
        from etl_caic_spark.schemas import AREAS_SCHEMA, FORECASTS_SCHEMA
        from etl_caic_spark.sources import rest, sinks

        t0 = time.perf_counter()
        areas = rest.fetch_json_snapshot(
            spark,
            "bench://caic/areas",
            AREAS_SCHEMA,
            "features",
            transport=lambda url: self.areas_json,
        )
        forecasts = rest.fetch_json_snapshot(
            spark,
            "bench://caic/forecasts",
            FORECASTS_SCHEMA,
            "features",
            transport=lambda url: self.forecasts_json,
        )
        features = caic.caic_pipeline(areas, forecasts)
        build_s = time.perf_counter() - t0
        build_end = window.next_job_id() if window else None
        sent: list[str] = []
        sinks.submit_feature_collection(features, sent.append)
        return sent[0], build_s, build_end

    def check(self, submitted: str):
        return self.checker.check(self.areas_json, self.forecasts_json, submitted)


class CaicWorkload:
    """Back-to-back scheduled invocations of the flagship dataflow, one per
    entry of ``AREAS``, each on its own payload generated from the seed
    (2 forecasts per area). Sizes are fixed so that runs with different
    seeds do the same amount of work."""

    AREAS = (60, 3000)
    PASSES = 2

    def __init__(self, name, why):
        self.name, self.why = name, why
        self.rule = f"one invocation per entry of {self.AREAS} areas, each on its own payload"
        self._ops: list[CaicOp] = []
        self._checker = None

    def prepare(self, seed: int) -> Inputs:
        warm = datagen.write_tables(os.path.join(CACHE, f"warm_s{seed}"), seed, 0.001)
        sizes = list(self.AREAS)
        return Inputs(
            seed=seed,
            tables_dir=warm,
            payloads=list(zip(sizes, datagen.caic_payloads(seed, sizes))),
        )

    def bind(self, spark, inputs: Inputs) -> None:
        from etl_caic_spark.registry import all_specs
        from etl_caic_spark.sources.caic_fixtures import caic_fixture_paths
        from perfbench.checks import CaicCheck

        self._checker = CaicCheck(all_specs()["caic_pipeline"].oracle, *caic_fixture_paths())
        self._ops = [
            CaicOp(i, n, payload, self._checker)
            for i, (n, payload) in enumerate(inputs.payloads)
        ]

    def ops(self) -> list:
        return list(self._ops)

    def close(self) -> None:
        if self._checker is not None:
            self._checker.close()


# Operator modules whose per-module time and call count the traced run
# reports: the ones the workloads below reach.
TRACED_OPERATOR_MODULES = ("caic", "components", "dedup")

# Selection probe: ``probe.py --seed 0 --sf 0.1 --no-check`` over all 484
# registered queries at commit 8b7629f, 4 cores, Spark 4.1.2, one process
# (728 s in total). Per query: eager jobs fired by the builder, all jobs,
# stages, build and build+execute seconds. ``check_s`` is the untimed check
# cost (Spark collect plus a cold DuckDB twin), measured with
# ``checks.OracleCheck`` on the same seed-0 tables for the 45 candidates;
# ``probe.py`` without ``--no-check`` records it per query.
PROVENANCE = {
    "stream_cdc_merge": {"build_jobs": 19, "jobs": 20, "stages": 20, "build_s": 4.312, "wall_s": 4.378, "check_s": 0.11},
    "dedup_groups": {"build_jobs": 10, "jobs": 12, "stages": 12, "build_s": 5.8, "wall_s": 5.923, "check_s": 13.35},
}

DRIVER_JOBS_RULE = (
    "candidates: builder fires >= 6 eager jobs (45 queries, 144 s); for each "
    "layer this workload is meant to move (streaming; components + dedup) the "
    "candidate reaching it with the most eager jobs whose check costs <= 15 s "
    "(graph_hits, 46 jobs, needs 98 s for its DuckDB twin). Two ops per pass "
    "fit the run budget; eval_semdedup_agreement (concomp, thread-pool legs, "
    "15 jobs) was the third and was cut for time"
)
DRIVER_JOBS = ("stream_cdc_merge", "dedup_groups")

WORKLOADS = {
    w.name: w
    for w in (
        QueryWorkload(
            "driver_jobs",
            "eager driver jobs fired while the DataFrame is built "
            "(checkpoints, gate collects, CC loops, stream replays)",
            DRIVER_JOBS,
            sf=0.1,
            rule=DRIVER_JOBS_RULE,
        ),
        CaicWorkload(
            "caic_invocation",
            "the flagship dataflow: driver-side JSON decode in, "
            "collect/serialize submit out, job-floor bound",
        ),
    )
}
