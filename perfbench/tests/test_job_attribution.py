"""Benchmark self-tests: Spark jobs are attributed to an op by id window,
whatever their job group.

    python -m pytest perfbench/tests -q

``eval_semdedup_agreement`` builds its two dedup legs on a thread pool
(the legs' jobs carry no job group); ``stream_dedup`` runs a stream whose
micro-batch jobs carry the stream's own run-id group. Both must get a
non-zero job count, the same on two runs over the same inputs.

(``dedup_ensemble_agreement``, the other pool-leg query, is not used: its
own job count varies between 24 and 25 from run to run at sf0.01, every
job succeeding, so it cannot show that attribution is repeatable.)
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.run import configure_env, tail  # noqa: E402
from perfbench.trace import _covered_seconds  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]
    value, pct, beyond = tail(values)
    assert (value, pct, beyond) == (90.0, 90.0, 10)


def test_tail_of_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_covered_seconds_merges_overlapping_jobs():
    # two overlapping pool-leg jobs and one later job
    assert _covered_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    configure_env()
    from perfbench import datagen
    from perfbench.run import start_sessions
    from perfbench.trace import JobWindow

    sf_dir = datagen.write_tables(str(tmp_path_factory.mktemp("sf")), 7, 0.01)
    spark, _ = start_sessions(sf_dir, 1)
    yield spark, JobWindow(spark), sf_dir
    spark.stop()


def _op_jobs(spark, window, sf_dir, name):
    from etl_caic_spark.registry import all_specs

    spec = all_specs()[name]
    j0 = window.next_job_id()
    df = spec.fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return window.jobs(j0, window.next_job_id())


def _groups(spark, lo, hi):
    store = spark.sparkContext._jsc.sc().statusStore()
    out = set()
    for jid in range(lo, hi):
        g = store.job(jid).jobGroup()
        out.add(g.get() if g.isDefined() else None)
    return out


@pytest.mark.parametrize("name", ["eval_semdedup_agreement", "stream_dedup"])
def test_job_counts_nonzero_and_repeatable(session, name):
    spark, window, sf_dir = session
    # The first run in a process also fills the program's per-process
    # caches (e.g. re-sharded stream inputs), which costs extra jobs.
    _op_jobs(spark, window, sf_dir, name)
    first = _op_jobs(spark, window, sf_dir, name)
    second = _op_jobs(spark, window, sf_dir, name)
    assert first["jobs"] > 0 and first["stages"] > 0
    assert (first["jobs"], first["stages"]) == (second["jobs"], second["stages"])


def test_stream_jobs_carry_run_id_group_and_count_as_batches(session):
    spark, window, sf_dir = session
    j0 = window.next_job_id()
    totals = _op_jobs(spark, window, sf_dir, "stream_dedup")
    groups = _groups(spark, j0, window.next_job_id())
    assert totals["batches"] >= 1
    assert any(g is not None for g in groups), groups


def test_pool_leg_jobs_have_no_group_and_are_counted(session):
    spark, window, sf_dir = session
    j0 = window.next_job_id()
    totals = _op_jobs(spark, window, sf_dir, "eval_semdedup_agreement")
    groups = _groups(spark, j0, window.next_job_id())
    assert None in groups
    assert totals["jobs"] == window.next_job_id() - j0
