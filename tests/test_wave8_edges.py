"""Edge-case differentials for the round-8 review fixes, driven through
BOTH engines on synthetic fixtures: the driver fixtures are NULL-free
and always share n-grams, so the ln(0) and NULL-canonicalization guards
are unreachable there (as are a chrF gram order only hypotheses reach
and an MSE whose last digit the twin's DOUBLE steps decide at sf0.01).
These tests build tiny documents.parquet / orders.parquet fixtures and
compare the Spark query against its registered DuckDB oracle directly —
the same differential the driver runs, on the inputs that used to
diverge."""

from __future__ import annotations

import os

import duckdb
import pytest

from etl_caic_spark.registry import all_specs
from tests.conftest import compare_with_oracle

SPECS = all_specs()

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _write_docs(spark, tmp_path, rows):
    d = spark.createDataFrame(rows, DOC_SCHEMA)
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


def _twin_con(sf_dir, table):
    """DuckDB connection with ``table`` viewed over the DIRECTORY of part
    files Spark writes for ``{table}.parquet``."""
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet/*.parquet'"
    )
    return con


def _oracle(sf_dir, sql):
    """Run the oracle and return eagerly-fetched (cols, rows) — a lazy
    relation would outlive its connection."""
    con = _twin_con(sf_dir, "documents")
    rel = con.sql(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    con.close()
    return cols, rows


def test_bleu_zero_overlap_is_null_on_both_engines(spark, tmp_path):
    # one pair, no shared unigrams or bigrams between ref (even) and
    # hyp (odd) -> clipped counts are 0 -> ln_bleu2_micro must be NULL
    # on BOTH engines (DuckDB used to hard-error on ln(0))
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "alpha beta gamma", "en", "s", 16),
            (1, "delta epsilon zeta", "en", "s", 18),
        ],
    )
    spec = SPECS["eval_bleu_corpus"]
    srow = spec.fn(spark, sf).collect()[0]
    ocols, orows = _oracle(sf, spec.oracle)
    o = dict(zip(ocols, orows[0]))
    assert srow["clip1"] == o["clip1"] == 0
    assert srow["ln_bleu2_micro"] is None
    assert o["ln_bleu2_micro"] is None
    # the non-log columns still agree exactly
    for c in ("n_pairs", "len_ref", "len_hyp", "tot1", "tot2", "bp_micro"):
        assert srow[c] == o[c], c


@pytest.mark.parametrize(
    "null_field",
    ["lang", "text", "n_chars"],
)
def test_fingerprint_null_fields_agree_across_engines(spark, tmp_path, null_field):
    row = {"doc_id": 7, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}
    row[null_field] = None
    sf = _write_docs(
        spark,
        tmp_path,
        [
            tuple(row[k] for k in ("doc_id", "text", "lang", "source", "n_chars")),
            (8, "other doc", "fr", "s", 9),
        ],
    )
    spec = SPECS["dq_dataset_fingerprint"]
    srows = {r["source"]: r for r in spec.fn(spark, sf).collect()}
    ocols, raw = _oracle(sf, spec.oracle)
    orows = {dict(zip(ocols, r))["source"]: dict(zip(ocols, r)) for r in raw}
    assert set(srows) == set(orows)
    for s in srows:
        for c in ("n_rows", "fp_sum", "fp_xor", "fp_min"):
            assert srows[s][c] == orows[s][c], (s, c, null_field)
    # the NULL row is COUNTED (not silently dropped as '||' would)
    assert srows["__all__"]["n_rows"] == 2


def test_fingerprint_null_not_collided_with_shifted_fields(spark, tmp_path):
    # (lang=NULL, n_chars=2) must NOT canonify identically to
    # (lang='2', n_chars=NULL): concat_ws without markers drops the
    # NULL field AND its separator, colliding the two rows
    sf_a = _write_docs(spark, str(tmp_path) + "_a", [(1, "x", None, "s", 2)])
    sf_b = _write_docs(spark, str(tmp_path) + "_b", [(1, "x", "2", "s", None)])
    spec = SPECS["dq_dataset_fingerprint"]
    fa = spec.fn(spark, sf_a).filter("source = '__all__'").collect()[0]["fp_xor"]
    fb = spec.fn(spark, sf_b).filter("source = '__all__'").collect()[0]["fp_xor"]
    assert fa != fb


def test_chrf_hypothesis_only_gram_order_matches_twin(spark, tmp_path):
    # every reference (even doc_id) is shorter than 3 characters, so the
    # 3-gram order exists only on the hypothesis side: match3/hyp3 keep
    # their counts and ref3 / chrf2_3_micro are NULL on BOTH engines
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "ab", "en", "s", 2),
            (1, "abcd", "en", "s", 4),
            (2, "x", "en", "s", 1),
            (3, "xyz", "en", "s", 3),
        ],
    )
    spec = SPECS["eval_chrf_corpus"]
    con = _twin_con(sf, "documents")
    try:
        compare_with_oracle(spark, con, spec, sf)
    finally:
        con.close()
    row = spec.fn(spark, sf).collect()[0]
    assert row["hyp3"] == 3 and row["match3"] == 0
    assert row["ref3"] is None and row["chrf2_3_micro"] is None


@pytest.mark.parametrize(
    "prices",
    [
        # Σe² between 2^53 and 2^64: the twin's round(x, 6) step decides
        # the last digit of mse
        [
            368097.34, 579528.04, 768384.87, 701555.48, 571772.39, 385312.21,
            796550.89, 250734.89, 696300.64, 472872.81, 384779.58, 739003.67,
        ],
        # Σe² past 2^64: the twin's DECIMAL(38,0) -> DOUBLE step decides it
        [29488954.93, 29714286.58, 22916123.99],
    ],
)
def test_regression_metrics_large_sse_matches_twin(spark, tmp_path, prices):
    orders = spark.createDataFrame(
        list(enumerate(prices)), "o_orderkey bigint, o_totalprice double"
    )
    orders.coalesce(1).write.parquet(os.path.join(str(tmp_path), "orders.parquet"))
    sf = str(tmp_path)
    con = _twin_con(sf, "orders")
    try:
        compare_with_oracle(spark, con, SPECS["eval_regression_metrics"], sf)
    finally:
        con.close()
