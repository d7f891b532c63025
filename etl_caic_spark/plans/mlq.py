"""Wave 21 (round 5): ML evaluation and feature-encoding operators — the
model-side half of a training-data platform. A corpus pipeline that feeds
a trainer also scores the model's outputs back over held-out data:
classification reports, exact AUC, calibration, regression metrics, and
the feature encoders (one-hot, hashing trick, leave-one-out target
encoding) that turn curated tables into model matrices.

Exactness strategy (registry conventions): predictions/scores are
deterministic integer functions of the keys, every metric reduces to
BIGINT-exact counts/sums, and ratios are SINGLE divisions of exact
integers rounded to 6 dp with the identical expression tree on both
engines — no accumulated-double drift anywhere.

Reference parity note: the reference (task.ts) is a pure ETL with no ML
surface; this wave is part of the brief's training-data-pipeline
extension family (SURVEY.md §2.C LLM/ML extensions).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table


# Deterministic "classifier": right 80% of the time, confuses class c
# with (c+1)%10 on every vec_id divisible by 5. Closed form on both
# engines — no model artifact needed to pin the evaluation semantics.
_PRED = "CASE WHEN vec_id % 5 = 0 THEN (label + 1) % 10 ELSE label END"


@register(
    "eval_classification_report",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(label AS INT) AS actual,
             CAST({_PRED} AS INT) AS pred
      FROM embeddings
    ),
    tp AS (
      SELECT actual AS cls, count(*) AS tp
      FROM scored WHERE actual = pred GROUP BY 1
    ),
    byactual AS (
      SELECT actual AS cls, count(*) AS support FROM scored GROUP BY 1
    ),
    bypred AS (
      SELECT pred AS cls, count(*) AS predicted FROM scored GROUP BY 1
    )
    SELECT a.cls,
           CAST(a.support AS BIGINT) AS support,
           CAST(coalesce(p.predicted, 0) AS BIGINT) AS predicted,
           CAST(coalesce(t.tp, 0) AS BIGINT) AS tp,
           round(coalesce(t.tp, 0) * 1.0 / coalesce(p.predicted, 0), 6)
             AS precision_,
           round(coalesce(t.tp, 0) * 1.0 / a.support, 6) AS recall_,
           round(2.0 * coalesce(t.tp, 0)
                 / (a.support + coalesce(p.predicted, 0)), 6) AS f1
    FROM byactual a
    LEFT JOIN tp t ON t.cls = a.cls
    LEFT JOIN bypred p ON p.cls = a.cls
    """,
    tags=("ml", "eval", "agg"),
)
def eval_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 from a deterministic synthetic
    classifier over the embeddings table. The report reduces to three
    BIGINT-exact grouped counts (true positives, per-actual support,
    per-predicted volume) joined on the class id; precision/recall/F1
    are single divisions of those exact integers (F1 uses the
    tp-form 2·TP/(support+predicted), algebraically identical to the
    harmonic mean but one division instead of three — same expression
    tree both engines, no intermediate rounding).

    Scale: three map-side-combinable aggregates over one scan plus
    joins on a ≤n_classes-row dimension — broadcast-sized by
    construction. At 100 TB the shuffle carries n_classes rows."""
    e = load_table(spark, sf_dir, "embeddings")
    scored = e.select(
        F.col("label").cast("int").alias("actual"),
        F.when(F.col("vec_id") % 5 == 0, (F.col("label") + 1) % 10)
        .otherwise(F.col("label"))
        .cast("int")
        .alias("pred"),
    )
    tp = (
        scored.where(F.col("actual") == F.col("pred"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.count("*").alias("tp"))
    )
    byactual = scored.groupBy(F.col("actual").alias("cls")).agg(
        F.count("*").alias("support")
    )
    bypred = scored.groupBy(F.col("pred").alias("cls")).agg(
        F.count("*").alias("predicted")
    )
    out = (
        byactual.join(F.broadcast(tp), "cls", "left")
        .join(F.broadcast(bypred), "cls", "left")
        .select(
            "cls",
            F.col("support").cast("bigint").alias("support"),
            F.coalesce("predicted", F.lit(0)).cast("bigint").alias("predicted"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    return out.select(
        "cls",
        "support",
        "predicted",
        "tp",
        F.round(F.col("tp") * 1.0 / F.col("predicted"), 6).alias("precision_"),
        F.round(F.col("tp") * 1.0 / F.col("support"), 6).alias("recall_"),
        F.round(
            2.0 * F.col("tp") / (F.col("support") + F.col("predicted")), 6
        ).alias("f1"),
    )


@register(
    "eval_auc_exact",
    oracle="""
    WITH scored AS (
      SELECT m.model, CAST(label % 2 AS INT) AS y,
             CASE m.model
               WHEN 'emb0' THEN CAST(round(CAST(embedding[1] AS DOUBLE)
                                           * 1000000) AS BIGINT)
               ELSE CAST(round(CAST(embedding[2] AS DOUBLE)
                               * 1000000) AS BIGINT)
             END AS score
      FROM embeddings,
           (SELECT unnest(['emb0', 'emb1']) AS model) m
    ),
    grp AS (
      SELECT model, score,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT model, score, cnt, pos,
             coalesce(sum(cnt) OVER (PARTITION BY model ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS below
      FROM grp
    ),
    agg AS (
      SELECT model,
             CAST(sum(pos) AS BIGINT) AS p,
             CAST(sum(cnt) - sum(pos) AS BIGINT) AS n,
             CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT) AS two_ranksum
      FROM ranked GROUP BY 1
    )
    SELECT model, p, n,
           round((two_ranksum - p * (p + 1)) / (2.0 * p * n), 6) AS auc
    FROM agg
    """,
    tags=("ml", "eval", "window"),
)
def eval_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC (Mann-Whitney U with proper tie handling) for two
    score columns at once, without the O(n²) positive×negative join:
    scores are quantized to integer micro-units, grouped per distinct
    score (cnt, pos), and a running-count window gives each group's
    min-rank; the tie-averaged rank-sum of positives is then
    Σ pos·(2·below + cnt + 1)/2, kept doubled so it stays BIGINT-exact,
    and AUC = (ranksum − P(P+1)/2)/(P·N) is a single division rounded
    at the end. Unpivoting two embedding coordinates as rival 'models'
    yields a per-model AUC table — the eval-harness shape.

    Scale: the window runs over DISTINCT scores per model (bounded by
    score cardinality, not row count) after a map-side-combinable
    group-by; the O(n²) comparison is never materialized. At 100 TB
    partition by model — each model's distinct-score frame is
    independent."""
    e = load_table(spark, sf_dir, "embeddings")
    models = spark.range(2).select(
        F.when(F.col("id") == 0, "emb0").otherwise("emb1").alias("model")
    )
    scored = e.crossJoin(F.broadcast(models)).select(
        "model",
        (F.col("label") % 2).cast("int").alias("y"),
        F.when(
            F.col("model") == "emb0",
            F.round(F.col("embedding")[0].cast("double") * 1000000),
        )
        .otherwise(F.round(F.col("embedding")[1].cast("double") * 1000000))
        .cast("bigint")
        .alias("score"),
    )
    grp = scored.groupBy("model", "score").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = (
        Window.partitionBy("model")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = grp.withColumn("below", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    agg = ranked.groupBy("model").agg(
        F.sum("pos").cast("bigint").alias("p"),
        (F.sum("cnt") - F.sum("pos")).cast("bigint").alias("n"),
        F.sum(
            F.col("pos") * (2 * F.col("below") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("two_ranksum"),
    )
    return agg.select(
        "model",
        "p",
        "n",
        F.round(
            (F.col("two_ranksum") - F.col("p") * (F.col("p") + 1))
            / (2.0 * F.col("p") * F.col("n")),
            6,
        ).alias("auc"),
    )


@register(
    "eval_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT CAST((vec_id * 37) % 1000 AS BIGINT) AS prob_milli,
             CAST(label % 2 AS INT) AS y
      FROM embeddings
    )
    SELECT CAST(prob_milli // 100 AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(prob_milli) AS BIGINT) AS sum_prob_milli,
           CAST(sum(y) AS BIGINT) AS positives,
           round(sum(y) * 1.0 / count(*), 6) AS frac_positive,
           round(sum(prob_milli) / (1000.0 * count(*)), 6) AS mean_prob
    FROM scored GROUP BY 1
    """,
    tags=("ml", "eval", "agg"),
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table: deterministic milli-probabilities
    bucketed into 10 equal-width bins, with the observed positive rate
    vs the mean predicted probability per bin — the input to an ECE /
    reliability-diagram readout. Counts and milli-prob sums are
    BIGINT-exact; the two rates are single divisions rounded at the end.

    Scale: one map-side-combinable aggregate over a pure projection —
    10-row output regardless of input size."""
    e = load_table(spark, sf_dir, "embeddings")
    scored = e.select(
        ((F.col("vec_id") * 37) % 1000).cast("bigint").alias("prob_milli"),
        (F.col("label") % 2).cast("int").alias("y"),
    )
    return (
        scored.groupBy(
            F.floor(F.col("prob_milli") / 100).cast("int").alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("prob_milli").cast("bigint").alias("sum_prob_milli"),
            F.sum("y").cast("bigint").alias("positives"),
            F.round(F.sum("y") * 1.0 / F.count("*"), 6).alias("frac_positive"),
            F.round(F.sum("prob_milli") / (1000.0 * F.count("*")), 6).alias(
                "mean_prob"
            ),
        )
    )


@register(
    "eval_regression_metrics",
    oracle="""
    WITH scored AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS y_cents,
             CAST(150000 + (o_orderkey % 1000) * 200 AS BIGINT) AS yhat_cents
      FROM orders
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(y_cents - yhat_cents)) AS BIGINT) AS sae,
             CAST(sum((y_cents - yhat_cents) * (y_cents - yhat_cents))
                  AS DECIMAL(38,0)) AS sse,
             CAST(sum(y_cents) AS BIGINT) AS sy,
             CAST(sum(y_cents * y_cents) AS DECIMAL(38,0)) AS syy
      FROM scored
    )
    SELECT n,
           round(sae / (100.0 * n), 6) AS mae,
           round(sse / (10000.0 * n), 6) AS mse,
           round(1.0 - sse * 1.0 / (syy - sy * 1.0 * sy / n), 6) AS r2
    FROM m
    """,
    tags=("ml", "eval", "agg"),
)
def eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression scoreboard (MAE, MSE, R²) against a deterministic
    baseline predictor, from BIGINT-exact error moments: Σ|e|, Σe², Σy,
    Σy² in integer cents — summation-order-proof — then three single
    divisions rounded to 6 dp. R² uses the computational form
    1 − SSE/(Σy² − (Σy)²/n) so no mean is materialized.

    Scale: one map-side-combinable aggregate, one output row. The
    SQUARED cent moments (Σe², Σy²) are summed as DECIMAL(38,0) — in
    integer cents they pass int64 already at ~10⁴ rows of ~$500k orders
    — while the linear moments stay BIGINT; both are order-proof
    exact."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y_cents"),
        (150000 + (F.col("o_orderkey") % 1000) * 200)
        .cast("bigint")
        .alias("yhat_cents"),
    )
    e = F.col("y_cents") - F.col("yhat_cents")
    m = scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.abs(e)).cast("bigint").alias("sae"),
        F.sum((e * e).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sse"),
        F.sum("y_cents").cast("bigint").alias("sy"),
        F.sum((F.col("y_cents") * F.col("y_cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    # MSE is ~10¹¹ here, where a double keeps fewer than 6 decimals, so
    # its published digits are fixed by the twin's DOUBLE steps, taken
    # here one by one: DECIMAL(38,0) -> DOUBLE as double(low 64 bits) +
    # double(high bits) * 2^64 (not correctly rounded once Σe² > 2^64),
    # then round(x, 6) as round(x * 1e6) / 1e6.
    two64 = F.lit(Decimal(2**64))
    lo = F.pmod(F.col("sse"), two64)
    hi = (F.col("sse") - lo) / two64
    sse_d = lo.cast("double") + hi.cast("double") * 2.0**64
    return m.select(
        "n",
        F.round(F.col("sae") / (100.0 * F.col("n")), 6).alias("mae"),
        (F.round(sse_d / (10000.0 * F.col("n")) * 1e6) / 1e6).alias("mse"),
        F.round(
            1.0
            - F.col("sse")
            * 1.0
            / (F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )


@register(
    "feat_onehot",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS INT) AS lang_en,
           CAST(CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS INT) AS lang_de,
           CAST(CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS INT) AS lang_es,
           CAST(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS INT) AS lang_fr,
           CAST(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS INT) AS lang_zh,
           CAST(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                THEN 1 ELSE 0 END AS INT) AS lang_other,
           CAST(least(n_chars // 256, 7) AS INT) AS size_bucket
    FROM documents
    """,
    tags=("ml", "features", "project"),
)
def feat_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a categorical column into a FIXED, explicit
    vocabulary (the production form: the vocab is frozen at train time;
    unseen values land in an 'other' indicator rather than widening the
    schema), plus a clipped size bucket — the feature-materialization
    step between a curated corpus and a trainer. Unlike pivot_wide this
    is a per-row encoder (no aggregation) with a closed output schema.

    Scale: pure narrow projection — zero shuffles, whole-stage codegen,
    column-pruned scan of (doc_id, lang, n_chars) only."""
    d = load_table(spark, sf_dir, "documents")
    known = ["en", "de", "es", "fr", "zh"]
    cols = [
        F.when(F.col("lang") == v, 1).otherwise(0).cast("int").alias(f"lang_{v}")
        for v in known
    ]
    other = (
        F.when(~F.col("lang").isin(known), 1).otherwise(0)
        .cast("int")
        .alias("lang_other")
    )
    bucket = (
        F.least(F.floor(F.col("n_chars") / 256), F.lit(7))
        .cast("int")
        .alias("size_bucket")
    )
    return d.select("doc_id", *cols, other, bucket)


@register(
    "feat_hash_trick",
    oracle="""
    WITH feats AS (
      SELECT 'lang=' || lang AS feat FROM documents
      UNION ALL
      SELECT 'source=' || source AS feat FROM documents
    )
    SELECT substr(md5(feat), 32, 1) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT feat) AS BIGINT) AS n_feats
    FROM feats GROUP BY 1
    """,
    tags=("ml", "features", "agg"),
)
def feat_hash_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features ('lang=…', 'source=…')
    are mapped to a fixed 16-slot feature space by the last hex nibble
    of md5 — no vocabulary pass, unbounded cardinality, O(1) memory.
    The output audits the hash space: rows landing in each bucket and
    how many DISTINCT raw features collide there (the quantity that
    governs hashing-trick quality). md5 is available verbatim in both
    engines, so bucket assignment is bit-identical.

    Scale: projection + one aggregate; the distinct-count shuffles the
    (bucket, feat) pairs — bounded by raw feature cardinality, not row
    count. This is how sparse features are encoded at 100 TB when a
    vocab build is itself a job."""
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        F.concat(F.lit("lang="), F.col("lang")).alias("feat")
    ).unionAll(d.select(F.concat(F.lit("source="), F.col("source")).alias("feat")))
    return (
        feats.select(F.substring(F.md5("feat"), 32, 1).alias("bucket"), "feat")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("feat").cast("bigint").alias("n_feats"),
        )
    )


@register(
    "feat_target_encode_loo",
    oracle="""
    WITH cents AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    stats AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_cat,
             CAST(sum(cents) AS BIGINT) AS sum_cat
      FROM cents GROUP BY 1
    )
    SELECT c.o_orderkey, c.o_orderpriority,
           round((s.sum_cat - c.cents) / (100.0 * (s.n_cat - 1)), 6)
             AS target_loo
    FROM cents c JOIN stats s USING (o_orderpriority)
    """,
    tags=("ml", "features", "join"),
)
def feat_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    encoder: each row gets the mean target of its category EXCLUDING
    itself, (Σcat − y)/(n−1). Category sums are BIGINT-exact integer
    cents aggregated once, then broadcast-joined back; the encoding is
    a single per-row division rounded to 6 dp — no per-row window over
    the full table, no double accumulation.

    Scale: one map-side-combinable aggregate producing a
    category-cardinality dimension (broadcast), one narrow join — the
    standard two-pass shape that replaces the O(n·w) self-window. At
    100 TB the only shuffle is the category aggregate's."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    stats = cents.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_cat"),
        F.sum("cents").cast("bigint").alias("sum_cat"),
    )
    return cents.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(
            (F.col("sum_cat") - F.col("cents"))
            / (100.0 * (F.col("n_cat") - 1)),
            6,
        ).alias("target_loo"),
    )
