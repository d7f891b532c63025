"""LLM-data-pipeline queries (BASELINE.json north star; milestone M5):
dedup (exact / exact-Jaccard / MinHash-LSH / SimHash), similarity search
(brute-force cosine top-k, IVF partition-pruned variant, embedding
near-dup), and text analysis (stats, quality, language-ID, token counts,
winnowing fingerprints) over the `documents` and `embeddings` tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caic_spark.operators import dedup as D
from etl_caic_spark.operators import similarity as S
from etl_caic_spark.operators import text_analysis as T
from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table


def _corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus a deterministic duplicated slice (doc_id % 10 == 0,
    re-appended with offset ids) so exact dedup has real duplicates to drop."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


@register(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM corpus GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup, keep-first (operators/dedup.exact_dedup).
    Input includes a synthesized duplicate slice so drops actually happen."""
    return D.exact_dedup(_corpus_with_dups(spark, sf_dir), "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang, source, shingle
      FROM (
        SELECT doc_id, lang, source,
               unnest([array_to_string(words[i:i+2], ' ')
                       for i in generate_series(1, greatest(len(words)-2, 1))])
                 AS shingle
        FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS words
              FROM documents)
      )
      GROUP BY ALL
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
                AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
           common / (sa.n + sb.n - common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common / (sa.n + sb.n - common) >= 0.2
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs within (lang, source)
    buckets via a shingle inverted-index join — the SQL-expressible
    near-dup tier (operators/dedup.ngram_jaccard_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "source"], k=3, threshold=0.2
    )


@register("dedup_minhash", oracle=None, tags=("dedup", "approx"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(16 bands × 2 rows) near-dup candidate pairs with
    signature-estimated Jaccard >= 0.5 (operators/dedup.minhash_lsh_pairs).
    Engine-specific xxhash64 → no SQL oracle; the pytest property check
    compares estimates against exact shingle Jaccard."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=32, bands=16, k=3, threshold=0.5
    )


@register("dedup_simhash", oracle=None, tags=("dedup", "approx"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(63-bit) near-dup pairs with hamming <= 3 via 4-block
    pigeonhole banding (operators/dedup.simhash_pairs); pytest verifies
    the banding finds exactly the brute-force pair set on a sample."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, "doc_id", "text", max_hamming=3)


@register(
    "sim_topk_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10)
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           round(list_inner_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cosine,
           CAST(row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_inner_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id) AS BIGINT) AS rank
    FROM q JOIN n c ON c.vec_id <> q.vec_id
    QUALIFY rank <= 5
    """,
    tags=("similarity",),
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10 — the exact
    baseline (operators/similarity.brute_force_topk). Similarity is rounded
    before ranking on both sides so near-ties order identically."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return S.brute_force_topk(queries, e, k=5)


@register("sim_topk_ivf", oracle=None, tags=("similarity", "approx"))
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style partition-pruned approximate top-5 (nprobe=2 over
    per-label centroids) — the 100 TB scale path
    (operators/similarity.ivf_topk). Recall vs brute force is a pytest
    property check."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return S.ivf_topk(queries, e, k=5, nprobe=2)


@register("sim_topk_ivf_kmeans", oracle=None, tags=("similarity", "approx"))
def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with a TRAINED k-means(8) coarse quantizer
    (operators/kmeans.py + operators/similarity.ivf_topk_trained) —
    the production IVF shape; recall vs brute force is a pytest check.
    The quantizer trains on a deterministic 1/4 hash-of-id sample
    (training needs the density shape, not every point); assignment still
    covers the full corpus."""
    from etl_caic_spark.operators.kmeans import kmeans_fit

    e = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, "vec_id", "embedding", k=8, iters=3, sample_mod=4)
    queries = e.filter(F.col("vec_id") < 10)
    return S.ivf_topk_trained(queries, e, centroids, k=5, nprobe=2)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS bucket,
           round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.3
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label buckets
    (operators/similarity.cosine_near_dup_pairs)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_pairs(e, threshold=0.3)


@register(
    "text_stats",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 2) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS INT) AS max_tokens
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics by (lang, source) (operators/text_analysis)."""
    return T.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_quality",
    oracle="""
    SELECT doc_id,
      CAST(len(words) AS INT) AS n_tokens,
      round(list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words), 6)
        AS avg_token_len,
      round(len(list_distinct(words)) * 1.0 / len(words), 6) AS uniq_ratio,
      round(len(list_filter(words,
            w -> list_contains(['a','the','of','to','and','row','key'], w)))
            * 1.0 / len(words), 6) AS stop_ratio,
      round(least(len(words) / 60.0, 1.0) * 0.4
            + (len(list_distinct(words)) * 1.0 / len(words)) * 0.4
            + (1 - len(list_filter(words,
                 w -> list_contains(['a','the','of','to','and','row','key'], w)))
                 * 1.0 / len(words)) * 0.2, 6) AS quality_score
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score
    (operators/text_analysis.quality_features)."""
    d = load_table(spark, sf_dir, "documents")
    feats = T.quality_features(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@register(
    "lang_id",
    oracle="""
    WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
    s AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(words, x -> list_contains(['der','die','und','ist'], x))) AS INT) AS s_de,
        CAST(len(list_filter(words, x -> list_contains(['the','a','of','and'], x))) AS INT) AS s_en,
        CAST(len(list_filter(words, x -> list_contains(['el','la','que','de'], x))) AS INT) AS s_es,
        CAST(len(list_filter(words, x -> list_contains(['le','la','et','est'], x))) AS INT) AS s_fr,
        CAST(len(list_filter(words, x -> list_contains(['de','shi','le','he'], x))) AS INT) AS s_zh
      FROM w
    )
    SELECT doc_id, lang AS declared_lang, s_de, s_en, s_es, s_fr, s_zh,
      CASE
        WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        ELSE 'zh'
      END AS predicted_lang
    FROM s
    """,
    tags=("text",),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with deterministic argmax
    (operators/text_analysis.predict_lang). The synthetic corpus is word
    soup, so predictions are arbitrary-but-deterministic; the oracle pins
    the scoring + tie-break exactly."""
    d = load_table(spark, sf_dir, "documents")
    scores = T.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        *[scores[lang].cast("int").alias(f"s_{lang}") for lang in T.LANG_ORDER],
        T.predict_lang(F.col("text")).alias("predicted_lang"),
    )


@register(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT)
             AS n_bpe_tokens
    FROM documents
    """,
    tags=("text",),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting
    (operators/text_analysis.token_counts)."""
    d = load_table(spark, sf_dir, "documents")
    counts = T.token_counts(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in counts.items()])


@register(
    "doc_fingerprint",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             [CAST(ord(ch) AS BIGINT) for ch in string_split(text, '')] AS codes
      FROM documents WHERE doc_id % 25 = 0
    ), h AS (
      SELECT doc_id,
             [(codes[i] * 923521 + codes[i+1] * 29791 + codes[i+2] * 961
               + codes[i+3] * 31 + codes[i+4]) % 1073741824
              for i in generate_series(1, greatest(len(codes) - 4, 1))] AS hashes
      FROM c
    )
    SELECT doc_id,
           CAST(len(list_distinct(
             [list_min(hashes[i:i+3])
              for i in generate_series(1, greatest(len(hashes) - 3, 1))]))
             AS INT) AS n_fingerprints,
           coalesce(array_to_string(list_sort(list_distinct(
             [list_min(hashes[i:i+3])
              for i in generate_series(1, greatest(len(hashes) - 3, 1))])), ','),
             '') AS fingerprints
    FROM h
    """,
    tags=("text",),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (char-5-gram rolling hash, window 4)
    with a portable polynomial hash — fully oracle-checkable
    (operators/text_analysis.winnowing_fingerprints). The fingerprint set is
    emitted comma-joined (sorted ints → exact string both engines) so the
    driver canonicalizer sees scalar cells only."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    fp = T.winnowing_fingerprint_col(d, "text", "fingerprints", kgram=5, window=4)
    return fp.select(
        "doc_id",
        F.size("fingerprints").alias("n_fingerprints"),
        F.array_join(F.col("fingerprints").cast("array<string>"), ",").alias(
            "fingerprints"
        ),
    )
