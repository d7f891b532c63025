"""K-means: objective must be non-increasing over Lloyd's iterations;
assignment must agree with a NumPy reference; the trained quantizer plugs
into IVF candidate generation."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from etl_caic_spark.operators.kmeans import assign_clusters, inertia, kmeans_fit
from etl_caic_spark.sources import load_table


def test_inertia_non_increasing(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    prev = None
    for iters in (0, 2, 5):
        c = kmeans_fit(e, "vec_id", "embedding", k=8, iters=iters)
        cur = inertia(e, c, "vec_id", "embedding")
        if prev is not None:
            assert cur <= prev * (1 + 1e-9), f"inertia rose at iter {iters}"
        prev = cur


def test_assignment_matches_numpy(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    centroids = kmeans_fit(e, "vec_id", "embedding", k=5, iters=3)
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(e, centroids, "vec_id", "embedding").collect()
    }
    cent = {r["cluster"]: np.array(r["centroid"]) for r in centroids.collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e.collect()}
    for vid, v in vecs.items():
        dists = {cid: float(((v - c) ** 2).sum()) for cid, c in cent.items()}
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert got[vid] == best, (vid, got[vid], best, dists)


def test_kmeans_centroids_shape(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    c = kmeans_fit(e, "vec_id", "embedding", k=8, iters=2)
    rows = c.collect()
    assert len(rows) == 8
    assert all(len(r["centroid"]) == 64 for r in rows)
    assert sorted(r["cluster"] for r in rows) == list(range(8))
