"""Clustering hook + cluster scoring (SURVEY §1.2 mapping row / M9;
VERDICT r6 #3).

KMeans assignments are seed/partition-layout-sensitive, so the hook is
graded by ADJUSTED RAND INDEX against the synthetic mixture's true
components (>= 0.9 on a well-separated fixture), never by hash. The scoring
op IS hash-gradable (the cluster_score contract entry); here it gets a
pandas contingency oracle plus edge semantics.
"""

from pathlib import Path

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from pitfeat.ops.cluster import cluster_features, score_clusters
from pitfeat.synth import gen_clustered_embeddings


def _ari(a: np.ndarray, b: np.ndarray) -> float:
    """Adjusted Rand Index from the contingency table (standard formula;
    no sklearn in this container)."""
    ct = pd.crosstab(pd.Series(a), pd.Series(b)).to_numpy()

    def comb2(x):
        return x * (x - 1) / 2.0

    sum_ij = comb2(ct).sum()
    sum_a = comb2(ct.sum(axis=1)).sum()
    sum_b = comb2(ct.sum(axis=0)).sum()
    n = ct.sum()
    expected = sum_a * sum_b / comb2(n)
    max_index = (sum_a + sum_b) / 2.0
    return (sum_ij - expected) / (max_index - expected)


def test_kmeans_recovers_mixture_components(spark):
    """The clustered fixture is a well-separated Gaussian mixture whose true
    component of vec_id is vec_id % n_centers; KMeans at k = n_centers must
    recover it almost exactly (ARI >= 0.9 — label permutation is invisible
    to ARI, so no cluster-to-component matching step is needed)."""
    n, k = 2000, 8
    # dim=64 / default noise is the shape where single-init k-means|| is
    # reliable (measured: dim 16 at this noise, or very tight caps at any
    # dim, strand an init center — ARI 0.83 at every single-init seed);
    # n_init=3 guards the residual init flakiness by best-of-3 trainingCost
    e = gen_clustered_embeddings(spark, n, dim=64, n_centers=k, seed=7)
    assigned, model = cluster_features(
        e, k, vec_col="embedding", seed=11, max_iter=50, n_init=5
    )
    pdf = assigned.select("vec_id", "cluster").toPandas()
    truth = pdf["vec_id"].to_numpy() % k
    ari = _ari(truth, pdf["cluster"].to_numpy())
    assert ari >= 0.9, f"ARI {ari:.3f} < 0.9 on a separated mixture"
    assert len(model.clusterCenters()) == k
    # schema contract: input columns preserved + int cluster col, no temp col
    assert assigned.columns == e.columns + ["cluster"]


def test_cluster_features_from_numeric_columns(spark):
    """list-of-columns form assembles before fitting; two obvious blobs in
    2-d must split cleanly."""
    pdf = pd.DataFrame(
        {
            "id": range(200),
            "x": [0.0 + (i % 10) * 0.01 if i < 100 else 50.0 + (i % 10) * 0.01 for i in range(200)],
            "y": [0.0 if i < 100 else 50.0 for i in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    assigned, _ = cluster_features(df, 2, vec_col=["x", "y"], seed=3)
    got = assigned.toPandas()
    lo = set(got.loc[got["id"] < 100, "cluster"])
    hi = set(got.loc[got["id"] >= 100, "cluster"])
    assert len(lo) == 1 and len(hi) == 1 and lo != hi


def test_cluster_features_validation(spark):
    df = spark.range(10).select(F.col("id"), F.array(F.lit(1.0)).alias("v"))
    with pytest.raises(ValueError, match="k must be"):
        cluster_features(df, 1, vec_col="v")
    with pytest.raises(ValueError, match="already exists"):
        cluster_features(df.withColumn("cluster", F.lit(0)), 2, vec_col="v")
    with pytest.raises(ValueError, match="vec_col list is empty"):
        cluster_features(df, 2, vec_col=[])


def test_score_clusters_matches_pandas_contingency(spark):
    """Every output column against a straight pandas contingency build,
    including null labels (their own bucket) and exact float equality (the
    op's divisions are deterministic IEEE ops of exact ints)."""
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "id": range(500),
            "cluster": rng.integers(0, 4, 500),
            "label": [None if i % 97 == 0 else int(v) for i, v in enumerate(rng.integers(0, 3, 500))],
        }
    )
    df = spark.createDataFrame(pdf).select(
        "id", "cluster", F.col("label").cast("int").alias("label")
    )
    got = (
        score_clusters(df, label_col="label", cluster_col="cluster")
        .toPandas()
        .sort_values(["cluster", "label"], na_position="last")
        .reset_index(drop=True)
    )
    per = (
        pdf.groupby(["cluster", "label"], dropna=False)
        .size()
        .rename("n")
        .reset_index()
    )
    cl = per.groupby("cluster")["n"].sum().rename("cluster_n")
    la = per.groupby("label", dropna=False)["n"].sum().rename("label_n")
    total = per["n"].sum()
    want = per.join(cl, on="cluster").join(la, on="label")
    want["label_rate"] = want["n"] / want["cluster_n"]
    want["global_rate"] = want["label_n"] / total
    want["lift"] = want["label_rate"] / want["global_rate"]
    want = want.sort_values(["cluster", "label"], na_position="last").reset_index(
        drop=True
    )
    assert len(got) == len(want)
    assert (got["n"].to_numpy() == want["n"].to_numpy()).all()
    assert (got["cluster_n"].to_numpy() == want["cluster_n"].to_numpy()).all()
    assert (got["label_n"].to_numpy() == want["label_n"].to_numpy()).all()
    for c in ("label_rate", "global_rate", "lift"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    # sanity: rates within a cluster sum to 1
    s = got.groupby("cluster")["label_rate"].sum()
    assert np.allclose(s.to_numpy(), 1.0)


def test_score_clusters_single_shuffle_plan(spark):
    """Scale pin: the input is shuffled ONCE (the contingency groupBy); the
    marginals are window sums over the k x L contingency rows — no joins at
    all (a join would drop null buckets), no UDF, and the only
    hash-partitioned Exchange of row-scale data is the groupBy's."""
    df = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 7).alias("cluster"),
        (F.col("id") % 3).alias("label"),
    )
    plan = score_clusters(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan
    # the contingency agg's exchange + the two tiny window repartitions
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_cluster_corpus_job_end_to_end(spark, tmp_path):
    """The spark-submit surface (jobs/cluster_corpus.py): assigned table +
    contingency/lift table written and coherent. Quality asserts are
    deliberately LOOSER than the hook test's (ARI >= 0.8, strong per-cluster
    lift): k-means|| init varies with ambient partition layout, so the same
    fixture measured ARI 1.0 in one session and 0.838 (one merge + one
    split) in another — the strict >= 0.9 pin lives in
    test_kmeans_recovers_mixture_components, and re-asserting it here made
    the CLI test flake on clustering randomness it does not own. The lift
    bound is merge/split-robust: a merged cluster still lifts each of its
    two labels ~4x, a split half lifts its label ~8x."""
    import argparse
    import sys

    import numpy as np
    import pyspark.sql.functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from jobs.cluster_corpus import run

    k = 8
    e = gen_clustered_embeddings(spark, 1600, dim=64, n_centers=k, seed=7)
    src = str(tmp_path / "emb")
    e.withColumn("label", (F.col("vec_id") % k).cast("int")).write.parquet(src)
    out, scores = str(tmp_path / "assigned"), str(tmp_path / "scores")
    res = run(
        spark,
        argparse.Namespace(
            input=src, out=out, k=k, vec_col="embedding", cluster_col="cluster",
            label_col="label", scores_out=scores, n_init=3, max_iter=50, seed=11,
        ),
    )
    assert res["rows"] == 1600 and res["score_rows"] >= k
    got = spark.read.parquet(out).select("vec_id", "cluster").toPandas()
    assert set(got["cluster"].unique()) <= set(range(k))
    ari = _ari(got["vec_id"].to_numpy() % k, got["cluster"].to_numpy())
    assert ari >= 0.8, ari
    sc = spark.read.parquet(scores).toPandas()
    # every cluster is strongly enriched in its top label (robust to one
    # merge/split: merged ~ lift 4, split half ~ lift 8, clean ~ lift k)
    top = sc.sort_values("lift").groupby("cluster").tail(1)
    assert (top["lift"] > 2.0).all(), top
    # and the score table is a coherent contingency: per-cluster rates sum to 1
    import numpy as np

    assert np.allclose(sc.groupby("cluster")["label_rate"].sum().to_numpy(), 1.0)
