"""IVF ANN tests: exact recovery of planted near-neighbours (the
operating regime), measured overlap vs brute force on the driver's
uniform-random embeddings (out-of-regime floor), and the pruning
contract (only nprobe of k inverted lists are scanned)."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.ann import (
    _probe_ids,
    ivf_assign,
    ivf_topk,
)
from udacity_data_engineering_spark.plans.registry import all_queries


def _planted_corpus(spark, n_planted=15, n_noise=70, seed=3):
    rng = random.Random(seed)
    rows, planted, vid = [], [], 0
    for _ in range(n_planted):
        v = [rng.gauss(0, 1) for _ in range(64)]
        w = [x + rng.gauss(0, 0.02) for x in v]
        rows += [(vid, v), (vid + 1, w)]
        planted.append((vid, vid + 1))
        vid += 2
    for _ in range(n_noise):
        rows.append((vid, [rng.gauss(0, 1) for _ in range(64)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, planted


def test_ivf_finds_planted_neighbor_as_top1(spark):
    """A cosine-0.99 near-duplicate must be the top-1 IVF result: near-
    identical vectors assign to the same inverted list, so probing the
    query's own list always covers them."""
    df, planted = _planted_corpus(spark)
    qid, expect = planted[0]
    qvec = [
        float(x)
        for x in df.filter(F.col("vec_id") == qid).head().embedding
    ]
    top = ivf_topk(df, qvec, k_neighbors=3, exclude_vec_id=qid).collect()
    assert top[0].vec_id == expect
    assert top[0].cos_sim > 0.99


def test_ivf_overlap_vs_brute_force(spark, sf_dir):
    """Uniform-random embeddings are IVF's worst case (nearest neighbour
    cosine ~0.5, clusters weak); still expect most of the exact top-10
    inside 4/16 probed lists."""
    qs = all_queries()
    exact = {r.vec_id for r in qs["q_cosine_topk"].fn(spark, sf_dir).collect()}
    approx = {r.vec_id for r in qs["q_ivf_topk"].fn(spark, sf_dir).collect()}
    assert len(exact & approx) >= 5


def test_ivf_scans_only_probed_lists(spark):
    """The pruning contract: candidates come from exactly the probed
    clusters, and every corpus row is assigned to exactly one of k."""
    df, _ = _planted_corpus(spark)
    assigned, centers = ivf_assign(df, k=8)
    assert len(centers) == 8 and len(centers[0]) == 64
    assert assigned.count() == df.count()
    n_clusters = assigned.select("cluster").distinct().count()
    assert n_clusters <= 8
    qvec = [float(x) for x in df.head().embedding]
    probes = _probe_ids(qvec, centers, nprobe=3)
    assert len(probes) == 3 and len(set(probes)) == 3
    scanned = assigned.filter(F.col("cluster").isin(probes))
    assert 0 < scanned.count() < df.count()


def test_probe_ids_rank_by_cosine():
    centers = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.7, 0.7]]
    assert _probe_ids([1.0, 0.1], centers, 2) == [0, 3]


def test_ivf_assignment_is_numpy_nearest_center(spark):
    """The assignment contract: every non-null row appears exactly once,
    and its cluster is a nearest returned centre of its unit vector by
    numpy arithmetic (to 1e-9 — the JVM fold sums in another order)."""
    df, _ = _planted_corpus(spark)
    df = df.unionByName(
        spark.createDataFrame(
            [(1000, None)], "vec_id long, embedding array<float>"
        )
    )
    assigned, centers = ivf_assign(df, k=8)
    rows = assigned.select("vec_id", "emb_d", "cluster").collect()
    ids = sorted(r.vec_id for r in rows)
    assert ids == sorted(
        r.vec_id for r in df.filter(F.col("embedding").isNotNull()).collect()
    )
    c = np.asarray(centers)
    x = np.array([r.emb_d for r in rows])
    u = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    d = (c**2).sum(1)[None, :] - 2.0 * (u @ c.T)
    got = np.array([r.cluster for r in rows])
    assert ((0 <= got) & (got < 8)).all()
    assert (d[np.arange(len(rows)), got] <= d.min(1) + 1e-9).all()


def test_ivf_assign_survives_zero_vector(spark):
    """An all-zero (non-null) embedding has no direction: it must get a
    cluster like any other row (the 1e-12 norm floor pq_encode also
    uses), not a DIVIDE_BY_ZERO under ANSI."""
    df, _ = _planted_corpus(spark)
    df = df.unionByName(
        spark.createDataFrame(
            [(1000, [0.0] * 64)], "vec_id long, embedding array<float>"
        )
    )
    assigned, centers = ivf_assign(df, k=8)
    zero = assigned.filter(F.col("vec_id") == 1000).collect()
    assert len(zero) == 1 and 0 <= zero[0].cluster < len(centers)
    assert assigned.count() == df.count()


def test_ivf_index_build_job_budget(spark, job_tasks):
    """Building the index is two actions for training plus the cache
    fill. On the 8-partition planted corpus that is 8 jobs: the count
    (2: AQE runs its shuffle-map stage as a job of its own), the
    sample's bounded collect (3: the limit scans 1, then 4, then the
    last 3 partitions) and the fill (3: the cache stage, then the
    count's two). A distributed k-means fit (k-means|| init plus one
    job per round) ran 18 here."""
    df, _ = _planted_corpus(spark)
    with job_tasks() as tasks:
        assigned, _ = ivf_assign(df, k=8)
        assigned.cache().count()
    assigned.unpersist()
    assert len(tasks) == 8, tasks


@pytest.mark.parametrize("name, jobs", [("q_ivf_topk", 2), ("q_pq_topk", 3), ("q_ivfpq_topk", 4)])
def test_warm_probe_job_budget(spark, sf_dir, job_tasks, name, jobs):
    """A warm probe (indexes built, table schema known) runs the vec-0
    ``head()`` and the collect's jobs only. Inferring the embeddings
    schema on every ``table()`` load cost one more job each."""
    fn = all_queries()[name].fn
    fn(spark, sf_dir).collect()
    with job_tasks() as tasks:
        fn(spark, sf_dir).collect()
    assert len(tasks) == jobs, tasks
