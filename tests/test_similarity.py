"""Similarity/dedup family unit tests: cosine vs numpy, MinHash-LSH
candidate recall vs exact Jaccard, as-of join vs brute force, lang-id
accuracy, tokenizers."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.asof import asof_join
from udacity_data_engineering_spark.operators.similarity import (
    cosine,
    dot,
    double_array_sql,
    l2_norm,
    minhash_candidates,
    shingles,
)
from udacity_data_engineering_spark.operators.text import lang_id, regex_tokens


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a, b = rng.normal(size=16).tolist(), rng.normal(size=16).tolist()
    df = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    ).select(cosine("a", "b").alias("c"))
    got = df.collect()[0].c
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - want) < 1e-12


def test_cosine_of_zero_vector_is_null(spark):
    """A zero vector has no direction: NULL, not DIVIDE_BY_ZERO under ANSI."""
    rows = (
        spark.createDataFrame(
            [([0.0, 0.0], [1.0, 2.0]), ([1.0, 2.0], [0.0, 0.0]), ([0.0, 0.0], [0.0, 0.0])],
            "a array<double>, b array<double>",
        )
        .select(cosine("a", "b").alias("c"))
        .collect()
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    assert [r.c for r in rows] == [None, None, None]


def _bits(values):
    return [struct.pack("<d", v) for v in values]


def test_double_array_literal_round_trips_bit_for_bit(spark):
    v = [0.1, -0.0, 5e-324, 1.7976931348623157e308, float("nan"), float("inf"), float("-inf")]
    row = spark.range(1).select(
        F.expr(double_array_sql(v)).alias("sql"), F.array(*map(F.lit, v)).alias("lit")
    ).head()
    assert _bits(row.sql) == _bits(row.lit) == _bits(v)


def test_sql_text_folds_equal_column_lambda_folds(spark):
    """The folds as SQL text give the same doubles, bit for bit, as the
    Column-lambda form they replace (written out here as the reference)."""

    def old_dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)

    def old_norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

    rng = np.random.default_rng(11)
    rows = [
        (rng.normal(size=64).tolist(), (rng.normal(size=64) * rng.uniform(1e-3, 1e3)).tolist())
        for _ in range(1000)
    ]
    a, b = F.col("a"), F.col("b")
    got = (
        spark.createDataFrame(rows, "a array<double>, b array<double>")
        .select(
            dot("a", "b"), old_dot(a, b),
            l2_norm("a"), old_norm(a),
            cosine("a", "b"), old_dot(a, b) / (old_norm(a) * old_norm(b)),
        )
        .collect()
    )
    assert len(got) == 1000
    for r in got:
        assert _bits(r[0::2]) == _bits(r[1::2])


def _jaccard(x: str, y: str, n: int = 3) -> float:
    def sh(t):
        w = t.split(" ")
        return set(" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1)))

    sx, sy = sh(x), sh(y)
    return len(sx & sy) / len(sx | sy)


def test_minhash_lsh_recall_on_near_dups(spark):
    """Docs that are >=0.9 shingle-Jaccard similar must collide in some
    LSH band (32 hashes / 8 bands -> ~s^4 per band; near-certain at 0.9)."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = []
    for i in range(20):
        words = (base + f" filler{i} " + base).split()
        docs.append((i, " ".join(words)))
    # 3 true near-dup pairs: single-word edits of each other
    docs.append((100, base + " extra trailing words here now"))
    docs.append((101, base + " extra trailing words here then"))
    docs.append((200, base.replace("quick", "swift")))
    docs.append((201, base.replace("quick", "swift") + " x"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cand = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidates(df, num_hashes=32, bands=8).collect()
    }
    truth = {
        (a, b)
        for a, ta in docs
        for b, tb in docs
        if a < b and _jaccard(ta, tb) >= 0.9
    }
    assert truth, "test corpus must contain true near-dups"
    missed = truth - cand
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([("a b",)], "text string").select(
        shingles(F.col("text"), 3).alias("s")
    )
    assert df.collect()[0].s == ["a b"]


def test_asof_join_matches_bruteforce(spark):
    left = [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 7, 200)]
    right = [(1, 10, 900), (1, 15, 901), (2, 99, 902)]
    ldf = spark.createDataFrame(left, "k int, ts long, lid long")
    rdf = spark.createDataFrame(right, "k int, ts long, rid long")
    got = {
        (r.lid, r.rid_matched)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", right_cols=("rid",)
        ).collect()
    }
    want = set()
    for k, lts, lid in left:
        matches = [(rts, rid) for rk, rts, rid in right if rk == k and rts <= lts]
        want.add((lid, max(matches)[1] if matches else None))
    assert got == want


def test_lang_id_accuracy(spark):
    samples = [
        ("the cat and the dog went to the park", "en"),
        ("le chat et le chien est dans la maison", "fr"),
        ("el perro y el gato es una mascota", "es"),
        ("der hund und die katze ist ein tier", "de"),
        ("qqq zzz www", "und"),
    ]
    df = spark.createDataFrame(samples, "text string, want string").select(
        "want", lang_id(F.col("text")).alias("got")
    )
    for r in df.collect():
        assert r.got == r.want, f"lang_id({r.want}) -> {r.got}"


def test_regex_tokenizer(spark):
    df = spark.createDataFrame([("Hello, world! 42x",)], "text string").select(
        regex_tokens(F.col("text")).alias("t")
    )
    assert df.collect()[0].t == ["Hello", ",", "world", "!", "42", "x"]


def test_streamed_and_collected_pair_expansion_agree(spark):
    """bucket_pairs (collect + triangular explode, small caps) and
    bucket_pairs_streamed (linear member array + double explode, large
    caps) must emit the same unordered pair multiset for the same
    buckets — including dropping the same over-cap bucket."""
    import random

    from udacity_data_engineering_spark.operators.similarity import (
        bucket_pairs,
        bucket_pairs_streamed,
    )

    rng = random.Random(11)
    rows = [(rng.randrange(6), i) for i in range(120)]  # bucket 6 sizes vary
    df = spark.createDataFrame(rows, "bucket int, id long")
    for cap in (5, 30, 200):
        collected = {
            tuple(sorted((r.a, r.b)))
            for r in bucket_pairs(df, ["bucket"], F.col("id"), cap=cap).collect()
        }
        streamed = {
            tuple(sorted((r.a, r.b)))
            for r in bucket_pairs_streamed(
                df, ["bucket"], F.col("id"), F.col("id"), cap=cap
            ).collect()
        }
        assert streamed == collected, f"cap={cap}"
    assert collected  # largest cap covers every bucket: non-empty
