"""Exact global ranking WITHOUT a single-partition window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY is the classic
100 TB cliff: Spark's WindowExec moves EVERY row to one partition (the
"No Partition Defined for Window operation" warning), so the operator
that looked fine at sf0.1 serializes the corpus through a single task at
scale. Several curation primitives genuinely need exact global ranks —
percentile-band trims, SQL ``ntile`` curriculum buckets, stable global
ordinals for training-data writes — so this module implements the
distributed two-phase rank every MPP engine uses internally:

1. **Freeze bucket boundaries driver-side.** One tiny job computes
   ``B-1`` approximate quantiles of the key (``percentile_approx``;
   any valid quantile sketch works — boundary quality affects only
   partition BALANCE, never rank correctness). The boundaries become
   plain Python floats, so every downstream job sees the identical
   split points — no re-sampled range partitioner between passes, no
   cache dependency.
2. **Bucket assignment is scan-side codegen.** ``bucket = sum_b
   (key > bound_b)`` — a chain of integer comparisons, no shuffle.
   Equal keys always land in the same bucket, so a tiebreak column can
   never straddle a boundary.
3. **Exact per-bucket counts -> offsets.** A ``groupBy(bucket).count()``
   (partial-aggregating, ~B rows total) is collected; the running sum
   over bucket ids gives each bucket its global offset — broadcast back
   as a literal CASE chain.
4. **Local rank inside each bucket.** ``row_number() OVER (PARTITION BY
   bucket ORDER BY key, tiebreak)`` — a PARTITIONED window: B-way
   parallel, each window sees ~1/B of the rows. Global rank = offset +
   local rank.

Exactness does not depend on the quantile sketch: ranks are derived
from exact counts plus an exact within-bucket sort, so the result is
row-identical to the single-partition ``row_number`` on any engine —
the oracle can be plain SQL ``row_number()``/``ntile()``.

The reference repo (etl.py:1-208) has no ranking surface; this is §2B
charter infrastructure used by ``corpus.length_trim`` (percentile-band
trim) and the curriculum-decile query below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

#: Default bucket count for the two-phase rank. More buckets = more
#: parallelism and smaller per-window state. Bucket assignment is one
#: O(1)-depth higher-order-function node and offsets arrive via a dense
#: element_at lookup — plan-literal array at small B, broadcast 1-row
#: array frame at huge B (never a B-deep CASE chain, never a join on the
#: derived bucket key), so large B is safe for
#: Catalyst; the remaining O(B) driver costs are the percentile sketch
#: result and the counts collect — at 100 TB pick ~2-4x the executor-core
#: count (hundreds to a few thousand), not more: past that the sketch
#: accuracy per boundary, not the plan, is the limit.
DEFAULT_BUCKETS = 64


def exact_global_rank(
    df: DataFrame,
    key: str,
    tiebreak: str,
    out: str = "rn",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Append exact global ``row_number() OVER (ORDER BY key, tiebreak)``
    as column ``out`` — distributed, never a single-partition window.

    ``key`` must be numeric/orderable (quantile-sketchable); ``tiebreak``
    must make (key, tiebreak) unique for a deterministic total order.
    """
    from pyspark.sql import Window

    probs = [i / buckets for i in range(1, buckets)]
    row = df.select(
        F.percentile_approx(F.col(key), probs, 10_000).alias("b")
    ).first()
    bounds = sorted(set(row["b"] or []))  # frozen driver-side floats

    # scan-side bucket id as ONE higher-order-function node (runtime O(B)
    # per row, expression DEPTH O(1)) — a chained when/otherwise CASE is
    # O(B)-deep and hits Catalyst analyzer/codegen recursion limits long
    # before large B (ADVICE r10)
    if bounds:
        bounds_arr = F.array(*[F.lit(b) for b in bounds])
        bucket_expr = F.aggregate(
            bounds_arr,
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(key) > b, 1).otherwise(0),
        )
    else:
        bucket_expr = F.lit(0)
    bucketed = df.withColumn("__bkt", bucket_expr.cast("int"))

    counts = {
        r["__bkt"]: r["cnt"]
        for r in bucketed.groupBy("__bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }

    w = Window.partitionBy("__bkt").orderBy(F.col(key).asc(), F.col(tiebreak).asc())

    n_buckets = len(bounds) + 1
    if n_buckets <= 16384:
        # per-bucket rank offsets as a DENSE literal-array lookup indexed
        # by __bkt: one element_at node (depth O(1) at any B, unlike a
        # B-deep CASE chain), and — unlike a broadcast join — no join at
        # all, which also sidesteps a Catalyst constraint-inference bug
        # where the join key's defining higher-order-function expression
        # gets inlined into a filter pushed to the offsets side,
        # referencing left-plan attributes (INTERNAL_ERROR_ATTRIBUTE_NOT_
        # FOUND at execution; hit when the key is itself a derived column).
        dense: list[int] = []
        acc = 0
        for bkt in range(n_buckets):
            dense.append(acc)
            acc += counts.get(bkt, 0)
        off_col = F.element_at(
            F.array(*[F.lit(v).cast("long") for v in dense]), F.col("__bkt") + 1
        )
        return (
            bucketed.withColumn(out, (off_col + F.row_number().over(w)).cast("long"))
            .drop("__bkt")
        )

    # huge-B fallback: a 16k+-child literal array bloats the plan, so ship
    # the SAME dense offset array as DATA — a broadcast 1-row frame cross-
    # joined (fan-out exactly 1) and indexed with element_at. No join on
    # __bkt means the Catalyst constraint-inference bug the dense branch
    # sidesteps (the HOF bucket expr inlined into a filter pushed across
    # the join, INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) cannot trigger here
    # either, at any B (ADVICE r12: the old broadcast-join-on-__bkt
    # fallback kept the exposure for buckets > 16384 + derived keys).
    dense_big: list[int] = []
    acc = 0
    for bkt in range(n_buckets):
        dense_big.append(acc)
        acc += counts.get(bkt, 0)
    spark = df.sparkSession
    off_df = spark.createDataFrame([(dense_big,)], "__offs array<long>")
    return (
        bucketed.crossJoin(F.broadcast(off_df))
        .withColumn(
            out,
            (
                F.element_at(F.col("__offs"), F.col("__bkt") + 1)
                + F.row_number().over(w)
            ).cast("long"),
        )
        .drop("__bkt", "__offs")
    )


def with_total_count(df: DataFrame, out: str = "__n") -> DataFrame:
    """Append the total row count as a column via a broadcast 1-row
    cross join — the scale-safe spelling of ``count(*) OVER ()`` (an
    empty-partition window also centralizes all rows)."""
    total = df.agg(F.count(F.lit(1)).alias(out))
    return df.crossJoin(F.broadcast(total))


def sql_ntile(
    df: DataFrame,
    key: str,
    tiebreak: str,
    k: int,
    out: str = "bucket_k",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact SQL ``ntile(k) OVER (ORDER BY key, tiebreak)`` without a
    global window: distributed rank + the standard ntile formula (the
    first ``n mod k`` buckets take ``ceil(n/k)`` rows, the rest take
    ``floor(n/k)`` — identical to DuckDB/Spark/ANSI ntile)."""
    ranked = with_total_count(
        exact_global_rank(df, key, tiebreak, out="__rn", buckets=buckets)
    )
    q = F.floor(F.col("__n") / k).cast("long")
    r = F.col("__n") % k
    cutoff = r * (q + 1)
    rn0 = F.col("__rn") - 1
    tile = F.when(F.col("__rn") <= cutoff, rn0 / (q + 1)).otherwise(
        r + (rn0 - cutoff) / q
    )
    return ranked.withColumn(out, (F.floor(tile) + 1).cast("int")).drop(
        "__rn", "__n"
    )


@register(
    "q_quality_deciles",
    oracle="""
        SELECT doc_id,
               ntile(10) OVER (ORDER BY n_chars NULLS FIRST, doc_id) AS decile
        FROM documents
    """,
    doc="Curriculum deciles: exact SQL ntile(10) over (n_chars, doc_id) "
    "computed WITHOUT a global window — frozen quantile boundaries -> "
    "scan-side bucket -> exact per-bucket counts -> partitioned local "
    "row_number + offset. Row-identical to the single-partition ntile "
    "(the oracle) while staying B-way parallel at 100 TB.",
    tags=("llm-pipeline", "corpus", "ranking"),
)
def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return sql_ntile(docs, "n_chars", "doc_id", 10, out="decile").select(
        "doc_id", "decile"
    )


@register(
    "q_global_rank",
    oracle="""
        SELECT event_id,
               row_number() OVER (ORDER BY value NULLS FIRST, event_id) AS rn
        FROM events
    """,
    doc="Exact global row_number over (value, event_id) via the "
    "two-phase distributed rank — hash-identical to the ORDER BY "
    "window, no single-partition WindowExec in the plan.",
    tags=("ranking", "physical"),
)
def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return exact_global_rank(events, "value", "event_id", out="rn").select(
        "event_id", "rn"
    )


#: Knuth multiplicative constant (same as sampling.KNUTH) + a small odd
#: per-draw stride — the deterministic pseudo-random pairing arithmetic.
_KNUTH = 2_654_435_761
_STRIDE = 40_503


def negative_samples(
    df: DataFrame,
    key: str,
    m: int = 4,
    out_key: str = "neg_id",
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive
    training: for every row, ``m`` pseudo-random OTHER rows' keys.

    Returns (key, draw 1..m, out_key). The standard need — contrastive
    embedding training, hard-negative mining baselines, ranking-model
    data prep — with the reproducibility contract of the Knuth-hash
    family: the pairing is pure integer arithmetic on DENSE row indices
    (from the distributed two-phase rank, so ids need not be dense or
    even numeric-contiguous), identical on any engine/partitioning.

    Draws are with replacement ACROSS draws (collisions between the m
    draws of one row are possible and fine for training); the
    self-pairing is excluded by a +1 shift. Cost: one exact_global_rank
    (two scans + partitioned window), an m-way explode (output is m·n
    rows by definition), and one int-key shuffle join to fetch the
    negative's key — no RNG state, no driver collect of the corpus.
    """
    dense = exact_global_rank(df.select(key), key, key, out="__rn")
    dense = with_total_count(dense, out="__n").select(
        F.col(key),
        (F.col("__rn") - 1).alias("__idx"),
        F.col("__n"),
    )
    draws = dense.select(
        key,
        "__idx",
        "__n",
        F.explode(F.sequence(F.lit(1), F.lit(m))).alias("draw"),
    )
    raw = (
        (F.col("__idx") % F.lit(2_147_483_648)) * F.lit(_KNUTH)
        + F.col("draw") * F.lit(_STRIDE)
    ) % F.col("__n")
    neg_idx = F.when(raw == F.col("__idx"), (raw + 1) % F.col("__n")).otherwise(raw)
    pairs = draws.select(key, "draw", neg_idx.alias("__neg_idx"))
    lookup = dense.select(
        F.col("__idx").alias("__neg_idx"), F.col(key).alias(out_key)
    )
    return pairs.join(lookup, "__neg_idx").select(key, "draw", out_key)


@register(
    "q_negative_samples",
    oracle="""
        WITH dense AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) - 1 AS idx,
                   count(*) OVER () AS n
            FROM documents
        ), draws AS (
            SELECT doc_id, idx, n, unnest(range(1, 5)) AS draw
            FROM dense
        ), pairs AS (
            SELECT doc_id, CAST(draw AS BIGINT) AS draw,
                   CASE WHEN ((idx % 2147483648) * 2654435761
                              + draw * 40503) % n = idx
                        THEN (((idx % 2147483648) * 2654435761
                               + draw * 40503) % n + 1) % n
                        ELSE ((idx % 2147483648) * 2654435761
                              + draw * 40503) % n
                   END AS neg_idx
            FROM draws
        )
        SELECT p.doc_id, p.draw, d.doc_id AS neg_id
        FROM pairs p JOIN dense d ON d.idx = p.neg_idx
    """,
    doc="Deterministic contrastive negative sampling: 4 pseudo-random "
    "other-document ids per document via Knuth-hash arithmetic over "
    "DENSE indices from the distributed two-phase rank — reproducible "
    "on any engine/partitioning, no RNG state, self-pairs excluded. "
    "Explode + one int-key shuffle join; never a corpus cross join.",
    tags=("llm-pipeline", "sampling", "ranking"),
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return negative_samples(docs, "doc_id", m=4)


@register(
    "q_quality_ensemble",
    oracle="""
        WITH tri AS (
            SELECT doc_id, substr(text, CAST(i AS BIGINT), 3) AS t
            FROM documents,
                 LATERAL (SELECT unnest(
                     range(1, greatest(len(text) - 2, 0) + 1)) AS i)
            WHERE len(text) >= 3
        ), model AS (
            SELECT t, count(*) AS c FROM tri GROUP BY t
        ), tot AS (
            SELECT sum(c) AS n_total, count(*) AS v FROM model
        ), ce AS (
            SELECT tri.doc_id,
                   round(ln(n_total + v) - avg(ln(c + 1)), 4) AS cross_entropy
            FROM tri JOIN model USING (t), tot
            GROUP BY tri.doc_id, n_total, v
        ), med AS (
            SELECT lang, quantile_cont(n_chars, 0.5) AS m
            FROM documents GROUP BY lang
        ), mad AS (
            SELECT d.lang, quantile_cont(abs(d.n_chars - med.m), 0.5) AS s
            FROM documents d JOIN med USING (lang) GROUP BY d.lang
        ), rz AS (
            SELECT doc_id,
                   coalesce(abs(round(round((n_chars - m)
                                            / nullif(s, 0.0), 6)
                                      * 0.6745, 10)), 0.0) AS az
            FROM documents d
            JOIN med USING (lang) JOIN mad ON mad.lang = d.lang
        ), sig AS (
            SELECT ce.doc_id, cross_entropy, az FROM ce JOIN rz USING (doc_id)
        ), til AS (
            SELECT doc_id,
                   ntile(100) OVER (ORDER BY cross_entropy, doc_id) AS c_ce,
                   ntile(100) OVER (ORDER BY az, doc_id) AS c_len
            FROM sig
        )
        SELECT doc_id,
               round((c_ce + c_len) / 2.0, 1) AS blend,
               (c_ce + c_len) / 2.0 <= 50 AS keep
        FROM til
    """,
    doc="Quality-signal ensemble: percentile-rank-normalize two "
    "heterogeneous signals (trigram-LM cross-entropy; per-language "
    "robust length z) via the DISTRIBUTED ntile, then blend centiles "
    "and keep the better half. Rank normalization is how incompatible "
    "score scales combine without magic thresholds; both ntiles run "
    "B-way parallel (no global window anywhere in a corpus-sized "
    "plan).",
    tags=("E10", "llm-pipeline", "quality", "ranking", "corpus", "slow_oracle"),
)
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.operators.charlm import charlm_score
    from udacity_data_engineering_spark.operators.stats import robust_outliers

    docs = table(spark, sf_dir, "documents")
    ce = charlm_score(docs).select("doc_id", "cross_entropy")
    rz = robust_outliers(docs, "n_chars", group="lang").select(
        "doc_id", F.coalesce(F.abs(F.col("robust_z")), F.lit(0.0)).alias("az")
    )
    # lineage cuts (components.py:88 discipline): each two-phase ntile
    # makes two passes over its input, so without the cuts the nested
    # tiling re-executes the trigram-LM subtree ~6x (measured 9.5 s ->
    # ~2 s at sf0.1)
    sig = ce.join(rz, "doc_id").localCheckpoint()
    tiled = sql_ntile(
        sql_ntile(sig, "cross_entropy", "doc_id", 100, out="c_ce").localCheckpoint(),
        "az",
        "doc_id",
        100,
        out="c_len",
    )
    half = (F.col("c_ce") + F.col("c_len")) / 2.0
    return tiled.select(
        "doc_id",
        F.round(half, 1).alias("blend"),
        (half <= 50).alias("keep"),
    )
