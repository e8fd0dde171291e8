"""Bitmap exact-distinct sketch — the FOURTH leg of the mergeable sketch
warehouse (HLL ≈ distinct, CMS ≈ frequency, fixed-grid histogram ≈
quantiles, this = EXACT distinct; charter extension, SURVEY.md §2B — the
reference has no aggregation surface beyond count, etl.py:188).

The RoaringBitmap/ClickHouse-groupBitmap idea, Spark-native: distinct
counting over a BOUNDED integer id domain keeps one bit per id, packed
64 ids per cell as (group..., word_idx, bits). Cells merge by bitwise OR
— associative, commutative, idempotent — so per-partition / per-day
sketches union EXACTLY (unlike HLL's ±2% estimate), and the distinct
count is sum(bit_count(bits)) over the sketch alone, zero raw-data IO.
Idempotence is the property HLL also has but COUNT-sum lacks: replaying
a batch into the sketch cannot double-count.

Everything is engine-independent integer arithmetic (pmod, shiftleft,
bit_or, bit_count — all exact on int64), so DuckDB rebuilds the
identical cells and the driver hash-proves the sketch bytes, not just
the final counts (the CMS/quantile provability posture).

Scale shape: one scan + one partial-aggregating shuffle of at most
``groups x ceil(domain/64)`` cells; at 100 TB the shuffle is bounded by
the ID DOMAIN, not the row count. For sparse giant domains (64-bit
hashes, strings) the dense word space is the wrong tool RAW — so
``bitmap_distinct_sparse`` below closes that gap by dictionary-encoding
the values first (the stable surrogate-key service, dimension.py): the
dictionary maps any orderable sparse domain onto the dense 1..N key
space this sketch wants, keys are stable forever, and the composed
object keeps every bitmap property (exact, mergeable, replay-
idempotent) for string and 64-bit id domains too.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table


def bitmap_distinct_sketch(
    df: DataFrame, id_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Bitmap cells (group..., word_idx, bits) marking every distinct
    non-null value of ``id_col``. Exact integer arithmetic throughout
    (works for negative ids too: pmod keeps the bit index in [0, 64) and
    the word index uses the exactly-divisible (id - pmod) div 64, never
    float division — int64 above 2^53 would corrupt under a float path).
    """
    g = list(group_cols)
    word = F.expr(f"({id_col} - pmod({id_col}, 64)) div 64")
    # SQL form: F.shiftleft's numBits parameter only takes a literal int
    bit = F.expr(f"shiftleft(1L, cast(pmod({id_col}, 64) as int))")
    return (
        df.filter(F.col(id_col).isNotNull())
        .groupBy(*g, word.alias("word_idx"))
        .agg(F.bit_or(bit).alias("bits"))
    )


def merge_bitmap_sketches(*sketches: DataFrame) -> DataFrame:
    """Merge sketches over the same id domain: union + bitwise OR per
    cell. Idempotent (a REPLAYED batch cannot double-count — the bits
    are already set), associative, commutative; pinned in tests."""
    if not sketches:
        raise ValueError("need at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    keys = [c for c in merged.columns if c != "bits"]
    return merged.groupBy(*keys).agg(F.bit_or("bits").alias("bits"))


def bitmap_distinct_counts(
    sketch: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """EXACT distinct counts from the sketch alone: sum of per-cell
    popcounts. Reads only ``groups x words`` cells, never the data."""
    g = list(group_cols)
    return sketch.groupBy(*g).agg(
        F.sum(F.bit_count("bits")).alias("n_distinct")
    )


def bitmap_distinct_sparse(
    df: DataFrame,
    dictionary: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    key_col: str = "sk",
) -> DataFrame:
    """Bitmap exact-distinct sketch over a SPARSE domain (strings,
    64-bit hashes): values are dictionary-encoded onto the dense 1..N
    surrogate-key space first, then sketched. ``dictionary`` is the
    stable mapping (value_col, key_col) maintained by
    ``dimension.assign_surrogate_keys`` — keys never change, so cells
    built in different batches/rounds stay OR-mergeable forever, and the
    word space is ceil(N/64) regardless of how sparse the raw domain is.

    Cost: the sketch shuffle as before, plus one equi-join against the
    dictionary (left to AQE: broadcast when the dictionary is small,
    shuffled hash otherwise — at 100 TB a billion-entry dictionary must
    not be force-broadcast).
    """
    enc = df.filter(F.col(value_col).isNotNull()).join(
        dictionary.select(value_col, key_col), value_col, "inner"
    )
    return bitmap_distinct_sketch(enc, key_col, group_cols)


# DuckDB's signed left shift is overflow-CHECKED, so bit 63 (the sign
# bit Spark's shiftleft happily wraps into) must be spelled as the
# int64 minimum instead of 1 << 63.
_CELLS_SQL = """
        SELECT o_orderstatus,
               (o_custkey - ((o_custkey % 64) + 64) % 64) // 64 AS word_idx,
               bit_or(CASE WHEN ((o_custkey % 64) + 64) % 64 = 63
                           THEN -9223372036854775808
                           ELSE 1::BIGINT
                                << CAST(((o_custkey % 64) + 64) % 64 AS INT)
                      END) AS bits
        FROM orders
        WHERE o_custkey IS NOT NULL
        GROUP BY o_orderstatus, word_idx
"""


@register(
    "q_bitmap_distinct_cells",
    oracle=f"""
        {_CELLS_SQL}
    """,
    doc="Bitmap exact-distinct sketch of customers per order status: one "
    "bit per distinct o_custkey, packed 64 per (status, word_idx, bits) "
    "cell — at most groups x domain/64 cells at any row count, one "
    "partial-aggregating shuffle. Cells merge by bitwise OR "
    "(idempotent: batch replay cannot double-count — the property "
    "COUNT-sum rollups lack). All-integer arithmetic, so DuckDB "
    "rebuilds the identical cell BYTES and the driver hash-proves the "
    "sketch itself, not just derived counts.",
    tags=("E1", "E2", "llm-pipeline", "sketch"),
)
def q_bitmap_distinct_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return bitmap_distinct_sketch(
        orders, "o_custkey", group_cols=("o_orderstatus",)
    )


@register(
    "q_bitmap_distinct_rollup",
    oracle="""
        SELECT o_orderstatus,
               count(DISTINCT o_custkey) AS n_distinct
        FROM orders
        WHERE o_custkey IS NOT NULL
        GROUP BY o_orderstatus
    """,
    doc="EXACT distinct customers per status answered from MERGED bitmap "
    "sketches alone: the orders table is split into four disjoint "
    "ingest slices (orderkey mod 4), slice 0 deliberately ingested "
    "TWICE (the at-least-once replay), each slice sketched "
    "independently, all five sketches OR-merged — and the popcount "
    "rollup still equals count(DISTINCT): bitwise OR is idempotent, so "
    "replay cannot double-count. The exact-distinct warehouse object "
    "HLL approximates; shuffle bounded by the id domain, not rows.",
    tags=("E1", "E2", "llm-pipeline", "sketch"),
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    slices = [
        bitmap_distinct_sketch(
            orders.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i),
            "o_custkey",
            group_cols=("o_orderstatus",),
        )
        for i in (0, 1, 2, 3, 0)  # slice 0 replayed: idempotence on trial
    ]
    merged = merge_bitmap_sketches(*slices)
    out = bitmap_distinct_counts(merged, group_cols=("o_orderstatus",))
    # DuckDB's count(DISTINCT) is BIGINT; Spark's sum(bit_count) is long
    return out.select("o_orderstatus", F.col("n_distinct").cast("long").alias("n_distinct"))


@register(
    "q_bitmap_distinct_sparse",
    oracle="""
        WITH dict AS (
            SELECT c_name AS value,
                   CAST(row_number() OVER (
                       ORDER BY (c_custkey % 2), c_name
                   ) AS BIGINT) AS sk
            FROM customer
        ), enc AS (
            SELECT o.o_orderstatus, d.sk
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN dict d ON c.c_name = d.value
        )
        SELECT o_orderstatus,
               (sk - ((sk % 64) + 64) % 64) // 64 AS word_idx,
               bit_or(CASE WHEN ((sk % 64) + 64) % 64 = 63
                           THEN -9223372036854775808
                           ELSE 1::BIGINT
                                << CAST(((sk % 64) + 64) % 64 AS INT)
                      END) AS bits
        FROM enc
        GROUP BY o_orderstatus, word_idx
    """,
    doc="SPARSE-domain bitmap exact-distinct (VERDICT r14 item 2): "
    "distinct customer NAMES (a string domain the dense bitmap cannot "
    "index raw) per order status, via the composed object — the stable "
    "surrogate-key dictionary (two ingest batches split on custkey "
    "parity, batch 0 REPLAYED once) maps names onto the dense 1..N key "
    "space, then the orders fact (split into two slices, slice 0 "
    "sketched TWICE — the at-least-once trial on the sketch side too) "
    "is encoded through the dictionary and bitmap-sketched. The "
    "dictionary assignment is deterministic (lexicographic per batch), "
    "so DuckDB rebuilds the identical cell BYTES: both the key service "
    "and the sketch are hash-proven as one fact. Shuffle bounded by "
    "groups x ceil(N/64) cells; the dictionary join is left to AQE.",
    tags=("E1", "E2", "W+", "llm-pipeline", "sketch", "slow_oracle"),
)
def q_bitmap_distinct_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    from udacity_data_engineering_spark.operators.dimension import (
        assign_surrogate_keys,
    )

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix=f"bds_dict_{uuid.uuid4().hex[:12]}_")
    dict_path = os.path.join(tmp, "dict")
    b0 = cust.filter(F.pmod(F.col("c_custkey"), F.lit(2)) == 0)
    b1 = cust.filter(F.pmod(F.col("c_custkey"), F.lit(2)) == 1)
    assign_surrogate_keys(spark, dict_path, b0, "c_name")
    assign_surrogate_keys(spark, dict_path, b0, "c_name")  # replay: no-op
    dictionary = assign_surrogate_keys(spark, dict_path, b1, "c_name")
    fact = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "o_orderstatus", "c_name"
    )
    slices = [
        bitmap_distinct_sparse(
            fact.filter(F.pmod(F.col("o_orderkey"), F.lit(2)) == i),
            dictionary,
            "c_name",
            group_cols=("o_orderstatus",),
        )
        for i in (0, 1, 0)  # slice 0 replayed: idempotence on trial
    ]
    out = merge_bitmap_sketches(*slices).localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out
