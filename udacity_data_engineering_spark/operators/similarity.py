"""Similarity search + near-duplicate detection — E12 and the near-dup
family (SURVEY.md §2B).

Three tiers, by scale:

1. ``q_cosine_topk`` — brute-force cosine top-k against one query vector.
   Exact baseline; at scale the query side is a broadcast and the scan is
   embarrassingly parallel, so brute force is actually fine for a *single*
   query even at 100 TB.
2. ``q_ngram_jaccard`` — exact pairwise Jaccard via an inverted
   token index (token-equality self-join), the exact oracle for near-dup.
   The common-token join is the scale bottleneck (stopword fan-out) —
   which is precisely what tier 3 fixes.
3. ``q_minhash_candidates`` — MinHash + LSH banding: per-doc signatures
   (k permutation-hashes over shingle hashes), banded into buckets, and
   only bucket-colliding pairs are verified. Shuffle volume is
   O(docs × bands), independent of pairwise fan-out.

Vector math stays JVM-side (zip_with / aggregate / transform over array
columns) except the MinHash permutation mins, which run as an
Arrow-batched numpy pandas-UDF — lambda higher-order functions are
interpreted, not codegen'd, so numpy wins ~5× there (see
minhash_signature). No row-at-a-time Python anywhere.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from udacity_data_engineering_spark.operators.guards import oracle_scale_guard
from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

# ---------------------------------------------------------------------------
# vector math (JVM-side, deterministic left-to-right folds)
# ---------------------------------------------------------------------------
# The folds take SQL expression text (a column name such as ``"emb_d"``
# or a ``double_array_sql`` literal) and return ONE ``F.expr``: a Column
# lambda or ``F.lit`` per element costs a py4j round trip each while the
# query is built.


def _double_sql(v: float) -> str:
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"  # repr round-trips; Spark parses it exactly
    # repr(nan) is 'nan', not SQL: spell non-finite values as exact casts
    word = "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{word}' AS DOUBLE)"


def double_array_sql(values) -> str:
    """``values`` as one SQL ``array<double>`` literal, bit for bit the
    array ``F.array(*map(F.lit, values))`` builds (NaN and infinities
    included)."""
    return "array(" + ", ".join(map(_double_sql, values)) + ")"


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"


def dot(a: str, b: str) -> Column:
    """Dot product of two array<double> expressions via zip_with + fold."""
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> expressions.

    Null contract: a zero vector has no direction, so its cosine is NULL
    (the divisor is ``nullif(norm_a * norm_b, 0)``: no ``DIVIDE_BY_ZERO``
    under ANSI); a NULL array gives NULL. Every nonzero pair is the plain
    ``dot / (norm_a * norm_b)`` fold, bit for bit. DuckDB's
    ``list_cosine_similarity`` returns -1.0 for a zero vector instead, so
    an oracle over zero vectors must spell that case as NULL.
    """
    return F.expr(f"{_dot_sql(a, b)} / nullif({_norm_sql(a)} * {_norm_sql(b)}, 0)")


@register(
    "q_cosine_topk",
    oracle="""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q_emb), 6)
                   AS cos_sim
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
    """,
    doc="E12: brute-force cosine top-10 neighbours of vec_id=0. The "
    "1-row query side is crossJoin(broadcast(...)); similarity is a "
    "codegen'd zip_with/aggregate fold in double precision (embeddings "
    "are float32, cast up exactly), matching DuckDB's sequential "
    "list_cosine_similarity to well past the 6 rounded decimals.",
    tags=("E12",),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("emb_d").alias("q_emb"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine("emb_d", "q_emb"), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the near-dup oracle)
# ---------------------------------------------------------------------------


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the word-n-gram inverted index.
    Docs with fewer than n words yield no shingles (mirrors the SQL
    oracle's range-based expansion)."""
    from udacity_data_engineering_spark.functions.arrays import word_ngrams

    grams = word_ngrams(F.col(text_col), n)
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("w")
    ).distinct()


@register(
    "q_ngram_jaccard",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS w
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents),
                 LATERAL (SELECT unnest(
                     range(1, greatest(len(words) - 2, 0) + 1)) AS i)
        ), cnt AS (
            SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(i / (ca.n + cb.n - i), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
        WHERE i / (ca.n + cb.n - i) >= 0.5
    """,
    doc="Near-dup ground truth: exact word-3-gram Jaccard >= 0.5 over "
    "all document pairs via inverted-index self-join (intersection "
    "counts) + per-doc set sizes — never a doc×doc cross join. Shingles "
    "(not unigrams) make this discriminative: on this corpus unigram "
    "Jaccard marks ~40% of ALL pairs 'similar' (shared tiny vocabulary) "
    "while 3-grams isolate the true near-dups. This is the exactness "
    "oracle that q_minhash_candidates approximates — and matches its "
    "candidate set 1:1 on the driver corpus (100% recall). Guarded: "
    "refuses inputs above the oracle row ceiling (hot-shingle fan-out "
    "is quadratic in the worst case).",
    tags=("E12", "dedup", "oracle_only"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = oracle_scale_guard(
        table(spark, sf_dir, "documents"), "q_ngram_jaccard", "q_minhash_candidates"
    )
    tok = shingle_sets(spread(docs))
    cnt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.col("i") / (F.col("ca.n") + F.col("cb.n") - F.col("i"))
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1


def fingerprint_members(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, rep_id): every doc labeled with the MIN doc id of its
    identical-content (sha2-256) group — the collapse table that makes
    the MinHash path structurally clique-proof (round 7; the same
    collapse-before-banding move simhash_groups made in round 5).

    An undeduped corpus is mostly exact-duplicate cliques, and banding
    them raw puts all m members of a clique into every band bucket —
    O(m²) candidate pairs per clique, the one super-linear cliff the
    100× scale probe measured (130×, SCALE.md). Collapsing to one
    representative per distinct content BEFORE shingling/banding turns
    that clique into ONE banded row; members rejoin downstream as
    linear star edges (rep—member) or join-expanded pairs.

    Scale shape: one window shuffle keyed on the 32-byte digest —
    (id, digest) rows only, never text. NULL-text rows map to
    themselves (no content to equate; same posture as simhash_sigs'
    null filter)."""
    from pyspark.sql.window import Window

    from udacity_data_engineering_spark.operators.dedup import (
        content_fingerprint,
    )

    w = Window.partitionBy("__fp")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            content_fingerprint(F.col(text_col)).alias("__fp"),
        )
        .withColumn(
            "rep_id",
            F.when(F.col("__fp").isNull(), F.col("doc_id")).otherwise(
                F.min("doc_id").over(w)
            ),
        )
        .select("doc_id", "rep_id")
    )


def content_reps(
    docs: DataFrame, members: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The distinct-content representative rows of ``docs`` (full
    schema), selected by a semi join against the collapse table's
    self-rooted ids. One shuffle of the doc rows keyed on id — the
    unavoidable price of collapsing, equal to what exact dedup (the
    previously-documented caller-side ordering discipline) already
    cost; everything downstream runs on distinct content only."""
    reps = members.filter(F.col("doc_id") == F.col("rep_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(reps, on=id_col, how="left_semi")


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a space-separated text column (JVM-side).

    Falls back to the whole text when the document has fewer than n words.
    """
    words = F.split(text_col, " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    return F.when(k == 0, F.array(text_col)).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 32, seed: int = 42) -> Column:
    """MinHash signature: for each of ``num_hashes`` universal-hash
    permutations h_i(x) = (a_i*x + b_i) mod M31, the min over the doc's
    shingle hashes. Base shingle hash is xxhash64 folded into [0, 2^31)
    so the a*x product stays inside long range (ANSI-safe, no overflow).

    Hybrid execution: the base hashes are a codegen'd JVM transform
    (xxhash64 per shingle), but the num_hashes × |shingles| permutation
    mins run as an Arrow-batched numpy pandas-UDF. Lambda higher-order
    functions are interpreted (never whole-stage-codegen'd), so the
    pure-expression formulation pays ~400 ns per modular op; the numpy
    matrix version of the same int64 math is ~5× faster end-to-end at
    sf0.1 and widens with document size. Values are bit-identical —
    both sides compute (a*h + b) mod M31 in 64-bit integers.
    """
    params = np.array(_perm_params(num_hashes, seed), dtype=np.int64)
    a, b = params[:, 0][:, None], params[:, 1][:, None]
    empty_sig = [int(_MERSENNE31 - 1)] * num_hashes

    @F.pandas_udf(ArrayType(LongType()))
    def _perm_min(base: pd.Series) -> pd.Series:
        out = []
        for h in base:
            hv = np.asarray(h, dtype=np.int64)
            if hv.size == 0:
                out.append(empty_sig)
            else:
                out.append(((a * hv[None, :] + b) % _MERSENNE31).min(axis=1).tolist())
        return pd.Series(out)

    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))
    return _perm_min(base)


def spread(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Repartition ahead of per-row-expensive expressions — but ONLY
    when the input is under-split. Small parquet inputs arrive as ONE
    split; without this, signature computation for a whole table runs on
    a single core. A 100 TB corpus, though, already scans as tens of
    thousands of splits, and the old unconditional ``repartition(n)``
    would round-robin SHUFFLE the entire raw text corpus (its largest
    columns!) just to change the partition count — so when the plan
    already has >= n partitions this is now a no-op, and signature work
    runs where the scan runs.

    CAVEAT (round-7 advice): ``df.rdd.getNumPartitions()`` is plan-only
    for scans/filters — every current call site — but under AQE a plan
    containing SHUFFLES materializes its upstream query stages when
    ``.rdd`` is touched (AdaptiveSparkPlanExec runs them inside toRdd).
    Do not call spread() on a post-shuffle frame expecting a free
    inspection; put it directly above the scan, where the expensive
    per-row work starts anyway.

    Caveat: the count is a proxy for BALANCE. A many-files-but-skewed
    source (most files tiny, a few holding nearly all rows) passes the
    gate unshuffled and its signature work lands on the few cores
    owning the big splits. Parquet scans are largely immune —
    maxPartitionBytes splits large files into even chunks — but for a
    genuinely skewed non-splittable source, pass
    ``parallelism > getNumPartitions()`` explicitly to force the
    rebalance."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def in_cap_groups(
    bucketed: DataFrame, bucket_cols: list[str], cap: int
) -> DataFrame:
    """Drop rows of groups outside [2, cap] BEFORE any group
    materialization. A windowed count (no ORDER BY) shares the
    hash-partitioning of the downstream groupBy — one exchange total —
    and WindowExec buffers rows in a spillable array, so a degenerate
    billion-member bucket streams through and gets filtered row by row.
    The old post-hoc ``filter(size(ms) <= cap)`` pattern built the full
    member array (or shipped the whole group to a Python worker) first:
    dropping a hot bucket only after materializing it is an OOM, not a
    cap (round-6 hardening; semantics unchanged — the same groups
    survive)."""
    from pyspark.sql.window import Window

    m = F.count(F.lit(1)).over(Window.partitionBy(*bucket_cols))
    return (
        bucketed.withColumn("__m", m)
        .filter((F.col("__m") >= 2) & (F.col("__m") <= cap))
        .drop("__m")
    )


def bucket_pairs(bucketed: DataFrame, bucket_cols: list[str], payload: Column, cap: int = 100) -> DataFrame:
    """Within-bucket candidate-pair expansion via ONE scan: group to a
    per-bucket member array, then explode the triangular pairs. Avoids
    the self-join (which would recompute the signature subtree for both
    sides).

    Buckets above ``cap`` members are DROPPED from pair generation (a
    hot bucket is near-identical content that exact dedup — q_doc_dedup
    — should consume first, and its quadratic pair explosion would
    dominate the job) — and dropped BEFORE their member arrays are
    built (in_cap_groups), so the cap bounds memory, not just work.
    This is a silent cap on the DataFrame itself; when accounting
    matters, run ``capped_buckets`` alongside and surface its count."""
    members = in_cap_groups(bucketed, bucket_cols, cap).groupBy(*bucket_cols).agg(
        F.collect_list(payload).alias("ms")
    )
    return (
        members.select(F.explode(triangular_pairs(F.col("ms"))).alias("p"))
        .select("p.a", "p.b")
    )


def bucket_pairs_streamed(
    bucketed: DataFrame,
    bucket_cols: list[str],
    payload: Column,
    order: Column,
    cap: int = 100,
) -> DataFrame:
    """Large-cap variant of ``bucket_pairs``. The flatten-transform form
    materializes all C(m,2) pair structs of a bucket inside ONE row: fine
    at minhash's cap=100 (4,950 structs), a ~hundreds-of-MB unspillable
    row at cap=5000. Here only the LINEAR member array is collected; the
    pairs are generated by a double explode with an order filter, so they
    stream through the codegen pipeline row by row and per-row memory
    stays O(bucket members), never O(pairs).

    ``order`` must be unique per row within a bucket; the strict ``<``
    emits each unordered pair exactly once, canonically oriented (a = the
    lesser order key). Over-cap buckets are dropped — BEFORE the member
    array is built (in_cap_groups), same contract and same memory bound
    as bucket_pairs — run candidate_stats for the accounting."""
    members = (
        in_cap_groups(bucketed, bucket_cols, cap)
        .groupBy(*bucket_cols)
        .agg(
            F.collect_list(F.struct(payload.alias("p"), order.alias("o"))).alias(
                "ms"
            )
        )
    )
    return (
        members.select(F.explode("ms").alias("x"), "ms")
        .select("x", F.explode("ms").alias("y"))
        .filter(F.col("x.o") < F.col("y.o"))
        .select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
    )


def triangular_pairs(ms: Column) -> Column:
    """All unordered pairs of an array as structs (a, b) — the shared
    expansion used by every bucketed candidate path (one slice-transform
    per element; no self-join, no signature-subtree recompute)."""
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.greatest(F.size(ms), F.lit(1))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def capped_buckets(
    bucketed: DataFrame, bucket_cols: list[str], cap: int = 100
) -> DataFrame:
    """Accounting companion to bucket_pairs: the buckets (with member
    counts) whose pairs were dropped by the cap — surface this count in
    any job where silent truncation would be misread as full coverage."""
    return (
        bucketed.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > cap)
    )


def candidate_stats(
    bucketed: DataFrame,
    bucket_cols: list[str],
    cap: int = 100,
    path: str | None = None,
    units: str = "rows",
) -> DataFrame:
    """ONE-row drop-accounting summary for any capped bucket/cluster
    candidate path. The accounting contract (SCALE.md): every operator
    that drops over-full groups must have a stats companion built on
    this, so silent truncation is observable, not inferred.

    Columns: [path, units,] n_groups, n_capped, dropped_rows (members of
    over-cap groups), dropped_pairs (triangular pairs those groups would
    have produced), max_group. All zeros when nothing was dropped —
    including on empty input. ``units`` names what one *member* is for
    this path (emitted only alongside ``path``): different frontiers
    count different things (docs, vecs, signature groups), and a summed
    or compared reading across paths is only meaningful with the units
    visible (the simhash companion once summed documents and signature
    groups into one row — unreadable against corpus size or the cap).

    Scale shape: one partial-aggregating groupBy on the same keys the
    candidate path shuffles on, then a scalar agg — strictly cheaper
    than the candidate job it audits.
    """
    sizes = bucketed.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("m"))
    over = F.col("m") > cap
    z = F.lit(0).cast("long")
    stats = sizes.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), z).alias("n_capped"),
        F.coalesce(F.sum(F.when(over, F.col("m")).otherwise(0)), z).alias(
            "dropped_rows"
        ),
        F.coalesce(
            # integer DIV, not float /: m*(m-1)/2 through a double loses
            # exactness past m ~ 9.5e7 — the accounting must stay exact
            # at any group size the cap comment plans for
            F.sum(
                F.when(over, F.expr("(m * (m - 1)) DIV 2")).otherwise(F.lit(0))
            ),
            z,
        ).alias("dropped_pairs"),
        F.coalesce(F.max("m"), z).alias("max_group"),
    )
    if path is not None:
        stats = stats.select(
            F.lit(path).alias("path"), F.lit(units).alias("units"), "*"
        )
    return stats


def assert_no_drops(stats: DataFrame, op_name: str) -> None:
    """Enforce the drop-accounting contract (round-6: the stats
    companions made truncation *observable*; this makes it
    *enforceable*). Runs the companion eagerly — one extra partial-agg
    job on keys the operator shuffles anyway — and raises if any capped
    frontier dropped work, so a pipeline that must not silently lose
    candidates can opt into failing instead."""
    bad = [r for r in stats.collect() if r.n_capped > 0]
    if bad:
        detail = "; ".join(
            f"{r.path}: n_capped={r.n_capped} ({r.units}), "
            f"dropped_rows={r.dropped_rows}, dropped_pairs={r.dropped_pairs}, "
            f"max_group={r.max_group}"
            for r in bad
        )
        raise ValueError(
            f"{op_name}: candidate cap dropped work — {detail}. Raise the "
            f"cap, run exact dedup first (hot groups are near-identical "
            f"content), or call with fail_on_drops=False and audit via "
            f"the stats companion / q_neardup_drop_accounting."
        )


def _banded_reps(
    reps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, band_id, band_key) bucketing rows over an ALREADY
    distinct-content frame — the ONE definition of the MinHash banding,
    shared by minhash_candidates, rep_verified_pairs and the stats
    companion so the audit can never drift from the audited path (the
    same pattern as _lsh_bucketed for the embedding path)."""
    r = num_hashes // bands
    sig = spread(reps).select(
        F.col(id_col).alias("doc_id"),
        minhash_signature(shingles(F.col(text_col), shingle_n), num_hashes).alias(
            "sig"
        ),
    )
    return sig.select(
        "doc_id", band_explode(F.col("sig"), bands, r).alias("b")
    ).select("doc_id", "b.band_id", "b.band_key")


def minhash_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Banding rows of the corpus's DISTINCT-CONTENT representatives
    (round 7: identical-content groups collapse to their min-id rep
    BEFORE shingling/banding — see fingerprint_members). Bucket members
    are content groups, not raw docs, so an all-duplicates corpus bands
    as singletons instead of an O(m²) clique."""
    members = fingerprint_members(docs, id_col, text_col)
    return _banded_reps(
        content_reps(docs, members, id_col),
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_n,
    )


def minhash_candidate_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    cap: int = 100,
) -> DataFrame:
    """Drop accounting for minhash_candidates: same collapsed banding,
    same cap. Units are content groups (distinct texts), the thing a
    band bucket now holds — intra-group pairs can never be dropped (the
    collapse emits them structurally), so the only capped frontier is
    the rep-level band bucket."""
    banded = minhash_banded(docs, id_col, text_col, num_hashes, bands, shingle_n)
    return candidate_stats(
        banded,
        ["band_id", "band_key"],
        cap=cap,
        path="minhash_lsh",
        units="content_groups",
    )


def band_explode(sig_col: Column, bands: int, r: int) -> Column:
    """LSH banding: explode a length-(bands*r) signature array into
    (band_id, band_key) structs — band i's key is the comma-joined
    values of rows [i*r, (i+1)*r). Shared by the MinHash and SimHash
    candidate paths."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                F.concat_ws(
                    ",", F.slice(sig_col, b * r + 1, r).cast("array<string>")
                ).alias("band_key"),
            ),
        )
    )


def minhash_rep_candidates(
    reps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    cap: int = 100,
) -> DataFrame:
    """Canonical (doc_a < doc_b) candidate pairs over an ALREADY
    distinct-content frame: signatures computed once over properly-
    spread partitions, exploded to (doc, band_id, band_key) —
    O(groups × bands) rows — then a single groupBy per bucket with
    triangular pair expansion (bucket_pairs). No doc×doc comparison and
    no signature recompute."""
    banded = _banded_reps(reps, id_col, text_col, num_hashes, bands, shingle_n)
    return (
        bucket_pairs(banded, ["band_id", "band_key"], F.col("doc_id"), cap=cap)
        .select(
            F.least("a", "b").alias("doc_a"), F.greatest("a", "b").alias("doc_b")
        )
        .distinct()
    )


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    cap: int = 100,
    fail_on_drops: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band of their MinHash signature
    become candidate pairs. rows = bands * r, r = num_hashes // bands.

    STRUCTURALLY CLIQUE-PROOF (round 7; previously a caller-side
    ordering discipline): identical-content groups collapse to one
    representative before shingling/banding (fingerprint_members — the
    simhash_groups pattern), so a band bucket holds distinct CONTENT
    GROUPS. Intra-group pairs are emitted directly (identical text is
    trivially a candidate — Jaccard 1.0) via a rep-keyed self-join that
    streams C(m,2) rows without ever materializing a clique bucket, and
    surviving rep-level pairs expand to member pairs through two
    member-table joins. The 100× probe's one super-linear cliff (an
    all-duplicates corpus, 130×) cannot be hit any more: duplicates now
    cost one digest-window + linear expansion instead of O(m²) banding.
    Consequence for the cap: identical-content cliques can never be
    dropped; ``cap`` bounds only the rep-level buckets (near-identical
    but DISTINCT texts sharing a band).

    ``fail_on_drops=True`` raises (via assert_no_drops, one extra
    eager audit job) if any rep band bucket exceeds ``cap`` — the
    enforceable form of the drop-accounting contract.
    """
    if fail_on_drops:
        assert_no_drops(
            minhash_candidate_stats(
                docs, id_col, text_col, num_hashes, bands, shingle_n, cap
            ),
            "minhash_candidates",
        )
    # the collapse table feeds three consumers (rep selection + both
    # expansion joins); localCheckpoint materializes the digest window
    # once — 16 bytes/row, executor-local, released by the context
    # cleaner with the result
    members = fingerprint_members(docs, id_col, text_col).localCheckpoint()
    reps = content_reps(docs, members, id_col)
    rep_pairs = minhash_rep_candidates(
        reps, id_col, text_col, num_hashes, bands, shingle_n, cap
    )
    ma = members.select(F.col("rep_id").alias("__ra"), F.col("doc_id").alias("__da"))
    mb = members.select(F.col("rep_id").alias("__rb"), F.col("doc_id").alias("__db"))
    inter = (
        rep_pairs.withColumnsRenamed({"doc_a": "__ra", "doc_b": "__rb"})
        .join(ma, "__ra")
        .join(mb, "__rb")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
    )
    # disjoint by construction (same rep vs different reps) — no distinct
    return intra.unionAll(inter)


def rep_verified_pairs(
    reps: DataFrame, threshold: float = 0.7, cap: int = 100,
    fail_on_drops: bool = False,
) -> DataFrame:
    """MinHash-LSH candidates over an ALREADY distinct-content frame,
    verified with EXACT 3-gram Jaccard — (doc_a, doc_b, jaccard >=
    threshold), one row per verified pair of content GROUPS.
    Verification cost is O(candidates), never O(pairs), and both the
    shingle inverted index and the signatures are computed over
    distinct content only. The shared core of jaccard_verified_pairs
    and the survivor pipelines (components.neardup_survivors,
    ensemble.ensemble_survivors) — the latter consume rep-level pairs
    directly so duplicate cliques enter the component graph as linear
    star edges, never expanded pairs."""
    if fail_on_drops:
        assert_no_drops(
            candidate_stats(
                _banded_reps(reps),
                ["band_id", "band_key"],
                cap=cap,
                path="minhash_lsh",
                units="content_groups",
            ),
            "rep_verified_pairs",
        )
    cand = minhash_rep_candidates(reps, cap=cap)
    # the exploded shingle table feeds THREE consumers (both sides of
    # the intersection join + the per-doc counts); without a cut each
    # re-runs the scan + shingle explosion (round-15 optimization —
    # guide §5: reuse beats recompute here, the explosion is the
    # family's hottest operator). Lazy: the first consumer materializes.
    tok = shingle_sets(spread(reps)).localCheckpoint(eager=False)
    cnt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # intersection counts per candidate pair, then exact jaccard
    inter = (
        cand.join(tok.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            tok.selectExpr("doc_id AS doc_b", "w"),
            ["doc_b", "w"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(cnt.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a")
        .join(cnt.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def jaccard_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    fail_on_drops: bool = False,
    members: DataFrame | None = None,
    rep_pairs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with EXACT 3-gram Jaccard —
    (doc_a, doc_b, jaccard >= threshold) over the raw corpus. The
    production composition: precision is 1.0 by construction (every
    emitted pair is exact-verified). Shared by q_neardup_pipeline and
    the lexical leg of q_neardup_ensemble.

    Clique-proof (round 7): candidates + verification run on
    distinct-content representatives; identical-content pairs are
    emitted directly at Jaccard 1.0 (their exact value by definition)
    and verified rep pairs expand to member pairs — each member shares
    its rep's text, so the rep-level Jaccard IS the member-level one.
    NOTE on sub-shingle-length docs: two identical documents shorter
    than the 3-word shingle window now surface at Jaccard 1.0, where
    the pre-collapse path silently dropped them in verification (their
    shingle sets are empty — the inverted-index join had nothing to
    count). Exact duplicates are duplicates regardless of length; the
    old behavior was the quirk."""
    # members/rep_pairs may arrive precomputed (ensemble.cached state —
    # the collapse table and verified rep pairs are shared across the
    # ensemble queries within a session); built here when absent
    if members is None:
        members = fingerprint_members(docs).localCheckpoint()
    if rep_pairs is None:
        reps = content_reps(docs, members)
        rep_pairs = rep_verified_pairs(
            reps, threshold, fail_on_drops=fail_on_drops
        )
    rv = rep_pairs
    ma = members.select(F.col("rep_id").alias("__ra"), F.col("doc_id").alias("__da"))
    mb = members.select(F.col("rep_id").alias("__rb"), F.col("doc_id").alias("__db"))
    inter = (
        rv.withColumnsRenamed({"doc_a": "__ra", "doc_b": "__rb"})
        .join(ma, "__ra")
        .join(mb, "__rb")
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "jaccard",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    intra = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return intra.unionAll(inter)


@register(
    "q_neardup_pipeline",
    doc="End-to-end near-dup pipeline: MinHash-LSH candidate generation "
    "-> exact 3-gram Jaccard verification on candidates only -> "
    "confirmed pairs (jaccard >= 0.7). The production composition: "
    "verification cost is O(candidates), never O(pairs). Probabilistic "
    "candidate stage -> rows-only check.",
    tags=("E12", "dedup"),
)
def q_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_verified_pairs(table(spark, sf_dir, "documents"))


@register(
    "q_minhash_candidates",
    doc="MinHash+LSH near-dup candidate pairs (32 hashes, 8 bands of 4). "
    "Probabilistic by construction — rows-only driver check; "
    "tests/test_similarity.py asserts recall against the exact Jaccard "
    "oracle (q_ngram_jaccard) at small scale.",
    tags=("E12", "dedup"),
)
def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidates(table(spark, sf_dir, "documents"))
