"""Incremental corpus deduplication — dedup a NEW batch of documents
against an EXISTING corpus lake (charter: dedup family, production
shape). Every real training-data pipeline runs in increments: a crawl
snapshot arrives, and each new document must be dropped if (a) its
content already exists anywhere in the accumulated corpus, or (b) a
copy appears earlier in the same batch.

Shape: the corpus side is a *fingerprint-only* table — at 100 TB you
persist `sha256(text)` (32 bytes/doc) as its own parquet lake, bucketed
by fingerprint, and never rescan document bodies. The batch
fingerprints once (linear scan), dedups within itself (hash groupBy on
the digest — one shuffle), then LEFT ANTI joins the corpus fingerprints
(one shuffle on 32-byte keys; with both sides bucketed on `fp` the join
is co-located and shuffle-free, and AQE can inject a runtime bloom
filter of batch fingerprints into the corpus scan). Nothing here is
quadratic and no step carries document bodies past the first project.

The declared query splits the driver's `documents` table
deterministically (even doc_id = existing corpus, odd = incoming batch)
so the whole flow is value-hash provable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.dedup import (
    content_fingerprint,
    keep_first,
)
from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import session_cached, table


def incremental_dedup(
    batch: DataFrame,
    corpus_fps: DataFrame,
    text_col: str = "text",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``batch`` that survive dedup against the corpus and
    within the batch.

    ``corpus_fps`` must expose a single ``fp`` column of SHA-256 hex
    digests — the fingerprint lake, not the documents themselves.
    Within-batch survivors are deterministic: first row under
    ``order_cols`` per identical content (default: the batch's natural
    key ordering is the caller's duty; pass e.g. ["doc_id"]).
    """
    order_cols = order_cols or ["doc_id"]
    fp = batch.withColumn("__fp", content_fingerprint(text_col))
    within = keep_first(fp, ["__fp"], order_cols)
    return within.join(
        corpus_fps.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    ).drop("__fp")


def corpus_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The fingerprint lake for an existing corpus: one 32-byte digest
    column. Persist this (bucketed by fp) instead of rescanning bodies."""
    return docs.select(content_fingerprint(text_col).alias("fp")).distinct()


@register(
    "q_incremental_dedup",
    oracle="""
        WITH corpus AS (
            SELECT DISTINCT sha256(text) AS fp FROM documents
            WHERE doc_id % 2 = 0
        ), batch AS (
            SELECT doc_id, lang, source,
                   sha256(text) AS fp,
                   row_number() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents WHERE doc_id % 2 = 1
        )
        SELECT doc_id, lang, source FROM batch
        WHERE rn = 1 AND fp NOT IN (SELECT fp FROM corpus)
    """,
    doc="Incremental dedup of an incoming batch (odd doc_ids) against an "
    "existing corpus lake (even doc_ids): fingerprint once, "
    "deterministic within-batch dedup on the digest, LEFT ANTI join "
    "against the corpus fingerprint table — 32-byte keys shuffle, "
    "document bodies never do. Value-hash proven against the identical "
    "split in DuckDB.",
    tags=("E11", "dedup"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    corpus = corpus_fingerprints(docs.filter(F.col("doc_id") % 2 == 0))
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup(batch, corpus).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Incremental NEAR-dup (round 8): new batch vs a persisted lake index.
#
# The production cadence is "near-dup today's crawl against the accumulated
# lake" — and re-shingling + re-banding 100 TB of lake every day is exactly
# the cost the incremental shape exists to avoid. The lake's MinHash band
# table is deterministic by construction (seeded hash permutations,
# similarity._perm_params), so it is WRITE-ONCE STATE: persist it (plus the
# id-carrying fingerprint table) when a batch is admitted, and each new
# batch only (a) fingerprints + bands ITSELF, (b) probes the stored tables
# with joins. Nothing re-reads lake document bodies except the point-lookup
# of verification candidates.
# ---------------------------------------------------------------------------


def fingerprint_ids(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fp, doc_id) — one row per document: the ID-CARRYING fingerprint
    lake (corpus_fingerprints minus ids is enough for the drop decision;
    near-dup reporting needs the witness id). 40 bytes/doc, bucketed by
    fp at scale."""
    return docs.select(
        content_fingerprint(text_col).alias("fp"),
        F.col(id_col).alias("doc_id"),
    )


def minhash_lake_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable MinHash lake state: (doc_id, band_id, band_key)
    banding rows over the lake's distinct-content representatives —
    exactly minhash_banded, re-exported under the state-table name.
    Deterministic (seeded permutations), so identical parameters always
    regenerate identical rows: append each admitted batch's banding rows
    and the table stays equal to a from-scratch rebuild. At scale,
    persist partitioned by band_id and bucketed by band_key so batch
    probes are partition-pruned, co-located joins."""
    from udacity_data_engineering_spark.operators.similarity import (
        minhash_banded,
    )

    return minhash_banded(docs, id_col, text_col, num_hashes, bands, shingle_n)


def incremental_neardup(
    batch: DataFrame,
    lake_docs: DataFrame,
    lake_bands: DataFrame,
    lake_fps: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    cap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every near-dup pair TOUCHING the new batch, without re-banding
    the lake: (doc_a, doc_b, jaccard) with doc_a < doc_b, where lake
    participants of verified near pairs appear at their content-REP
    granularity (the banded unit) and exact content matches appear per
    lake document (the fingerprint lake is per-doc). Batch and lake id
    spaces must be disjoint (they are distinct ingest generations).

    Cost scales with the BATCH: the batch fingerprints, shingles and
    bands itself (linear in batch); the lake side contributes one
    fingerprint-table join, one semi-join + equi-join against the
    persisted band table restricted to the batch's probe buckets, and a
    point-lookup scan of lake bodies for verification candidates only.
    Lake text is never re-shingled wholesale, lake bands are never
    recomputed.

    Equivalence contract (pinned in tests/test_incremental.py): equal to
    jaccard_verified_pairs(batch ∪ lake) restricted to pairs touching a
    batch id, with lake-side members of NEAR (non-identical-content)
    pairs mapped to their lake content rep — the member-level jaccard IS
    the rep-level one (identical text ⇒ identical shingle set).

    Over-cap band buckets are dropped from pair generation under the
    same in_cap_groups contract as the from-scratch path, with the cap
    applied to the COMBINED (batch reps + lake reps) bucket population —
    the same population the from-scratch run caps."""
    from udacity_data_engineering_spark.operators.similarity import (
        _banded_reps,
        bucket_pairs,
        content_reps,
        fingerprint_members,
        shingle_sets,
        spread,
    )

    members = fingerprint_members(batch, id_col, text_col).localCheckpoint()
    reps = content_reps(batch, members, id_col)

    # (a) exact matches — per lake DOC, straight off the fingerprint lake
    bfp = batch.select(
        F.col(id_col).alias("doc_a"), content_fingerprint(text_col).alias("fp")
    )
    exact_cross = (
        bfp.join(lake_fps.select("fp", F.col("doc_id").alias("__l")), "fp")
        .select(
            F.least("doc_a", "__l").alias("doc_a"),
            F.greatest("doc_a", "__l").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # (b) intra-batch identical-content clique pairs (jaccard 1.0 by
    # definition — includes sub-shingle-length texts verification can't see)
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

    # (c) band the batch reps once; probe the PERSISTED lake band table
    bbands = _banded_reps(reps, id_col, text_col, num_hashes, bands, shingle_n)
    probe = bbands.select("band_id", "band_key").distinct()
    lake_in = lake_bands.join(probe, ["band_id", "band_key"], "left_semi")
    uni = bbands.withColumn("is_batch", F.lit(True)).unionByName(
        lake_in.select("doc_id", "band_id", "band_key").withColumn(
            "is_batch", F.lit(False)
        )
    )
    cand = (
        bucket_pairs(
            uni,
            ["band_id", "band_key"],
            F.struct(F.col("doc_id"), F.col("is_batch")),
            cap=cap,
        )
        .filter(F.col("a.is_batch") | F.col("b.is_batch"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
        # candidate pairs feed three consumers (both unions of cand_ids
        # + the intersection join) and their lineage contains the whole
        # banding + lake-probe DAG — cut so it executes once (r15)
        .localCheckpoint(eager=False)
    )

    # (d) exact-jaccard verification: batch reps shingle themselves;
    # lake bodies are point-looked-up for candidate ids only
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    lake_sub = lake_docs.join(cand_ids, id_col, "left_semi")
    # batch-sized by contract (batch reps + candidate lake bodies), and
    # read three times below — cut so the explosion runs once (r15)
    tok = shingle_sets(
        spread(
            reps.select(id_col, text_col).unionByName(
                lake_sub.select(id_col, text_col)
            )
        ),
        n=shingle_n,
    ).localCheckpoint(eager=False)
    cnt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(tok.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(tok.selectExpr("doc_id AS doc_b", "w"), ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    near_rep = (
        inter.join(cnt.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a")
        .join(cnt.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )

    # (e) expand BATCH-side rep participants to their members (lake ids
    # never match a batch rep_id — disjoint id spaces — so they coalesce
    # to themselves and stay rep-granular)
    ma = members.selectExpr("rep_id AS doc_a", "doc_id AS __ea")
    mb = members.selectExpr("rep_id AS doc_b", "doc_id AS __eb")
    near = (
        near_rep.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.coalesce("__ea", "doc_a").alias("__a"),
            F.coalesce("__eb", "doc_b").alias("__b"),
            "jaccard",
        )
        .select(
            F.least("__a", "__b").alias("doc_a"),
            F.greatest("__a", "__b").alias("doc_b"),
            "jaccard",
        )
    )

    return intra.unionByName(exact_cross).unionByName(near).distinct()


def simhash_lake_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persistable SimHash lake state: (lo, hi, rep_id, band_id,
    band_key) — one banding row set per DISTINCT 64-bit signature, rep =
    min member id. Deterministic (signature is a pure hash of tokens),
    so appending each admitted batch's new signatures keeps the table
    equal to a rebuild. 4 rows × ~40 bytes per distinct signature."""
    from udacity_data_engineering_spark.operators.neardup import (
        simhash_banded,
        simhash_sigs,
    )

    dist = (
        simhash_sigs(docs, id_col, text_col)
        .groupBy("lo", "hi")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    return simhash_banded(dist)


def incremental_simhash(
    batch: DataFrame,
    lake_index: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int | None = None,
) -> DataFrame:
    """Group-granular SimHash near-dup edges TOUCHING the new batch,
    without re-signing the lake: (doc_a, doc_b, hamming) where
    batch-internal edges come from simhash_group_graph (stars +
    rep pairs — the clique-proof emission) and batch↔lake edges pair
    each batch signature rep with every lake signature rep within
    ``max_hamming`` (hamming 0 = identical signature, which subsumes
    identical content). Verification is exact Hamming arithmetic on the
    packed signatures — no lake text is ever touched; the only lake
    input is the persisted band index, probed by one equi-join
    restricted to the batch's band keys. Batch and lake id spaces must
    be disjoint.

    The batch side keeps simhash_group_graph's bucket cap; the lake
    probe caps the COMBINED (batch signatures + lake signatures) band
    bucket population at the same ``cap`` (default: neardup's
    SIMHASH_BUCKET_CAP) under the same in_cap_groups contract as the
    from-scratch path and incremental_neardup — a hot lake band bucket
    must bound probe cost, not blow it up in lake bucket size, and the
    incremental == from-scratch equivalence pinned in
    tests/test_incremental.py holds for sub-cap buckets on both paths
    (over-cap buckets are dropped from pair generation by BOTH).
    Probe cost is band selectivity × batch bands, not lake size —
    SCALE.md measures the growth law."""
    from udacity_data_engineering_spark.operators.neardup import (
        SIMHASH_BUCKET_CAP,
        hamming_packed,
        simhash_banded,
        simhash_group_graph,
        simhash_sigs,
    )
    from udacity_data_engineering_spark.operators.similarity import (
        in_cap_groups,
    )

    if cap is None:
        cap = SIMHASH_BUCKET_CAP
    bb = simhash_group_graph(batch, id_col, text_col, max_hamming)
    breps = (
        simhash_sigs(batch, id_col, text_col)
        .groupBy("lo", "hi")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    bband = simhash_banded(breps)
    probe = bband.select("band_id", "band_key").distinct()
    lake_in = lake_index.join(probe, ["band_id", "band_key"], "left_semi")
    uni = bband.select(
        "doc_id", "lo", "hi", "band_id", "band_key"
    ).withColumn("is_batch", F.lit(True)).unionByName(
        lake_in.selectExpr(
            "rep_id AS doc_id", "lo", "hi", "band_id", "band_key"
        ).withColumn("is_batch", F.lit(False))
    )
    # both sides of the batch×lake cross below scan this frame; its
    # lineage includes the signature computation + lake probe — cut so
    # it executes once (r15)
    capped = in_cap_groups(uni, ["band_id", "band_key"], cap).localCheckpoint(
        eager=False
    )
    cross = (
        capped.filter(F.col("is_batch"))
        .select("doc_id", "lo", "hi", "band_id", "band_key")
        .join(
            capped.filter(~F.col("is_batch")).selectExpr(
                "doc_id AS rep_id", "lo AS __llo", "hi AS __lhi",
                "band_id", "band_key",
            ),
            ["band_id", "band_key"],
        )
        .select(
            "doc_id",
            "rep_id",
            hamming_packed(
                F.col("lo"), F.col("hi"), F.col("__llo"), F.col("__lhi")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.least("doc_id", "rep_id").alias("doc_a"),
            F.greatest("doc_id", "rep_id").alias("doc_b"),
            "hamming",
        )
        .distinct()
    )
    return bb.unionByName(cross).distinct()


def _cached_lake_state(spark: SparkSession, sf_dir: str) -> dict:
    """The session's built-once lake index state for ``sf_dir``: the
    MinHash band table, the fingerprint lake, and the SimHash band index
    are PERSISTED write-once state by contract ("never re-shingle the
    accumulated corpus") — repeated q_incremental_* calls in one session
    (bench reps, query plus verification) must probe the same built
    state, not rebuild lake-sized indexes per invocation."""

    def build():
        lake = table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 2 == 0
        )
        return {
            "minhash": minhash_lake_index(lake).localCheckpoint(),
            "fps": fingerprint_ids(lake).localCheckpoint(),
            "simhash": simhash_lake_index(lake).localCheckpoint(),
        }

    return session_cached(spark, sf_dir, "lake_state", build)


@register(
    "q_incremental_neardup",
    doc="Incremental MinHash near-dup: the incoming batch (odd doc_ids) "
    "is fingerprinted + banded ONCE and probed against the lake's (even "
    "doc_ids) persisted band table and fingerprint lake — the "
    "daily-crawl cadence that never re-shingles or re-bands the "
    "accumulated corpus. Emits every pair touching the batch: exact "
    "content matches per lake doc at jaccard 1.0, verified near pairs "
    "(exact 3-gram jaccard >= 0.7) with lake participants at their "
    "content-rep granularity. Candidate stage is MinHash-seed-specific "
    "-> rows-only; the batch-vs-lake == from-scratch equivalence is "
    "pinned in tests/test_incremental.py, and SCALE.md probes that cost "
    "scales with the batch, not the lake.",
    tags=("E11", "E12", "dedup", "llm-pipeline"),
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    lake = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    st = _cached_lake_state(spark, sf_dir)
    return incremental_neardup(batch, lake, st["minhash"], st["fps"])


@register(
    "q_incremental_neardup_simhash",
    doc="Incremental SimHash near-dup: the incoming batch (odd doc_ids) "
    "signs + bands its distinct signatures and probes the lake's (even "
    "doc_ids) persisted signature band index; batch-lake verification "
    "is exact Hamming arithmetic on packed signatures — zero lake text "
    "reads. Group-granular emission (stars + rep pairs, the clique- "
    "proof shape). Hash-function-specific banding -> rows-only; "
    "incremental == from-scratch signature-level equivalence is pinned "
    "in tests/test_incremental.py.",
    tags=("E12", "dedup", "llm-pipeline"),
)
def q_incremental_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    st = _cached_lake_state(spark, sf_dir)
    return incremental_simhash(batch, st["simhash"])
