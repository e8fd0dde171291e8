"""Near-duplicate ENSEMBLE — the recommended production composition of
the three verified near-dup paths (charter E12; closes the round-5
coverage note that SemDeDup alone reads recall 0.300 while nothing
guided a user to the union):

- lexical: MinHash-LSH candidates verified with exact 3-gram Jaccard
  (similarity.jaccard_verified_pairs) — catches copy/paste and
  boilerplate duplicates that embedding models may map apart;
- semantic/LSH: random-hyperplane embedding LSH, cosine-verified within
  buckets (neardup.embedding_neardup_lsh) — catches paraphrases across
  the whole space, recall 0.888 on the uniform-random worst case;
- semantic/clustered: SemDeDup within-cluster pairs
  (semdedup.semantic_pairs) — cheap, catches the co-clustered mass,
  misses cross-cluster pairs by design (standalone recall 0.279).

Every leg is exact-verified before the union, so ensemble precision
stays 1.0 against its own thresholds while the union recall dominates
every member (RECALL.md: measured ensemble numbers + floors in
tests/test_recall_floors.py).

Scale shape: the three legs are the already-bucketed operators — no new
shuffle classes — and the union groups on the (doc_a, doc_b) pair key
once. The lexical leg is structurally clique-proof since round 7
(identical-content collapse inside jaccard_verified_pairs /
rep_verified_pairs), so no exact-dedup-first caller ordering is needed
any more. The document and embedding id spaces coincide by construction
in this corpus (embeddings.vec_id IS a doc_id); corpora where they
differ pass an explicit mapping upstream.

Per-leg knobs (round 7): each leg can be disabled — a text-only corpus
runs ``embedding_lsh=False, semdedup=False`` without importing the legs
separately — and ``fail_on_drops=True`` propagates the enforceable
drop-accounting contract into every enabled capped leg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.ann import cached_ivf_index
from udacity_data_engineering_spark.operators.neardup import (
    NEARDUP_THRESHOLD,
    embedding_neardup_lsh,
)
from udacity_data_engineering_spark.operators.semdedup import semantic_pairs
from udacity_data_engineering_spark.operators.similarity import (
    jaccard_verified_pairs,
)
from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import session_cached, table


def _leg_frames(
    docs: DataFrame | None,
    embeddings: DataFrame | None,
    jaccard_threshold: float,
    cosine_threshold: float,
    assigned: DataFrame | None,
    lexical: bool,
    embedding_lsh: bool,
    semdedup: bool,
    fail_on_drops: bool,
    lexical_pairs: DataFrame | None = None,
    lsh_pairs: DataFrame | None = None,
    sem_pairs: DataFrame | None = None,
) -> list[DataFrame]:
    """The enabled legs, each normalized to (doc_a, doc_b, method,
    jaccard, cos_sim). ``lexical_pairs`` overrides the lexical leg's
    pair source (ensemble_survivors passes rep-level pairs so clique
    members never expand into the component graph)."""
    if not (lexical or embedding_lsh or semdedup):
        raise ValueError("neardup_ensemble: every leg is disabled")
    if (embedding_lsh or semdedup) and embeddings is None:
        raise ValueError(
            "neardup_ensemble: embedding legs enabled but no embeddings "
            "frame passed — disable them (embedding_lsh=False, "
            "semdedup=False) for a text-only corpus"
        )
    if lexical and docs is None and lexical_pairs is None:
        raise ValueError(
            "neardup_ensemble: lexical leg enabled but no documents "
            "frame passed — disable it (lexical=False) for an "
            "embeddings-only corpus"
        )
    legs: list[DataFrame] = []
    if lexical:
        lex = (
            lexical_pairs
            if lexical_pairs is not None
            else jaccard_verified_pairs(
                docs, threshold=jaccard_threshold, fail_on_drops=fail_on_drops
            )
        )
        legs.append(
            lex.select(
                "doc_a",
                "doc_b",
                F.lit("minhash_jaccard").alias("method"),
                F.col("jaccard"),
                F.lit(None).cast("double").alias("cos_sim"),
            )
        )
    if embedding_lsh:
        lshp = (
            lsh_pairs
            if lsh_pairs is not None
            else embedding_neardup_lsh(
                embeddings, threshold=cosine_threshold,
                fail_on_drops=fail_on_drops,
            )
        )
        legs.append(
            lshp.select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
                F.lit("embedding_lsh").alias("method"),
                F.lit(None).cast("double").alias("jaccard"),
                F.col("cos_sim"),
            )
        )
    if semdedup:
        semp = (
            sem_pairs
            if sem_pairs is not None
            else semantic_pairs(
                embeddings, threshold=cosine_threshold, assigned=assigned,
                fail_on_drops=fail_on_drops,
            )
        )
        legs.append(
            semp.select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
                F.lit("semdedup").alias("method"),
                F.lit(None).cast("double").alias("jaccard"),
                F.col("cos_sim"),
            )
        )
    return legs


def cached_ensemble_state(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The session's shared ensemble legs for ``sf_dir`` (default
    thresholds — the registered queries' operating point): the
    identical-content collapse table, verified rep-level lexical pairs,
    star edges, and the two embedding legs — all localCheckpointed.
    q_neardup_ensemble and q_ensemble_survivors run back-to-back in a
    benchmark session over the SAME corpus and were each recomputing
    every leg (~8 s of the survivor query's round-10 bench row was leg
    recomputation). The IVF assignment the SemDeDup leg is built from is
    NOT part of the state: it belongs to ``cached_ivf_index``'s entry,
    and evicting this one must not unpersist it."""
    from udacity_data_engineering_spark.operators.components import (
        star_edges,
    )
    from udacity_data_engineering_spark.operators.similarity import (
        content_reps,
        fingerprint_members,
        rep_verified_pairs,
    )

    def build():
        docs = table(spark, sf_dir, "documents")
        emb = table(spark, sf_dir, "embeddings")
        assigned, _ = cached_ivf_index(spark, sf_dir, emb)
        members = fingerprint_members(docs).localCheckpoint()
        reps = content_reps(docs, members)
        return {
            "docs": docs,
            "embeddings": emb,
            "members": members,
            "rep_pairs": rep_verified_pairs(reps, 0.5).localCheckpoint(),
            "stars": star_edges(members).localCheckpoint(),
            "lsh_pairs": embedding_neardup_lsh(
                emb, threshold=NEARDUP_THRESHOLD
            ).localCheckpoint(),
            "sem_pairs": semantic_pairs(
                emb, threshold=NEARDUP_THRESHOLD, assigned=assigned
            ).localCheckpoint(),
            # the thresholds these frozen legs were built at — consumers
            # must run at the same point or rebuild (ADVICE r11)
            "operating_point": (0.5, NEARDUP_THRESHOLD, False),
        }

    return session_cached(spark, sf_dir, "ensemble_state", build)


def _check_operating_point(
    state: dict | None,
    jaccard_threshold: float,
    cosine_threshold: float,
    fail_on_drops: bool,
) -> None:
    """Refuse to serve cached ensemble legs at a different operating
    point than they were built at: state's rep_pairs/lsh_pairs/sem_pairs
    are frozen at build thresholds, so honoring a caller's different
    thresholds silently would return wrong pair sets (ADVICE r11).
    Hand-built states without an 'operating_point' key skip the check
    (the caller owns consistency)."""
    if state is None:
        return
    point = state.get("operating_point")
    if point is None:
        return
    requested = (jaccard_threshold, cosine_threshold, fail_on_drops)
    if requested != point:
        raise ValueError(
            f"cached ensemble state was built at operating point "
            f"(jaccard, cosine, fail_on_drops)={point} but {requested} "
            f"was requested; "
            f"pass state=None to build legs at the new thresholds"
        )


def neardup_ensemble(
    docs: DataFrame | None,
    embeddings: DataFrame | None,
    jaccard_threshold: float = 0.5,
    cosine_threshold: float = NEARDUP_THRESHOLD,
    assigned: DataFrame | None = None,
    lexical: bool = True,
    embedding_lsh: bool = True,
    semdedup: bool = True,
    fail_on_drops: bool = False,
    state: dict | None = None,
) -> DataFrame:
    """Union of the enabled verified near-dup pair sets, one row per
    unordered pair: (doc_a, doc_b, methods, jaccard, cos_sim).

    ``methods`` is the sorted '+'-joined set of legs that surfaced the
    pair (e.g. 'embedding_lsh+semdedup'); ``jaccard``/``cos_sim`` carry
    the exact verified scores (NULL when no lexical/semantic leg found
    it). Pass ``assigned`` (an ivf_assign result) to reuse an existing
    clustering for the SemDeDup leg, as q_neardup_ensemble does via the
    session's cached IVF index. Per-leg enable flags + ``fail_on_drops``
    (propagated to every enabled capped leg) are the round-7 knobs."""
    _check_operating_point(
        state, jaccard_threshold, cosine_threshold, fail_on_drops
    )
    lexical_pairs = None
    if state is not None and lexical and docs is not None:
        lexical_pairs = jaccard_verified_pairs(
            docs,
            threshold=jaccard_threshold,
            fail_on_drops=fail_on_drops,
            members=state["members"],
            rep_pairs=state["rep_pairs"],
        )
    legs = _leg_frames(
        docs, embeddings, jaccard_threshold, cosine_threshold, assigned,
        lexical, embedding_lsh, semdedup, fail_on_drops,
        lexical_pairs=lexical_pairs,
        lsh_pairs=state["lsh_pairs"] if state is not None else None,
        sem_pairs=state["sem_pairs"] if state is not None else None,
    )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.groupBy("doc_a", "doc_b").agg(
        F.array_join(F.array_sort(F.collect_set("method")), "+").alias(
            "methods"
        ),
        F.max("jaccard").alias("jaccard"),
        F.round(F.max("cos_sim"), 6).alias("cos_sim"),
    )


def ensemble_survivors(
    docs: DataFrame,
    embeddings: DataFrame | None,
    jaccard_threshold: float = 0.5,
    cosine_threshold: float = NEARDUP_THRESHOLD,
    assigned: DataFrame | None = None,
    lexical: bool = True,
    embedding_lsh: bool = True,
    semdedup: bool = True,
    fail_on_drops: bool = False,
    state: dict | None = None,
) -> DataFrame:
    """The dedup DECISION over the ensemble pair graph: connected
    components across ALL enabled verified legs, keep the min-doc_id
    survivor per component. A doc in no verified pair survives
    unconditionally. This is the composition a pipeline actually runs —
    lexical- and semantic-duplicate chains merge into one component, so
    a doc lexically equal to A and semantically equal to B collapses
    the whole {doc, A, B} cluster to one survivor.

    Clique-proof by structure (round 7; replaces the exact-dedup-first
    caller ordering the 100× probe mandated): identical-content groups
    enter the component graph as their REPRESENTATIVE plus linear
    rep—member star edges, so the lexical leg contributes
    O(groups × bands) banding work and O(members) expansion — never a
    clique's C(m,2) pairs — while connectivity (hence the survivor
    set) is exactly what the expanded graph would give."""
    from udacity_data_engineering_spark.operators.components import (
        connected_components,
        min_id_survivors,
        star_edges,
    )
    from udacity_data_engineering_spark.operators.similarity import (
        content_reps,
        fingerprint_members,
        rep_verified_pairs,
    )

    _check_operating_point(
        state, jaccard_threshold, cosine_threshold, fail_on_drops
    )
    lexical_pairs = None
    stars = None
    if lexical:
        if state is not None:
            lexical_pairs = state["rep_pairs"]
            stars = state["stars"]
        else:
            members = fingerprint_members(docs).localCheckpoint()
            reps = content_reps(docs, members)
            lexical_pairs = rep_verified_pairs(
                reps, jaccard_threshold, fail_on_drops=fail_on_drops
            )
            stars = star_edges(members)
    legs = _leg_frames(
        docs, embeddings, jaccard_threshold, cosine_threshold, assigned,
        lexical, embedding_lsh, semdedup, fail_on_drops,
        lexical_pairs=lexical_pairs,
        lsh_pairs=state["lsh_pairs"] if state is not None else None,
        sem_pairs=state["sem_pairs"] if state is not None else None,
    )
    pairs = legs[0].select("doc_a", "doc_b")
    for leg in legs[1:]:
        pairs = pairs.unionAll(leg.select("doc_a", "doc_b"))
    if stars is not None:
        pairs = pairs.unionAll(stars)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return min_id_survivors(docs, comp, "doc_id", "lang", "source")


@register(
    "q_neardup_ensemble",
    doc="E12: the near-dup ENSEMBLE — union of exact-verified pairs from "
    "MinHash+Jaccard (lexical, >=0.5, clique-proof via identical-content "
    "collapse), embedding-LSH (cosine >=0.4), and SemDeDup (cosine "
    ">=0.4, reusing the session's cached IVF clustering), deduplicated "
    "on the pair key with a methods column. The composition RECALL.md "
    "recommends: each leg's misses are another leg's operating regime "
    "(SemDeDup alone: 0.279 vs the cosine truth; the ensemble's "
    "semantic recall dominates the best single leg). "
    "Hash/seed-specific bucketing => rows-only; measured recall in "
    "RECALL.md with floors in tests/test_recall_floors.py.",
    tags=("E12", "dedup"),
)
def q_neardup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = cached_ensemble_state(spark, sf_dir)
    assigned, _ = cached_ivf_index(spark, sf_dir, st["embeddings"])
    return neardup_ensemble(
        st["docs"], st["embeddings"], assigned=assigned, state=st
    )


@register(
    "q_ensemble_survivors",
    doc="E11/E12: the ensemble's dedup decision — connected components "
    "over the union of all exact-verified near-dup legs (lexical "
    "Jaccard>=0.5, embedding-LSH and SemDeDup cosine>=0.4) plus linear "
    "rep-member star edges for identical-content cliques (structurally "
    "clique-proof — no caller-side exact-dedup ordering required), "
    "min-doc_id survivor per component, non-paired docs survive "
    "unconditionally. Lexical and semantic duplicate chains merge "
    "transitively. Hash/seed-specific legs => rows-only; tests assert "
    "survivor-set properties (partition of the corpus, planted dup "
    "collapse).",
    tags=("E11", "E12", "dedup"),
)
def q_ensemble_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = cached_ensemble_state(spark, sf_dir)
    assigned, _ = cached_ivf_index(spark, sf_dir, st["embeddings"])
    return ensemble_survivors(
        st["docs"], st["embeddings"], assigned=assigned, state=st
    )
