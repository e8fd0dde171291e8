"""Hybrid retrieval — fuse lexical (BM25) and dense (embedding cosine)
rankings with Reciprocal Rank Fusion (Cormack, Clarke & Buettcher,
"Reciprocal rank fusion outperforms Condorcet and individual rank
learning methods", SIGIR 2009). The production RAG-retrieval shape:
each retriever ranks independently; RRF scores every candidate
``sum_legs 1/(rrf_k + rank_leg)`` over the UNION of retrieved sets, so
a doc found by only one leg still scores (missing legs contribute 0),
and no score calibration between heterogeneous retrievers is needed —
only ranks.

Scale shape: each leg is its own already-audited operator (bm25 —
postings filtered map-side to the query terms; cosine — broadcast
query vector, embarrassingly-parallel scan). Ranking each leg is one
window over its (small, query-filtered) result, the fusion is a
broadcast-sized full-outer join on the doc key, and the final top-k is
TakeOrderedAndProject. Nothing here rescans the corpus beyond what the
legs already scan.

Parity discipline: ranks are assigned over the legs' ROUNDED scores
(bm25 4dp, cosine 6dp — each leg's committed serialization contract)
with id tie-breaks, so rank assignment cannot diverge on a last-ulp
difference; the RRF score itself is a sum of two correctly-rounded
divisions of exact integers — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table


def rrf_fuse(
    legs: list[tuple[DataFrame, str, str]],
    rrf_k: int = 60,
    top_n: int = 100,
    id_out: str = "doc_id",
) -> DataFrame:
    """Fuse ranked lists. Each leg is (df, id_col, score_col): the
    leg's top ``top_n`` rows by (score desc, id asc) — pass scores
    already rounded to the leg's serialization precision — each
    contribute 1/(rrf_k + rank). Returns (id_out, rrf_score) over the
    union of retrieved ids, unsorted (callers order + limit);
    rrf_score is rounded to 6dp.

    The per-leg cutoff is the standard RRF contract AND the scale
    guard: the limit plans as TakeOrderedAndProject (per-partition
    heaps), so the single-partition ranking window only ever sees
    ``top_n`` rows — a bounded, model-sized frame — never the corpus."""
    ranked = []
    for i, (df, id_col, score_col) in enumerate(legs):
        top = df.orderBy(F.col(score_col).desc(), F.col(id_col)).limit(top_n)
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        ranked.append(
            top.select(
                F.col(id_col).alias(id_out),
                (1.0 / (F.lit(rrf_k) + F.row_number().over(w))).alias(
                    f"__rrf_{i}"
                ),
            )
        )
    fused = ranked[0]
    for i, r in enumerate(ranked[1:], start=1):
        fused = fused.join(r, id_out, "full_outer")
    score = None
    for i in range(len(legs)):
        term = F.coalesce(F.col(f"__rrf_{i}"), F.lit(0.0))
        score = term if score is None else score + term
    return fused.select(id_out, F.round(score, 6).alias("rrf_score"))


@register(
    "q_hybrid_rrf",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok
        ), tf AS (
            SELECT doc_id, dl, t, count(*) AS tf
            FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM tok)
            WHERE t IN ('spark', 'join', 'filter')
            GROUP BY doc_id, dl, t
        ), dfreq AS (
            SELECT t, count(*) AS df FROM tf GROUP BY t
        ), bm AS (
            SELECT doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * 2.2 /
                       (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
            FROM tf JOIN dfreq USING (t) CROSS JOIN stats
            GROUP BY doc_id
        ), bm_rank AS (
            SELECT doc_id, r FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
                FROM bm
            ) WHERE r <= 100
        ), qv AS (
            SELECT CAST(embedding AS DOUBLE[]) AS q_emb
            FROM embeddings WHERE vec_id = 0
        ), cos AS (
            SELECT vec_id AS doc_id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), q_emb), 6) AS cs
            FROM embeddings, qv WHERE vec_id <> 0
        ), cos_rank AS (
            SELECT doc_id, r FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY cs DESC, doc_id) AS r
                FROM cos
            ) WHERE r <= 100
        ), fused AS (
            SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
                   round(coalesce(1.0 / (60 + b.r), 0)
                         + coalesce(1.0 / (60 + c.r), 0), 6) AS rrf_score
            FROM bm_rank b FULL OUTER JOIN cos_rank c USING (doc_id)
        )
        SELECT doc_id, rrf_score FROM fused
        ORDER BY rrf_score DESC, doc_id LIMIT 20
    """,
    doc="Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. "
    "SIGIR'09): the BM25 lexical leg (query {spark, join, filter}) and "
    "the dense cosine leg (query vector = embedding 0, doc key = "
    "vec_id) each retrieve their top-100 independently; every doc in "
    "the UNION of retrieved sets scores sum(1/(60+rank)), missing "
    "legs contribute 0; top-20. Hash-proven: ranks are over each leg's ROUNDED scores "
    "(the legs' own committed serialization contracts) and the RRF "
    "arithmetic is exact integer division — DuckDB reproduces both "
    "legs, the fusion and the cutoff.",
    tags=("E10", "E12", "llm-pipeline", "embeddings"),
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.operators.similarity import cosine
    from udacity_data_engineering_spark.operators.text import bm25

    docs = table(spark, sf_dir, "documents")
    lexical = bm25(docs, ["spark", "join", "filter"])

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("emb_d").alias("q_emb"))
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine("emb_d", "q_emb"), 6).alias("cs"),
        )
    )
    fused = rrf_fuse([(lexical, "doc_id", "bm25"), (dense, "vec_id", "cs")])
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(20)
