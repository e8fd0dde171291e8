"""Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
"The use of MMR, diversity-based reranking for reordering documents
and producing summaries", SIGIR 1998) — the standard diversification
pass between retrieval and a context window: greedily pick the doc
maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked.

Scale shape: MMR is inherently a per-query, candidate-set-sized
computation — candidates come from an already-bounded retriever top-n
(here the cosine leg; at scale IVF/kNN-join), so the greedy runs
per-query-group in ONE Arrow-batched applyInPandas kernel over
(top_n)² pair similarities. The corpus is never re-scanned and nothing
quadratic in the corpus exists; many queries rerank in parallel, one
group each.

Parity discipline (the hybrid.py contract): relevance and pairwise
similarities are rounded to 6dp BEFORE the greedy on both sides, and
λ = 0.5 makes every score an EXACT IEEE operation on those rounded
doubles (0.5·x is a power-of-two scale) — so greedy decisions cannot
diverge on a last ulp. The EMITTED score is rounded at 7dp, not 6:
0.5·(a 6dp multiple) is an exact 7dp multiple, which sits ON the 6dp
half-boundary whenever the last digit is odd — and there DuckDB's
scaled-multiply round() and Python's correctly-rounded round()
disagree; at 7dp the value is a near-exact multiple, nowhere near a
boundary, so both engines round identically. The DuckDB oracle replays all k greedy steps as
unrolled chained CTEs (max-sim over the growing selected set, NOT IN
the selected set, top-1 by score desc / id asc per step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

MMR_K = 10
MMR_TOP_N = 20


def mmr_rerank(
    cands: DataFrame,
    k: int = MMR_K,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "v",
) -> DataFrame:
    """Greedy MMR per query group. ``cands``: one row per (query,
    candidate) with the retriever's relevance — ALREADY rounded to its
    serialization precision — and a double vector. Returns
    (query_col, rank 1..k, id_col, mmr 7dp — see module docstring)."""
    import numpy as np
    import pandas as pd

    out_schema = f"{query_col} long, rank int, {id_col} long, mmr double"

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf[query_col].iloc[0]
        # deterministic candidate order: ids ascending (selection order
        # is decided by scores; this only fixes tie iteration)
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        n = np.sqrt((X * X).sum(axis=1))
        n[n == 0.0] = 1.0
        U = X / n[:, None]
        S = np.round(U @ U.T, 6)  # 6dp — the committed cosine contract
        remaining = np.ones(len(ids), dtype=bool)
        # max-sim over the SELECTED SET only: no phantom 0 — a uniformly
        # negative similarity to everything selected is a diversity
        # BONUS (the first pick's term is 0 by convention, matching the
        # oracle's `0.5 * rel - 0.5 * 0.0` / coalesce(ms, 0) on rank 1)
        max_sim = None
        picks = []
        for step in range(min(k, len(ids))):
            div = max_sim if max_sim is not None else np.zeros(len(ids))
            score = lam * rel - (1.0 - lam) * div
            # top-1 by (score desc, id asc): ids are sorted ascending,
            # so the FIRST argmax among remaining is the tie-winner
            masked = np.where(remaining, score, -np.inf)
            j = int(masked.argmax())
            picks.append((qid, step + 1, int(ids[j]), round(float(score[j]), 7)))
            remaining[j] = False
            col = S[:, j]
            max_sim = col.copy() if max_sim is None else np.maximum(max_sim, col)
        return pd.DataFrame(
            picks, columns=[query_col, "rank", id_col, "mmr"]
        )

    return cands.groupBy(query_col).applyInPandas(greedy, out_schema)


def _mmr_oracle(k: int = MMR_K, top_n: int = MMR_TOP_N) -> str:
    """Unrolled greedy: sel{i} accumulates picks, p{i+1} scores the
    remaining candidates against max similarity to sel{i}."""
    head = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
            SELECT v AS qv FROM e WHERE vec_id = 0
        ), cand AS MATERIALIZED (
            SELECT vec_id AS doc_id, v,
                   round(list_cosine_similarity(v, qv), 6) AS rel
            FROM e, q WHERE vec_id <> 0
            ORDER BY rel DESC, doc_id LIMIT {top_n}
        ), pairs AS MATERIALIZED (
            SELECT a.doc_id AS x, b.doc_id AS y,
                   round(list_cosine_similarity(a.v, b.v), 6) AS s
            FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
        ), p1 AS MATERIALIZED (
            SELECT 1 AS rank, doc_id, 0.5 * rel - 0.5 * 0.0 AS mmr
            FROM cand ORDER BY mmr DESC, doc_id LIMIT 1
        ), sel1 AS MATERIALIZED (SELECT doc_id FROM p1)"""
    steps = []
    for i in range(2, k + 1):
        p = i - 1
        steps.append(
            f""", p{i} AS MATERIALIZED (
            SELECT {i} AS rank, c.doc_id,
                   0.5 * c.rel - 0.5 * coalesce(m.ms, 0.0) AS mmr
            FROM cand c LEFT JOIN (
                SELECT x AS doc_id, max(s) AS ms FROM pairs
                WHERE y IN (SELECT doc_id FROM sel{p}) GROUP BY x
            ) m USING (doc_id)
            WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{p})
            ORDER BY mmr DESC, c.doc_id LIMIT 1
        ), sel{i} AS MATERIALIZED (
            SELECT doc_id FROM sel{p} UNION ALL SELECT doc_id FROM p{i}
        )"""
        )
    union = " UNION ALL ".join(
        f"SELECT rank, doc_id, round(mmr, 7) AS mmr FROM p{i}"
        for i in range(1, k + 1)
    )
    return head + "".join(steps) + f" {union} ORDER BY rank"


@register(
    "q_mmr_rerank",
    oracle=_mmr_oracle(),
    doc=f"MMR diversified re-ranking (Carbonell & Goldstein SIGIR'98): "
    f"query = embedding 0, candidates = cosine top-{MMR_TOP_N}, greedy "
    f"top-{MMR_K} by 0.5·rel − 0.5·max-sim-to-selected, ties to the "
    "lower doc_id. One Arrow-batched per-query-group kernel over the "
    "bounded candidate set — the corpus is scanned once by the "
    "retriever leg, never by the greedy. Hash-proven: relevance and "
    "pair sims rounded 6dp before the greedy on both sides; the DuckDB "
    "oracle unrolls all 10 greedy steps as chained CTEs.",
    tags=("E12", "embeddings", "llm-pipeline"),
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.operators.similarity import cosine

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cands = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.lit(0).cast("long").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            F.round(cosine("v", "qv"), 6).alias("rel"),
            "v",
        )
        .orderBy(F.col("rel").desc(), "doc_id")
        .limit(MMR_TOP_N)
    )
    out = mmr_rerank(cands)
    return out.select("rank", "doc_id", "mmr").orderBy("rank")
