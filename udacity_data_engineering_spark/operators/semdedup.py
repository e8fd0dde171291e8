"""Semantic deduplication — embedding-space near-dup removal via
cluster-then-compare (Abbas et al., "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", 2023). The charter's
embedding-cosine near-dup operator in its production shape: where
MinHash/SimHash catch lexical duplicates, this catches *paraphrases* —
documents whose embeddings nearly coincide though their text differs.

Shape: seeded spherical k-means partitions the corpus into k clusters
(reusing the IVF assignment pass from ``ann.py``); exact pairwise
cosine runs ONLY within each cluster as a single numpy GEMM inside
``applyInPandas``; pairs above the threshold form a graph whose
connected components each keep their minimum ``vec_id`` as survivor
(reusing the min-label propagation from ``components.py``).

100 TB notes: the expensive O(n²) comparison is bounded to
O(Σ cluster²) — pick k so corpus/k stays under ``cap`` (the paper runs
k=110k clusters over 5B embeddings) and the per-cluster GEMM is
constant-sized BLAS work. The shuffle carries each vector exactly once
(to its cluster), centroids stay driver-sized metadata, and the
component step is shuffle-bounded by the pair count, which the
threshold keeps sparse. Cross-cluster pairs are invisible by design —
the paper's documented approximation; near-identical vectors co-cluster
with overwhelming probability on unit vectors.

Seeded-iterative clustering => not SQL-reproducible => rows-only;
tests/test_semdedup.py asserts planted paraphrase pairs are removed and
survivor determinism across runs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.ann import ivf_assign
from udacity_data_engineering_spark.operators.components import connected_components
from udacity_data_engineering_spark.operators.similarity import l2_norm
from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

#: Cosine threshold above which two embeddings are "semantically the
#: same document". Matches NEARDUP_THRESHOLD (neardup.py) so the exact,
#: LSH, and semantic paths agree on what counts as a near-dup on the
#: driver's uniform-random embeddings.
SEMDEDUP_THRESHOLD = 0.4


def semantic_pairs(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = 16,
    cap: int = 4000,
    seed: int = 7,
    assigned: DataFrame | None = None,
    fail_on_drops: bool = False,
) -> DataFrame:
    """Within-cluster near-dup pairs (vec_a < vec_b, cos_sim). One GEMM
    per cluster; clusters above ``cap`` members are skipped (size k to
    the corpus so this never fires — a hot cluster means k is too small
    for the data). Pass a prebuilt ``assigned`` (from ivf_assign) to
    reuse an existing clustering — the assignment is amortized state
    shared with IVF search. ``fail_on_drops=True`` raises (one extra
    eager audit job) if any cluster exceeded ``cap``."""
    import pandas as pd

    if assigned is None:
        assigned, _ = ivf_assign(emb, k=k, seed=seed)
    if fail_on_drops:
        from udacity_data_engineering_spark.operators.similarity import (
            assert_no_drops,
        )

        assert_no_drops(
            semantic_pairs_stats(emb, k=k, cap=cap, seed=seed, assigned=assigned),
            "semantic_pairs",
        )
    # Norm computed ONCE per row: a norm inside the transform lambda
    # would re-evaluate the O(d) aggregate per element (higher-order
    # lambdas get no subexpression elimination) — O(d^2) per row.
    unit = assigned.withColumn("nrm", l2_norm("emb_d")).select(
        "vec_id",
        "cluster",
        F.transform("emb_d", lambda x: x / F.col("nrm")).alias("u"),
    )

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2 or m > cap:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "sim": np.array([], dtype=np.float64),
                }
            )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["u"].to_numpy())
        sims = mat @ mat.T
        ia, ib = np.triu_indices(m, 1)
        s = sims[ia, ib]
        keep = s >= threshold
        a, b = ids[ia[keep]], ids[ib[keep]]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "sim": s[keep],
            }
        )

    from udacity_data_engineering_spark.operators.similarity import (
        in_cap_groups,
    )

    # over-cap clusters are pruned BEFORE grouping (round-6 hardening):
    # a hot cluster would otherwise arrive at one Python worker as a
    # single whole-cluster Arrow batch before the in-kernel guard
    # (kept as defense) could drop it
    return (
        in_cap_groups(unit, ["cluster"], cap)
        .groupBy("cluster")
        .applyInPandas(_verify, "vec_a long, vec_b long, sim double")
        .groupBy("vec_a", "vec_b")
        .agg(F.round(F.max("sim"), 6).alias("cos_sim"))
    )


def semantic_pairs_stats(
    emb: DataFrame,
    k: int = 16,
    cap: int = 4000,
    seed: int = 7,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Drop accounting for semantic_pairs' cluster cap: one row —
    n_groups, n_capped, dropped_rows, dropped_pairs, max_group. A
    non-zero n_capped means k is too small for the corpus (SemDeDup
    sizes k so corpus/k stays under cap); this makes that condition
    observable instead of silently losing within-cluster pairs."""
    from udacity_data_engineering_spark.operators.similarity import candidate_stats

    if assigned is None:
        assigned, _ = ivf_assign(emb, k=k, seed=seed)
    return candidate_stats(
        assigned.select("vec_id", "cluster"),
        ["cluster"],
        cap=cap,
        path="semdedup",
        units="vecs",
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = 16,
    seed: int = 7,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Survivor set after semantic dedup: one representative (minimum
    vec_id) per connected component of the within-cluster near-dup
    graph; vectors in no pair survive unconditionally."""
    from udacity_data_engineering_spark.operators.components import (
        min_id_survivors,
    )

    pairs = semantic_pairs(emb, threshold=threshold, k=k, seed=seed, assigned=assigned)
    comp = connected_components(pairs, "vec_a", "vec_b")
    return min_id_survivors(emb, comp, "vec_id").orderBy("vec_id")


@register(
    "q_semantic_dedup",
    doc="SemDeDup-style semantic dedup over embeddings: seeded spherical "
    "k-means clusters (one shuffle), exact cosine via per-cluster GEMM "
    "(O(sum cluster^2), never all-pairs), connected components, min "
    "vec_id survivor per component. Seeded-iterative clustering => "
    "rows-only; tests assert planted paraphrases are removed and the "
    "survivor set is stable across runs.",
    tags=("E12", "dedup"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.operators.ann import cached_ivf_index

    emb = table(spark, sf_dir, "embeddings")
    assigned, _ = cached_ivf_index(spark, sf_dir, emb)
    return semantic_dedup(emb, assigned=assigned)
