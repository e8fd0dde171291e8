#!/usr/bin/env python
"""Measured recall of every approximate dedup/ANN path vs its exact,
guarded ground truth — the numbers behind the rows-only driver slots.

Seeds are the production defaults, pinned: MinHash universal-hash params
seed=42; SimHash is seedless xxhash64; embedding-LSH hyperplanes
seed=42; IVF / SemDeDup k-means seed=7; PQ codebooks seed=7 (+subspace).

Writes RECALL.md at the repo root and prints one JSON line.

Usage: python scripts/measure_recall.py [--sf /root/testdata/sf0.1]
       [--queries 25]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from udacity_data_engineering_spark.operators.ann import (  # noqa: E402
    cached_ivf_index,
    ivf_topk,
)
from udacity_data_engineering_spark.operators.neardup import (  # noqa: E402
    exact_hamming_pairs as _ehp,
)
from udacity_data_engineering_spark.operators.pq import (  # noqa: E402
    cached_pq_index,
    pq_topk,
)
from udacity_data_engineering_spark.operators.semdedup import (  # noqa: E402
    semantic_pairs,
)
from udacity_data_engineering_spark.plans.registry import all_queries  # noqa: E402
from udacity_data_engineering_spark.session import build_session, table  # noqa: E402


def pair_set(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def exact_hamming_pairs(spark, sf_dir, max_hamming=3):
    """Exact all-pairs Hamming<=3 ground truth for SimHash (the shared
    package helper — see operators/neardup.py::exact_hamming_pairs)."""
    return _ehp(table(spark, sf_dir, "documents"), max_hamming=max_hamming)


def topk_recall(spark, sf_dir, n_queries, k=10, nprobes=(4,), reranks=(50,)):
    """Mean recall@k of IVF (per nprobe setting) and PQ (per rerank
    setting) vs exact brute force, over the first n_queries vec_ids.
    Exact ranking is computed driver-side in numpy (measurement
    harness); the approximate paths run their real plans. Returns
    ({nprobe: recall}, {rerank: recall}, n_queries)."""
    emb = table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e")).collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.e for r in rows], dtype=np.float64)
    unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    by_id = {int(v): i for i, v in enumerate(ids)}

    index = cached_ivf_index(spark, sf_dir, emb)
    encoded, books = cached_pq_index(spark, sf_dir, emb)

    qids = sorted(by_id)[:n_queries]
    ivf_hits = {p: 0 for p in nprobes}
    pq_hits = {r: 0 for r in reranks}
    ivfpq_hits = 0
    for qid in qids:
        qi = by_id[qid]
        sims = unit @ unit[qi]
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))  # sim desc, vec_id asc tiebreak
        exact = {int(ids[j]) for j in order[:k]}
        qvec = [float(x) for x in mat[qi]]
        for p in nprobes:
            ivf = {
                r.vec_id
                for r in ivf_topk(
                    emb, qvec, k_neighbors=k, nprobe=p,
                    exclude_vec_id=qid, index=index,
                ).collect()
            }
            ivf_hits[p] += len(exact & ivf)
        for rr in reranks:
            pqr = {
                r.vec_id
                for r in pq_topk(
                    encoded, emb, qvec, codebooks=books, k_neighbors=k,
                    rerank=rr, exclude_vec_id=qid,
                ).collect()
            }
            pq_hits[rr] += len(exact & pqr)
        # round 10: the IVF-PQ composite at its production operating
        # point (nprobe=8, rerank=200)
        from udacity_data_engineering_spark.operators.pq import ivfpq_topk

        comp = {
            r.vec_id
            for r in ivfpq_topk(
                encoded, emb, index[0], index[1], qvec, codebooks=books,
                k_neighbors=k, nprobe=8, rerank=200, exclude_vec_id=qid,
            ).collect()
        }
        ivfpq_hits += len(exact & comp)
    n = len(qids) * k
    return (
        {p: h / n for p, h in ivf_hits.items()},
        {r: h / n for r, h in pq_hits.items()},
        len(qids),
        ivfpq_hits / n,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", type=int, default=25)
    args = ap.parse_args()
    sf = args.sf

    spark = build_session(app_name="measure-recall")
    qs = all_queries()
    n_docs = table(spark, sf, "documents").count()
    n_emb = table(spark, sf, "embeddings").count()

    # -- pairwise dedup paths ------------------------------------------
    jac_truth = pair_set(qs["q_ngram_jaccard"].fn(spark, sf))
    minhash = pair_set(qs["q_minhash_candidates"].fn(spark, sf))
    r_minhash = len(minhash & jac_truth) / len(jac_truth) if jac_truth else 1.0

    ham_truth = exact_hamming_pairs(spark, sf)
    simhash = pair_set(qs["q_simhash_candidates"].fn(spark, sf))
    r_simhash = len(simhash & ham_truth) / len(ham_truth) if ham_truth else 1.0

    cos_truth = pair_set(qs["q_embedding_neardup"].fn(spark, sf), "vec_a", "vec_b")
    lsh = pair_set(qs["q_embedding_neardup_lsh"].fn(spark, sf), "vec_a", "vec_b")
    r_lsh = len(lsh & cos_truth) / len(cos_truth) if cos_truth else 1.0

    emb = table(spark, sf, "embeddings")
    assigned, _ = cached_ivf_index(spark, sf, emb)
    sem = pair_set(semantic_pairs(emb, assigned=assigned), "vec_a", "vec_b")
    r_sem = len(sem & cos_truth) / len(cos_truth) if cos_truth else 1.0

    # the recommended composition: ensemble of all exact-verified legs
    from udacity_data_engineering_spark.operators.ensemble import (
        neardup_ensemble,
    )

    ens_rows = neardup_ensemble(
        table(spark, sf, "documents"), emb, assigned=assigned
    ).collect()
    ens_sem = {
        (r.doc_a, r.doc_b) for r in ens_rows if r.cos_sim is not None
    }
    ens_lex = {(r.doc_a, r.doc_b) for r in ens_rows if r.jaccard is not None}
    r_ens_sem = len(ens_sem & cos_truth) / len(cos_truth) if cos_truth else 1.0
    r_ens_lex = len(ens_lex & jac_truth) / len(jac_truth) if jac_truth else 1.0

    # -- top-k ANN paths (with the accuracy/cost knob sweeps) ----------
    NPROBES, RERANKS = (2, 4, 8, 16), (25, 50, 100, 200)
    ivf_curve, pq_curve, nq, r_ivfpq = topk_recall(
        spark, sf, args.queries, nprobes=NPROBES, reranks=RERANKS
    )
    r_ivf, r_pq = ivf_curve[8], pq_curve[200]  # production defaults

    out = {
        "sf": sf,
        "n_docs": n_docs,
        "n_embeddings": n_emb,
        "minhash_lsh_pair_recall": round(r_minhash, 4),
        "jaccard_truth_pairs": len(jac_truth),
        "simhash_pair_recall": round(r_simhash, 4),
        "hamming_truth_pairs": len(ham_truth),
        "embedding_lsh_pair_recall": round(r_lsh, 4),
        "cosine_truth_pairs": len(cos_truth),
        "semdedup_pair_recall": round(r_sem, 4),
        "ensemble_semantic_pair_recall": round(r_ens_sem, 4),
        "ensemble_lexical_pair_recall": round(r_ens_lex, 4),
        "ivf_recall_at_10": round(r_ivf, 4),
        "pq_recall_at_10": round(r_pq, 4),
        "ivfpq_recall_at_10": round(r_ivfpq, 4),
        "topk_queries": nq,
    }
    print(json.dumps(out))

    md = f"""# RECALL — measured recall of every approximate path

Produced by `python scripts/measure_recall.py --sf {sf}` (seeds = the
production defaults, pinned in the script docstring). The driver's
embeddings are uniform-random (nearest-neighbour cosine ~0.5) and its
documents share a tiny vocabulary — the WORST case for every method
below; planted-near-duplicate regimes (the methods' operating point)
are covered by the 100%-recall tests cited in the last column.

Data: `{sf}` — {n_docs} documents, {n_emb} embeddings.

| approximate path | exact ground truth | measured recall | truth size | pytest floor |
|---|---|---|---|---|
| MinHash-LSH candidates (32 hashes, 8 bands) | 3-gram Jaccard >= 0.5 (`q_ngram_jaccard`) | {r_minhash:.3f} | {len(jac_truth)} pairs | planted >=0.9-Jaccard pairs: 100% (test_similarity.py) |
| SimHash candidates (4 bands, Hamming<=3) | exact all-pairs Hamming<=3 | {r_simhash:.3f} | {len(ham_truth)} pairs | == 1.0 by pigeonhole (test_recall_floors.py) |
| Embedding LSH (12x4 hyperplanes) | cosine >= 0.4 (`q_embedding_neardup`) | {r_lsh:.3f} | {len(cos_truth)} pairs | >= 0.6 measured + planted 100% (test_neardup.py) |
| SemDeDup within-cluster pairs (k=16) | cosine >= 0.4 (`q_embedding_neardup`) | {r_sem:.3f} | {len(cos_truth)} pairs | floor (test_recall_floors.py) |
| **Ensemble** (`q_neardup_ensemble`), semantic legs | cosine >= 0.4 (`q_embedding_neardup`) | {r_ens_sem:.3f} | {len(cos_truth)} pairs | dominates every leg (test_recall_floors.py) |
| **Ensemble**, lexical leg (Jaccard >= 0.5 verify) | 3-gram Jaccard >= 0.5 (`q_ngram_jaccard`) | {r_ens_lex:.3f} | {len(jac_truth)} pairs | same as MinHash row (exact-verified) |
| IVF top-10 (k=16, nprobe=8) | brute-force cosine top-10, {nq} queries | {r_ivf:.3f} | recall@10 | >=5/10 overlap (test_ann.py) |
| PQ top-10 (8x16 codes, rerank 200) | brute-force cosine top-10, {nq} queries | {r_pq:.3f} | recall@10 | >=5/10 overlap (test_pq.py) |
| IVF-PQ top-10 (nprobe 8, rerank 200) | brute-force cosine top-10, {nq} queries | {r_ivfpq:.3f} | recall@10 | >=4/10 overlap (test_pq.py) |

The ANN accuracy/cost knobs, measured on the same queries (cost scales
linearly: nprobe/16 of the corpus scanned; rerank exact re-scores per
query). The curves are how a user picks an operating point — recall at
the exhaustive end of each knob is the sanity bound:

| IVF nprobe (of 16 lists) | recall@10 | | PQ rerank depth | recall@10 |
|---|---|---|---|---|
""" + "".join(
        f"| {p} | {ivf_curve[p]:.3f} | | {r} | {pq_curve[r]:.3f} |\n"
        for p, r in zip(NPROBES, RERANKS)
    ) + f"""
Reading the numbers:

- **MinHash** at Jaccard s has per-band collision p = s^4; at the 0.5
  truth threshold the analytic recall over 8 bands is
  1-(1-0.5^4)^8 ~ 0.40 for borderline pairs and ->1 as s rises. The
  measured value reflects the truth set's s distribution, and the
  *pipeline* recall is what matters: `q_neardup_pipeline` verifies
  candidates with exact Jaccard, so precision is 1.0 by construction
  and missed pairs are the pairs near the threshold.
- **SimHash** banding is exhaustive for Hamming<=3 by pigeonhole
  (4 bands, <=3 differing bits => one band identical) — recall is
  exactly 1.0 *provided no clique or bucket exceeds the cap*. History:
  the original 32-bit signature's 8-bit bands had only 256 keys, so
  bucket sizes grew linearly with the corpus and the minhash-sized cap
  (100) read recall 0.081 at sf0.1 (56 capped buckets, 2.6M dropped
  candidate pairs — caught by the round-5 drop accounting,
  q_neardup_drop_accounting). Round 5 moved to the classic 64-bit /
  4x16-bit-band design (Manku et al., WWW'07): 65,536 keys per band,
  identical signatures collapsed before banding, packed two-long
  signatures verified via bit_count(xor). The production cap is
  SIMHASH_BUCKET_CAP=5000 distinct signatures per band bucket (and
  docs per identical-sig clique); watch the accounting for
  n_capped > 0.
- **Embedding LSH** analytic floor on this data: per-plane agreement
  p = 1 - theta/pi with theta ~ 66deg at cosine 0.4 -> ~0.63;
  1-(1-p^4)^12 ~ 0.87.
- **SemDeDup** misses cross-cluster pairs by design (the paper's
  documented approximation); near-identical vectors co-cluster with
  overwhelming probability, so recall rises toward 1 as similarity
  -> 1 (the planted-paraphrase test in test_semdedup.py finds 100%).
- **Ensemble** (`q_neardup_ensemble`) is the production
  recommendation: the union of the exact-verified MinHash+Jaccard,
  embedding-LSH, and SemDeDup pair sets (SemDeDup reuses the cached
  IVF clustering, so the leg is nearly free). Each leg's misses are
  another leg's operating regime — SemDeDup's cross-cluster misses
  are LSH's bread and butter, LSH's near-threshold misses are often
  co-clustered — so the union's recall dominates the best single leg
  at the cost of one extra pair-key groupBy. Precision stays 1.0
  against each leg's own threshold because every emitted pair carries
  an exact verified score.
- **IVF/PQ** on uniform-random data have weak cluster structure to
  exploit; both recover most of the true top-10 via exact
  verification (IVF: exact cosine within probed lists; PQ: exact
  re-rank of 200 ADC finalists — the round-6 default, picked off the
  committed curve because rerank is the cheap leg: 200 exact d-dim
  re-scores per query vs the corpus-sized ADC scan).
- **IVF-PQ** composes both approximations (probe 8/16 lists, ADC
  within them, exact re-rank), so its recall is bounded above by each
  leg — the measured value ~= IVF's probe recall times PQ's in-list
  ranking loss. What the composition buys is COST: the ADC scan reads
  nprobe/k of the corpus in 8-byte codes (probe fraction x 32x
  compression multiply), the production trade at billion-vector scale;
  raise nprobe/rerank along the committed curves to buy recall back.
- **IVF trainer.** The IVF lists, which SemDeDup and the ensemble
  reuse, come from seeded numpy Lloyd over a bounded driver-side
  sample (`pq.unit_sample`, the PQ codebook recipe). They used to come
  from `pyspark.ml` KMeans (k-means|| init, 8 distributed rounds) over
  the whole corpus; the first `q_ivfpq_topk` call, which fills both
  ANN indexes, ran 30 Spark jobs then and runs 13 now (sf0.001,
  `local[2]`). One seed's 25 queries cannot tell the two trainers
  apart, so they were compared over seeds 1-20, each with the first
  200 queries of sf0.1, scored in numpy against brute force. IVF
  recall@10 at nprobe 8: mean 0.801 for KMeans, 0.800 for Lloyd
  (per-seed sd 0.010 and 0.007). SemDeDup co-cluster pair recall:
  0.288 against 0.279 (sd 0.014 and 0.017). KMeans buys that with less
  balanced clusters: sum(size^2)/n^2 is 0.0682 against 0.0629, so it
  pays about 8% more within-cluster comparisons.

The floor tests (tests/test_recall_floors.py + the cited suites) pin
these numbers with slack at sf0.001 so a regression in any
approximate path fails pytest, not a 100 TB production run.
"""
    (Path(__file__).resolve().parents[1] / "RECALL.md").write_text(md)
    print("wrote RECALL.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
