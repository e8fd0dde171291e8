"""Audit the physical plans of driver-window queries for scale hazards.

Round 11 did this by hand; this makes it a per-round command. For every
query in ``registry.driver_window`` (or a -q subset) it builds the
DataFrame at the given sf_dir, renders ``explain('formatted')``, and flags:

- ``Exchange SinglePartition`` — the 100 TB cliff: every row through one
  task (global windows, coalesce(1), global sorts). A bounded number of
  1-row stat frames is fine; anything fed by a table scan is not.
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — unbounded pair
  blowups unless one side is a literal/stat frame.
- parquet scans with no ``PushedFilters`` AND no ``ReadSchema`` pruning
  when the query obviously projects (informational only — scan-wide
  queries legitimately read everything).

Exit code 1 if any NEW hazard appears outside the committed allowlist.
Streaming queries (tagged 'streaming') EXECUTE under a micro-batch plan
capture (event_stream.capture_streaming_plans): every stream the query
runs records its last trigger's physical plan via explainInternal, and
those plans are audited with the same hazard markers alongside the
returned batch frame's plan (VERDICT r13 item 5 — previously the only
registry corner no machine audit covered). foreachBatch gate BODIES are
not separately captured: each gate composes already-audited batch
operators (lake_upsert -> q_merge_upsert, dq monitor -> q_dq_checks,
edge lake -> q_click_edges + append, stateful sinks ->
write_stream_parquet/merge per-batch twins) — the documented waiver.
Queries that EXECUTE work at build time (lake builders) still run;
their returned frame's plan is what ships to the driver.

Usage: python scripts/plan_audit.py [--sf /root/testdata/sf0.01] [-q a,b]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from udacity_data_engineering_spark.plans.registry import (
    all_queries,
    driver_window,
)
from udacity_data_engineering_spark.session import build_session

#: (query, marker) pairs that are audited-and-accepted: the marker is
#: structurally bounded (1-row stat frames, k-row model frames, a final
#: driver-bound top-k) — each entry must say WHY it is safe.
ALLOWLIST: dict[tuple[str, str], str] = {
    # 1-row broadcast stats frames joined to the corpus (SCALE.md r11
    # audit: Spark plans crossJoin(broadcast(<1-row frame>)) as a BNLJ
    # over ONE broadcast row — bounded by construction)
    ("q_skew_report", "BroadcastNestedLoopJoin"):
        "1-row global stats frame cross-joined for ratio columns",
    # the deliberate all-pairs ground-truth leg: oracle_only-tagged AND
    # oracle_scale_guard refuses inputs above the row ceiling; the scale
    # path is q_embedding_neardup_lsh (banded, never all-pairs)
    ("q_embedding_neardup", "BroadcastNestedLoopJoin"):
        "guarded exact all-pairs oracle shape; LSH variant is the scale path",
    ("q_cms_estimates", "BroadcastNestedLoopJoin"):
        "1-row corpus-total frame cross-joined for the heavy-token threshold",
    # the bloom prefilter broadcasts its whole bitmap as ONE packed
    # word_idx->bits map row (<= m_bits/64 entries) and tests all k bit
    # probes in a single map-side filter — fan-out exactly 1 per probe row
    ("q_decontaminate_bloom", "BroadcastNestedLoopJoin"):
        "1-row packed bloom-bitmap frame cross-joined; bounded by m_bits/64",
    ("q_export_pipeline", "BroadcastNestedLoopJoin"):
        "same 1-row packed bloom-bitmap frame (decontaminate_bloom stage)",
    # bloom_join prefilters through the identical packed-bitmap pattern:
    # the BNLJ's build side is ONE row of <= m_bits/64 map entries
    ("q_bloom_join", "BroadcastNestedLoopJoin"):
        "1-row packed bloom-bitmap frame cross-joined; bounded by m_bits/64",
}

# Registry-wide audit triage (round 13, the first full-registry run):
# every BNLJ below has a build side bounded by CONSTRUCTION — a 1-row
# aggregate output (global stats/totals/thresholds), a single query
# vector, a <= |sources| budget frame, or a committed fixture — never a
# corpus-sized relation. Each site was read in the executed plan during
# the r13 triage; the VERDICT r12 anti-pattern sweep independently
# verified the same 20 crossJoin call sites.
_BOUNDED_STAT_BNLJ = {
    "q_bm25": "1-row corpus stats frame (N, avg doclen) for the idf/norm",
    "q_charlm_score": "1-row model-normalization frame (trigram total)",
    "q_chisq_lang_source": "1-row corpus-total frame for expected counts",
    "q_cosine_topk": "1-row query-vector frame (vec_id=0)",
    "q_curation_pipeline": "1-row stats frames inside the composed stages",
    "q_dsir_mix": "1-row feature-total frames for the log-ratio weights",
    "q_hybrid_rrf": "1-row query frames on both retrieval legs",
    "q_idle_customers": "TPC-H Q22 scalar subquery: 1-row avg(acctbal)",
    "q_important_parts": "TPC-H Q11 scalar subquery: 1-row value threshold",
    "q_length_outliers": "1-row ungrouped percentile-band frame",
    "q_mmr_rerank": "1-row query vector + top-20 capped candidate frame",
    "q_multimodal_dhash_pairs": "committed media fixture all-pairs ground "
        "truth; corpus scale feeds simhash_banded instead (doc contract)",
    "q_neardup_drop_accounting": "1-row per-frontier cap/total audit frames",
    "q_negative_samples": "1-row corpus-count frame for the Knuth-hash mod",
    "q_pmi_pairs": "1-row corpus token-total frame for the PMI denominator",
    "q_quality_deciles": "with_total_count 1-row frame (exact ntile)",
    "q_quality_ensemble": "with_total_count 1-row frames per signal leg",
    "q_source_divergence": "1-row blend-total frame for the KL terms",
    "q_token_budget_mix": "<= |sources|-row budget frame (20 sources)",
    "q_token_budget_mix_bpe": "same budget frame, BPE token units",
}
ALLOWLIST.update(
    {(n, "BroadcastNestedLoopJoin"): why for n, why in _BOUNDED_STAT_BNLJ.items()}
)

# Python-worker hops, triaged r15 (the markers' first full-registry run).
# Every entry is a DELIBERATE Arrow-batched kernel for semantics the
# builtin functions can't express — never a row expression that drifted
# into Python. The allowlist names the kernel so a NEW hop in any of
# these queries' other stages still flags.
_DELIBERATE_ARROW = {
    "q_epoch_to_ts_udf": "reference-parity scalar UDF BY DESIGN (etl.py "
        "epoch->ts shape; Spark 4 runs it Arrow-optimized); the builtin "
        "twin q_epoch_to_ts is the production path",
    "q_minhash_candidates": "minhash signature kernel (similarity.py:288 "
        "pandas_udf) — vectorized 32-perm signatures, no builtin exists",
    "q_neardup_pipeline": "same minhash signature kernel (composes "
        "q_minhash_candidates' candidate stage)",
    "q_incremental_neardup": "same minhash signature kernel, batch side "
        "fingerprinted once against the persisted band index",
    "q_embedding_neardup_lsh": "hyperplane-LSH bucket kernel "
        "(neardup.py:518 pandas_udf) — per-table signed projections",
    "q_neardup_drop_accounting": "audits the capped frontiers by RUNNING "
        "the minhash + embedding-LSH legs; inherits both kernels",
    "q_pq_topk": "PQ encode/ADC kernel (pq.py:116 pandas_udf) — "
        "subspace-codebook quantization is numpy-shaped by nature",
    "q_pq_topk_exhaustive": "same PQ kernel, rerank=corpus verification "
        "knob",
    "q_ivfpq_topk": "same PQ kernel behind the IVF probe routing",
}
ALLOWLIST.update(
    {(n, "ArrowEvalPython"): why for n, why in _DELIBERATE_ARROW.items()}
)
ALLOWLIST[("q_udtf_ngrams", "BatchEvalPython")] = (
    "Python UDTF surface query BY DESIGN (BatchEvalPythonUDTF node "
    "contains the BatchEvalPython marker); oracle-proven expansion"
)


def audit_plan(name: str, plan: str) -> list[str]:
    hazards = []
    for marker in (
        "Exchange SinglePartition",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        # Python-worker hops (VERDICT r14 item 5): a row-at-a-time or
        # scalar-pandas UDF in a hot path is the silent 10-100x tax —
        # every occurrence must be a DELIBERATE, allowlisted kernel.
        # (BatchEvalPythonUDTF contains "BatchEvalPython": UDTF sites
        # allowlist under the same marker.)
        "BatchEvalPython",
        "ArrowEvalPython",
    ):
        if marker in plan and (name, marker) not in ALLOWLIST:
            hazards.append(marker)
    return hazards


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-q", "--queries", default="")
    ap.add_argument("--show", action="store_true", help="print flagged plans")
    ap.add_argument(
        "--all",
        action="store_true",
        help="audit the FULL registry, not just the driver window; a "
        "zero-hazard full run stamps PLAN_AUDIT.json (drift-guarded by "
        "tests/test_plan_audit_stamp.py, the SWEEP.json pattern) — the "
        "round-12 lesson that 200+ registered-but-never-audited plans "
        "are where the next scale-killer hides",
    )
    args = ap.parse_args()

    spark = build_session(app_name="plan-audit")
    manifest = all_queries()
    wanted = [s for s in args.queries.split(",") if s] or list(
        manifest if args.all else driver_window(manifest)
    )

    from udacity_data_engineering_spark.streaming.event_stream import (
        capture_streaming_plans,
    )

    flagged: dict[str, list[str]] = {}
    n_micro_batch_plans = 0
    for name in wanted:
        q = manifest[name]
        streaming = "streaming" in q.tags
        micro_plans: list[tuple[str, str]] = []
        try:
            if streaming:
                with capture_streaming_plans() as micro_plans:
                    df = q.fn(spark, args.sf)
            else:
                df = q.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            flagged[name] = [f"explain error: {type(e).__name__}: {e}"]
            print(f"ERR  {name}: {flagged[name][0]}")
            continue
        hazards = audit_plan(name, plan)
        shown = [plan] if hazards else []
        for label, splan in micro_plans:
            n_micro_batch_plans += 1
            micro_hazards = audit_plan(name, splan)
            if micro_hazards:
                shown.append(splan)
            hazards += [f"{h} (micro-batch {label})" for h in micro_hazards]
        if hazards:
            flagged[name] = hazards
            print(f"FLAG {name}: {', '.join(hazards)}")
            if args.show:
                for p in shown:
                    print(p)
        else:
            suffix = (
                f" (+{len(micro_plans)} micro-batch plans)" if streaming else ""
            )
            print(f"ok   {name}{suffix}")

    print(f"\n{len(flagged)} flagged" + (f": {sorted(flagged)}" if flagged else ""))
    if args.all and not args.queries and not flagged:
        import hashlib
        import json

        names = sorted(manifest)
        stamp = {
            "registry_count": len(names),
            "names_sha256": hashlib.sha256("\n".join(names).encode()).hexdigest(),
            "sf": args.sf,
            "audited": len(wanted),
            "skipped_streaming": 0,
            "streaming_audited": sum(
                1 for n in wanted if "streaming" in manifest[n].tags
            ),
            "micro_batch_plans": n_micro_batch_plans,
            "flagged": 0,
        }
        out = Path(__file__).resolve().parents[1] / "PLAN_AUDIT.json"
        out.write_text(json.dumps(stamp, indent=1) + "\n")
        print(f"stamped {out}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
