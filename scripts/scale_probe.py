"""Scale probe: measure how the core operator shapes scale from sf0.1
(600k lineitem rows) to a 10x replica (6M rows) built in /tmp.

Near-1x time ratios per row (i.e. total time ratio near 10x or below on
a machine with idle cores) indicate the shape is shuffle/scan-bound the
way it should be; super-linear ratios flag a shape that would not
survive a cluster scale-up. Results are recorded in SCALE.md.

Usage: python scripts/scale_probe.py [replication_factor]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from udacity_data_engineering_spark.session import build_session, table

SF_DIR = "/root/testdata/sf0.1"
FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 10
#: optional comma-separated shape-name filter: scale_probe.py 100 name1,name2
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
BASE = f"/tmp/scale_probe_x{FACTOR}"

#: per-label setup memo for shapes whose index/model build must sit
#: outside the timed region (the build_nd_indexes posture)
_MEMO: dict = {}


def build_replica(spark) -> None:
    if os.path.exists(f"{BASE}/_done"):
        return
    for name, key_cols in (
        ("lineitem", ["l_orderkey"]),
        ("orders", ["o_orderkey", "o_custkey"]),
        ("events", ["event_id", "user_id"]),
        ("documents", ["doc_id"]),
        ("embeddings", ["vec_id"]),
    ):
        df = table(spark, SF_DIR, name)
        parts = []
        for i in range(FACTOR):
            shifted = df
            for k in key_cols:
                shifted = shifted.withColumn(k, F.col(k) + F.lit(i * 10_000_000))
            parts.append(shifted)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(f"{BASE}/{name}")
    Path(f"{BASE}/_done").touch()


def nd_batch_docs(spark):
    """The FIXED incremental-near-dup batch: a deterministic ~1/20
    slice of the sf0.1 corpus (odd ids — disjoint from every lake,
    whose ids are even; the replica's +i*10M shift preserves parity).
    The batch must stay CONSTANT across 1x/Nx so the probe measures the
    operator's contract — cost scales with the batch, not the lake."""
    docs = table(spark, SF_DIR, "documents")
    return docs.filter(F.col("doc_id") % 20 == 1)


def build_nd_indexes(spark, label: str, docs) -> str:
    """Persist the near-dup lake state for ``docs``'s even-id half —
    OUTSIDE the timed region, because write-once index construction is
    the amortized cost the incremental operators exist to avoid paying
    per batch. Writes {dir}/bands + {dir}/fps (MinHash) and
    {dir}/simbands (SimHash signature band index)."""
    from udacity_data_engineering_spark.operators.incremental import (
        fingerprint_ids,
        minhash_lake_index,
        simhash_lake_index,
    )

    from udacity_data_engineering_spark.operators.substrings import (
        substring_lake_index,
    )

    out = f"{BASE}/nd_index_{label}"
    lake = docs.filter(F.col("doc_id") % 2 == 0)
    if not os.path.exists(f"{out}/_done"):
        minhash_lake_index(lake).write.mode("overwrite").parquet(f"{out}/bands")
        fingerprint_ids(lake).write.mode("overwrite").parquet(f"{out}/fps")
        simhash_lake_index(lake).write.mode("overwrite").parquet(
            f"{out}/simbands"
        )
        Path(f"{out}/_done").touch()
    # round 9c: substring span-digest state — guarded separately from
    # _done so replicas built before this shape existed still get it
    if not os.path.exists(f"{out}/spanfps/_SUCCESS"):
        substring_lake_index(lake, keep_mod=4).write.mode(
            "overwrite"
        ).parquet(f"{out}/spanfps")
    return out


def _funnel(ev):
    """q_funnel's exact plan over an arbitrary events frame."""
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    return signups.join(purchases, "user_id", "left").select(
        "user_id",
        "signup_ts",
        "first_purchase_ts",
        F.col("first_purchase_ts").isNotNull().alias("converted"),
    )


def _retention(ev):
    """q_retention_cohorts' exact plan over an arbitrary events frame."""
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _bitmap_sparse_shape(t):
    from udacity_data_engineering_spark.operators.bitmap import (
        bitmap_distinct_sparse,
    )
    from udacity_data_engineering_spark.operators.dimension import (
        assign_surrogate_keys,
    )

    spark = t["customer"].sparkSession
    key = "sparse_dict"
    if key not in _MEMO:
        # one shared dictionary: the replica folds onto the same c_name
        # domain, so both labels encode through identical state
        import tempfile

        dict_path = tempfile.mkdtemp(prefix="probe_sparse_dict_") + "/d"
        assign_surrogate_keys(spark, dict_path, t["customer"], "c_name")
        _MEMO[key] = spark.read.schema("c_name string, sk long").parquet(
            dict_path
        ).localCheckpoint(eager=True)
    fact = t["orders"].join(
        t["customer"],
        t["orders"].o_custkey % 10_000_000 == t["customer"].c_custkey,
    ).select("o_orderstatus", "c_name")
    return bitmap_distinct_sparse(
        fact, _MEMO[key], "c_name", group_cols=("o_orderstatus",)
    ).collect()  # count() would prune the bit_or itself


def _combined_prune_shape(t):
    from udacity_data_engineering_spark.sources.skipping import (
        build_file_blooms,
        build_file_stats,
        prune_files_combined,
    )

    spark = t["customer"].sparkSession
    key = ("combined_manifests", t["orders_path"])
    if key not in _MEMO:
        path = t["orders_path"]
        stats = build_file_stats(spark, path, ["o_orderdate"]).localCheckpoint(
            eager=True
        )
        blooms = build_file_blooms(spark, path, "o_custkey").localCheckpoint(
            eager=True
        )
        lo, hi = (
            t["orders"].agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
        )
        _MEMO[key] = (stats, blooms, lo, hi)
    stats, blooms, lo, hi = _MEMO[key]
    kept, total, detail = prune_files_combined(
        spark, stats, blooms, "o_orderdate", lo, hi,
        "o_custkey", 1, eq_type="bigint",
    )
    return (len(kept), total)


def main() -> None:
    spark = build_session(app_name="scale-probe", cpus=32)
    build_replica(spark)
    small = {n: table(spark, SF_DIR, n) for n in ("lineitem", "orders", "events", "customer")}
    small["orders_path"] = f"{SF_DIR}/orders.parquet"
    big = {
        "lineitem": spark.read.parquet(f"{BASE}/lineitem"),
        "orders": spark.read.parquet(f"{BASE}/orders"),
        "events": spark.read.parquet(f"{BASE}/events"),
        "customer": small["customer"],  # dims stay dim-sized
        "orders_path": f"{BASE}/orders",
    }

    def shapes(t):
        def pagerank_8r():
            # round 10: iterative graph op — fixed ~100-page node set
            # (props.k), so per-round cost is the edges⋈ranks join whose
            # edge side is bounded by pages², and the EXTRACTION (lag
            # window + groupBy over the corpus) is the corpus-linear leg
            from udacity_data_engineering_spark.operators.graph import (
                click_edges,
                pagerank,
            )

            ev = t["events"]
            page = F.get_json_object("props", "$.k").cast("long")
            nodes = ev.select(page.alias("page")).distinct()
            ranks = pagerank(click_edges(ev), nodes)
            return ranks.agg(F.sum("pr")).collect()

        def pagerank_persisted_8r():
            # round 11 (VERDICT r10 #5): same iteration fed from the
            # PERSISTED edge lake — the corpus-linear extraction leg is
            # paid once in setup (the ingest-batch posture), so the
            # timed region is pure per-iteration cost and must be ~flat
            # in corpus size (the node set is fixed at ~100 pages)
            import tempfile

            from udacity_data_engineering_spark.operators.graph import (
                click_edge_lake,
                pagerank,
                read_click_edges,
            )

            ev = t["events"]
            label = "big" if t is big else "small"
            memo = _MEMO.get(("edge_lake", label))
            if memo is None:
                lake = tempfile.mkdtemp(prefix=f"probe_edges_{label}_")
                click_edge_lake(spark, lake, ev)
                # the node dim is persisted state too at a deployment
                # (built once per ingest batch alongside the edges) —
                # the timed region must be pure ITERATION cost
                page = F.get_json_object("props", "$.k").cast("long")
                nodes = (
                    ev.select(page.alias("page"))
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                memo = (lake, nodes)
                _MEMO[("edge_lake", label)] = memo
            lake, nodes = memo
            ranks = pagerank(read_click_edges(spark, lake), nodes)
            return ranks.agg(F.sum("pr")).collect()

        return {
            "pagerank_8r": pagerank_8r,
            "pagerank_persisted_8r": pagerank_persisted_8r,
            "scan_count": lambda: t["lineitem"].count(),
            "filter_project": lambda: t["lineitem"]
            .filter(F.col("l_shipdate") < "1996-01-01")
            .select("l_orderkey", "l_extendedprice")
            .count(),
            "groupby_agg": lambda: t["lineitem"]
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.avg("l_discount"))
            .collect(),
            "dedup_key": lambda: t["orders"].dropDuplicates(["o_custkey"]).count(),
            "join_agg": lambda: t["orders"]
            .join(small["customer"], t["orders"].o_custkey % 10_000_000 == small["customer"].c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum("o_totalprice"))
            .collect(),
            # round 9: grid-binned band join with the per-day aggregate
            # pushdown — per-day rollup input is linear, the join itself
            # is bounded by distinct days x 2, so the shape must scale
            # with the rollup scan, never with matched-pair volume
            "range_join_day_agg": lambda: t["lineitem"]
            .select(
                "l_quantity",
                F.datediff(
                    F.to_date("l_shipdate"), F.to_date(F.lit("1970-01-01"))
                ).alias("ld"),
            )
            .groupBy("ld")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
            .join(
                t["orders"].select(
                    "o_orderpriority",
                    F.explode(
                        F.array_distinct(
                            F.array(
                                F.floor(
                                    F.datediff(
                                        F.to_date("o_orderdate"),
                                        F.to_date(F.lit("1970-01-01")),
                                    )
                                    / 7
                                ),
                                F.floor(
                                    (
                                        F.datediff(
                                            F.to_date("o_orderdate"),
                                            F.to_date(F.lit("1970-01-01")),
                                        )
                                        + 6
                                    )
                                    / 7
                                ),
                            )
                        )
                    ).alias("__cell"),
                    F.datediff(
                        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
                    ).alias("od"),
                ),
                F.floor(F.col("ld") / 7) == F.col("__cell"),
            )
            .filter("ld >= od AND ld <= od + 6")
            .groupBy("o_orderpriority")
            .agg(F.sum("n"), F.sum("q"))
            .collect(),
            "window_rank": lambda: t["orders"]
            .withColumn(
                "rn",
                F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                        "o_custkey"
                    ).orderBy(F.col("o_totalprice").desc())
                ),
            )
            .filter("rn = 1")
            .count(),
            # round 12: the events-shaped analytics rotated into the r12
            # driver window — replica shifts user_id per copy, so Nx =
            # Nx users with constant per-user activity; all three must
            # scale with the events scan (two-phase agg + broadcastable
            # per-user anchors), never with users x weeks / grid width
            "funnel": lambda: _funnel(t["events"]).count(),
            "retention_cohorts": lambda: _retention(t["events"]).count(),
            "resample_interp": lambda: __import__(
                "udacity_data_engineering_spark.operators.asof",
                fromlist=["resample_interp"],
            )
            .resample_interp(
                t["events"], key="user_id", ts_col="ts",
                value_col="value", tiebreak="event_id",
            )
            .count(),
            # round 13: the sketch/fingerprint family — both must be
            # scan-bound with CONSTANT-size outputs (cells / accumulator
            # triples), so the time ratio per row must stay ~flat at Nx
            "quantile_sketch": lambda: __import__(
                "udacity_data_engineering_spark.operators.quantiles",
                fromlist=["quantile_sketch"],
            )
            .quantile_sketch(
                t["orders"], "o_totalprice", 0.0, 512000.0, 64,
                group_cols=("o_orderstatus",),
            )
            # collect, not count: count() lets Catalyst prune the agg
            # expressions (the q_dsir_mix bench lesson) — output is
            # <= 192 cells, safe to collect
            .collect(),
            "table_fingerprint": lambda: __import__(
                "udacity_data_engineering_spark.operators.integrity",
                fromlist=["table_fingerprint"],
            )
            .table_fingerprint(
                t["orders"],
                ["o_orderkey", "o_custkey", "o_orderstatus"],
                group_cols=("o_orderstatus",),
            )
            .collect(),  # count() would prune the hash fold entirely
            # round 13: interval overlap join with the per-day pushdown —
            # same scaling contract as range_join_day_agg (rollup scan
            # linear, join bounded by days x cells, never |L| x |R|)
            "interval_join": lambda: __import__(
                "udacity_data_engineering_spark.operators.asof",
                fromlist=["interval_join_binned"],
            )
            .interval_join_binned(
                t["lineitem"]
                .select(
                    "l_quantity",
                    F.datediff(
                        F.to_date("l_shipdate"), F.to_date(F.lit("1970-01-01"))
                    ).alias("ld"),
                )
                .groupBy("ld")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.col("ld").alias("ls"), (F.col("ld") + 2).alias("le"), "n"
                ),
                t["orders"].select(
                    "o_orderpriority",
                    F.datediff(
                        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
                    ).alias("os"),
                    (
                        F.datediff(
                            F.to_date("o_orderdate"),
                            F.to_date(F.lit("1970-01-01")),
                        )
                        + 3
                    ).alias("oe"),
                ),
                "ls", "le", "os", "oe", cell=4,
            )
            .groupBy("o_orderpriority")
            .agg(F.sum("n"))
            .collect(),
            # round 14: the bitmap sketch must stay scan-bound with an
            # output bounded by the id DOMAIN (replication keeps the
            # custkey domain fixed, so output size is CONSTANT at any N)
            "bitmap_distinct": lambda: __import__(
                "udacity_data_engineering_spark.operators.bitmap",
                fromlist=["bitmap_distinct_sketch"],
            )
            .bitmap_distinct_sketch(
                t["orders"], "o_custkey", group_cols=("o_orderstatus",)
            )
            .collect(),  # count() would prune the bit_or itself
            # round 14: N chained conditional min-windows over one
            # partitioning — one shuffle regardless of step count
            "funnel_ordered": lambda: __import__(
                "udacity_data_engineering_spark.operators.product_analytics",
                fromlist=["funnel_ordered"],
            )
            .funnel_ordered(t["events"], ["view", "click", "purchase"])
            .collect(),
            # round 14: one hash aggregate; per-key sort_array cost grows
            # with per-key events under replication (documented: session-
            # window upstream for celebrity keys), so expect ~linear time
            "event_paths": lambda: __import__(
                "udacity_data_engineering_spark.operators.product_analytics",
                fromlist=["event_paths"],
            )
            .event_paths(t["events"])
            .count(),  # row count is per-user; the agg can't be pruned
            # round 14: manifest build is one scan with <= 1 row/file out
            "file_stats_build": lambda: __import__(
                "udacity_data_engineering_spark.sources.skipping",
                fromlist=["build_file_stats"],
            )
            .build_file_stats(
                t["orders"].sparkSession,
                t["orders_path"],
                ["o_orderdate"],
            )
            .collect(),
            # round 14: bloom manifest build — one scan, k probe rows per
            # input row, <= m_bits/64 cells per FILE out
            "bloom_index_build": lambda: __import__(
                "udacity_data_engineering_spark.sources.skipping",
                fromlist=["build_file_blooms"],
            )
            .build_file_blooms(
                t["orders"].sparkSession, t["orders_path"], "o_custkey"
            )
            .collect(),
            # round 14: the distributed range-partition rank behind the
            # surrogate-key service — one range shuffle + bounded offsets
            # (round 15: the partitioning is now pinned with an eager
            # localCheckpoint before the counts collect — one extra
            # materialization pass, still scan-linear)
            "global_rank_str": lambda: __import__(
                "udacity_data_engineering_spark.operators.dimension",
                fromlist=["global_rank_orderable"],
            )
            .global_rank_orderable(
                t["orders"].select(
                    F.col("o_orderkey").cast("string").alias("v")
                ),
                "v",
            )
            .count(),
            # round 15: sparse bitmap distinct — the dictionary is
            # persisted state (built once, memoized outside the timed
            # region, like the nd indexes); timed = encode join + sketch.
            # The name domain is FIXED under replication (custkey % 10M
            # folds replicas onto the 1x customer dim), so output cells
            # are constant and the shape must stay scan/shuffle-bound
            "bitmap_distinct_sparse": lambda: _bitmap_sparse_shape(t),
            # round 15: the unified manifest+bloom prune — a pure
            # file-list pass over two bounded manifests (memoized builds;
            # file COUNT is fixed under replication, file size grows), so
            # prune time must stay ~FLAT at any data volume: that
            # flatness IS the operator's 100 TB claim
            "combined_prune": lambda: _combined_prune_shape(t),
        }

    def pipeline_shapes(docs, emb, k_clusters, nd_index_dir, nd_batch):
        """LLM-pipeline shapes. k_clusters scales with the corpus so the
        per-cluster GEMM in semantic dedup stays constant-sized — the
        documented SemDeDup discipline (corpus/k <= cap)."""
        from udacity_data_engineering_spark.operators.components import (
            neardup_survivors,
        )
        from udacity_data_engineering_spark.operators.incremental import (
            corpus_fingerprints,
            incremental_dedup,
        )
        from udacity_data_engineering_spark.operators.pq import pq_encode, pq_train
        from udacity_data_engineering_spark.operators.semdedup import semantic_dedup

        def inc():
            corpus = corpus_fingerprints(docs.filter(F.col("doc_id") % 2 == 0))
            return incremental_dedup(docs.filter(F.col("doc_id") % 2 == 1), corpus).count()

        def mh():
            return neardup_survivors(docs).count()

        def pq():
            books = pq_train(emb, sample_n=2000)
            return pq_encode(emb, books).select(F.sum(F.element_at("codes", 1))).collect()

        def sem():
            return semantic_dedup(emb, k=k_clusters).count()

        def sh():
            # the replica repeats every text FACTOR times with new ids, so
            # this stresses exactly the clique path the 64-bit redesign
            # added: FACTOR-sized identical-signature groups collapse to
            # one banded row each, with intra pairs streamed per clique
            from udacity_data_engineering_spark.operators.neardup import (
                simhash_candidates,
            )

            return simhash_candidates(docs).count()

        def mh_ordered():
            # the documented pipeline ordering: exact dedup consumes the
            # identical-content cliques FIRST, so MinHash banding never
            # sees them. On the all-duplicates replica this is the knob
            # that turns the 100x probe's one super-linear cliff (130x,
            # SCALE.md round-6 section) back into a sub-linear shape —
            # keep both variants measured so the cliff stays visible.
            from udacity_data_engineering_spark.operators.dedup import (
                dedup_exact,
            )

            exact = dedup_exact(docs, "text", ["doc_id"]).localCheckpoint(
                eager=True
            )
            try:
                return neardup_survivors(exact).count()
            finally:
                exact.unpersist()

        def spans():
            # O(words) digest shuffle; the replica's 100-member duplicate
            # cliques make every span a hot-but-linear digest group
            from udacity_data_engineering_spark.operators.substrings import (
                duplicate_spans,
            )

            return duplicate_spans(docs).count()

        def lm():
            # O(chars) trigram explode + Zipfian-key model join
            from udacity_data_engineering_spark.operators.charlm import (
                charlm_score,
            )

            return charlm_score(docs).count()

        def knn():
            # batch top-k for 5 queries: one GEMM scan + tiny merge —
            # the shape that must stay corpus-linear (never corpus x
            # queries shuffle)
            from udacity_data_engineering_spark.operators.knn import knn_join

            qrows = (
                emb.filter(F.col("vec_id") % 10_000_000 < 5)
                .limit(5)
                .select("vec_id", F.col("embedding").cast("array<double>"))
                .collect()
            )
            qs = [(r[0], list(r[1])) for r in qrows]
            return knn_join(emb, qs).count()

        def sh_groups():
            # round 8: the group-granular emission (expand_pairs=False)
            # — connectivity-equivalent graph without the C(m,2)
            # intra-clique pair VOLUME that made the expanded surface's
            # probe row output-bound (18.5x, SCALE.md round 7)
            from udacity_data_engineering_spark.operators.neardup import (
                simhash_candidates,
            )

            return simhash_candidates(docs, expand_pairs=False).count()

        def ens():
            # round 8: the production recommendation end-to-end — three
            # bucketed legs + pair-key groupBy (IVF clustering computed
            # inside, k scaled with the corpus)
            from udacity_data_engineering_spark.operators.ann import ivf_assign
            from udacity_data_engineering_spark.operators.ensemble import (
                neardup_ensemble,
            )

            assigned, _ = ivf_assign(emb, k=k_clusters)
            return neardup_ensemble(docs, emb, assigned=assigned).count()

        def ens_surv():
            from udacity_data_engineering_spark.operators.ann import ivf_assign
            from udacity_data_engineering_spark.operators.ensemble import (
                ensemble_survivors,
            )

            assigned, _ = ivf_assign(emb, k=k_clusters)
            return ensemble_survivors(docs, emb, assigned=assigned).count()

        def inc_nd():
            # round 8: incremental near-dup — a FIXED small batch probes
            # the PERSISTED lake band/fingerprint tables (built once in
            # setup, outside the timed region: that is the operator's
            # whole contract). Timed cost must scale with the batch, so
            # the 1x -> Nx ratio should stay near the cost of scanning
            # the (columnar, text-free) index tables, never near N.
            from udacity_data_engineering_spark.operators.incremental import (
                incremental_neardup,
            )

            return incremental_neardup(
                nd_batch,
                docs.filter(F.col("doc_id") % 2 == 0),
                spark.read.parquet(f"{nd_index_dir}/bands"),
                spark.read.parquet(f"{nd_index_dir}/fps"),
            ).count()

        def inc_sh():
            # round 9: incremental SimHash — same fixed batch probing
            # the persisted signature band index; batch-lake
            # verification is pure Hamming arithmetic, zero lake text
            # reads, so the growth law should be index-scan-bound.
            from udacity_data_engineering_spark.operators.incremental import (
                incremental_simhash,
            )

            return incremental_simhash(
                nd_batch, spark.read.parquet(f"{nd_index_dir}/simbands")
            ).count()

        def inc_ss():
            # round 9c: incremental substring dedup — the fixed batch
            # fingerprints its own (winnowed) windows and semi-joins the
            # persisted span-digest state; growth should track the
            # columnar digest-index scan, never re-fingerprint the lake
            from udacity_data_engineering_spark.operators.substrings import (
                incremental_substring_flags,
            )

            return incremental_substring_flags(
                nd_batch,
                spark.read.parquet(f"{nd_index_dir}/spanfps"),
                keep_mod=4,
            ).count()

        def ws():
            # round 9: weighted sample — scan-side priorities + top-k
            # heaps; must stay scan-bound
            from udacity_data_engineering_spark.operators.sampling import (
                priority_sample,
            )

            return priority_sample(docs, "n_chars", 200).count()

        def dsir():
            # round 9: corpus-linear explode + 256-row broadcast model
            from udacity_data_engineering_spark.operators.dsir import (
                dsir_scores,
            )

            # sum(lr), not count(): count lets Catalyst prune the whole
            # log-ratio computation out of the plan (measured: 0.19 s
            # "processing" 40M words — it wasn't)
            return (
                dsir_scores(docs, F.col("lang") == "en")
                .agg(F.sum("lr"))
                .collect()
            )

        def ranges():
            # round 9: duplicated-range coalescing — span digests +
            # per-doc gaps-and-islands window
            from udacity_data_engineering_spark.operators.substrings import (
                duplicate_ranges,
            )

            return duplicate_ranges(docs).count()

        def scrub():
            # round 9: the removal step — on the all-duplicates replica
            # ~99% of docs are non-keepers, so coverage expansion and
            # reassembly touch nearly every word: the worst case for
            # this shape, still corpus-linear by construction
            from udacity_data_engineering_spark.operators.substrings import (
                scrub_duplicate_spans,
            )

            # force the reassembly: count() would column-prune the
            # collect_list/concat_ws aggregate away
            return (
                scrub_duplicate_spans(docs)
                .agg(F.sum(F.length("scrubbed")), F.sum("n_removed"))
                .collect()
            )

        def kmeans_4r():
            # round 10: Lloyd training — per round one Arrow assignment
            # scan + a k·dim partial aggregate; model stays driver-sized
            from udacity_data_engineering_spark.operators.kmeans import (
                kmeans_train,
            )

            assigned, centers = kmeans_train(emb, k=8, iters=4)
            return assigned.groupBy("cluster").count().collect()

        def mmr():
            # round 10: relevance leg scans the corpus (broadcast query
            # vector), top-N candidate cut is per-partition heaps, the
            # greedy itself touches only MMR_TOP_N rows
            from udacity_data_engineering_spark.operators.mmr import (
                MMR_TOP_N,
                mmr_rerank,
            )
            from udacity_data_engineering_spark.operators.similarity import (
                cosine,
            )

            embd = emb.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
            q = embd.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
            cands = (
                embd.filter(F.col("vec_id") != 0)
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
            return mmr_rerank(cands).agg(F.sum("mmr")).collect()

        def hh():
            # round 10: exact heavy hitters — local pigeonhole pass
            # (map-only Arrow) + candidate-semi-join recount
            from udacity_data_engineering_spark.operators.heavyhitters import (
                heavy_hitters,
            )

            return heavy_hitters(docs, k=200).agg(F.sum("cnt")).collect()

        def grank():
            # round 10: distributed two-phase exact global rank — the
            # WindowExec-free replacement; must scale as two scans + a
            # B-way partitioned window
            from udacity_data_engineering_spark.operators.ranking import (
                exact_global_rank,
            )

            return (
                exact_global_rank(docs, "n_chars", "doc_id", out="rn")
                .agg(F.sum("rn"))
                .collect()
            )

        def deciles():
            from udacity_data_engineering_spark.operators.ranking import (
                sql_ntile,
            )

            return (
                sql_ntile(docs, "n_chars", "doc_id", 10, out="d")
                .groupBy("d")
                .count()
                .collect()
            )

        def pmi():
            # round 10: per-doc pair generation bounded by min(|doc|,V)²
            from udacity_data_engineering_spark.operators.cooccur import (
                pmi_pairs,
            )

            return pmi_pairs(docs, vocab_k=1000, min_pair_docs=5).agg(
                F.sum("pmi")
            ).collect()

        def srcdiv():
            from udacity_data_engineering_spark.operators.cooccur import (
                source_divergence,
            )

            return source_divergence(docs).agg(F.sum("kl_div")).collect()

        def kmeans_assign_batch():
            # round 10: batch-vs-lake contract — the FIXED 1x batch is
            # assigned against a model trained on THIS label's lake
            # (training memoized outside the timed region, the
            # build_nd_indexes posture): timed cost must track the
            # batch, not the lake
            from udacity_data_engineering_spark.operators.kmeans import (
                kmeans_assign,
                kmeans_train,
            )

            key = ("kmeans_model", id(emb))
            if key not in _MEMO:
                _, centers = kmeans_train(emb, k=8, iters=4)
                _MEMO[key] = centers
            fixed_batch = table(spark, SF_DIR, "embeddings")
            return (
                kmeans_assign(fixed_batch, _MEMO[key])
                .groupBy("cluster")
                .count()
                .collect()
            )

        def ivfpq():
            # round 10: composite ANN — indexes built once per label
            # outside timing; timed = probe + in-list ADC scan + rerank
            # (expected sub-linear: nprobe/k of the corpus in 8-byte
            # codes)
            from udacity_data_engineering_spark.operators.ann import ivf_assign
            from udacity_data_engineering_spark.operators.pq import (
                ivfpq_topk,
                pq_encode,
                pq_train,
            )

            key = ("ivfpq_index", id(emb))
            if key not in _MEMO:
                assigned, centers = ivf_assign(emb, k=16)
                books = pq_train(emb)
                encoded = pq_encode(emb, books).localCheckpoint()
                _MEMO[key] = (assigned.localCheckpoint(), centers, encoded, books)
            assigned, centers, encoded, books = _MEMO[key]
            qvec = [
                float(x)
                for x in emb.filter(F.col("vec_id") == 0).head().embedding
            ]
            return ivfpq_topk(
                encoded, emb, assigned, centers, qvec, codebooks=books,
                exclude_vec_id=0,
            ).collect()

        def rrf():
            # round 9: hybrid retrieval — both legs scan once, fusion is
            # a bounded join of two <=100-row frames
            from udacity_data_engineering_spark.operators.hybrid import (
                rrf_fuse,
            )
            from udacity_data_engineering_spark.operators.similarity import (
                cosine,
            )
            from udacity_data_engineering_spark.operators.text import bm25

            lex = bm25(docs, ["spark", "join", "filter"])
            embd = emb.withColumn(
                "emb_d", F.col("embedding").cast("array<double>")
            )
            qv = embd.filter(F.col("vec_id") % 10_000_000 == 0).limit(1).select(
                F.col("emb_d").alias("q_emb")
            )
            dense = embd.crossJoin(F.broadcast(qv)).select(
                "vec_id",
                F.round(cosine("emb_d", "q_emb"), 6).alias("cs"),
            )
            return rrf_fuse(
                [(lex, "doc_id", "bm25"), (dense, "vec_id", "cs")]
            ).count()

        def bloom_decon():
            # round 12: bloom-prefiltered decontamination — the replica
            # multiplies BOTH sides (bench grows with the corpus here),
            # but the broadcast stays the fixed-size bitmap; time must
            # track the corpus-linear shingle explode, never bench size
            from udacity_data_engineering_spark.operators.contamination import (
                decontaminate_bloom,
            )

            bench = docs.filter(F.col("doc_id") % 100 == 7)
            corpus = docs.filter(F.col("doc_id") % 100 != 7)
            return decontaminate_bloom(corpus, bench, n=4).count()

        def shard_assign():
            # round 12: balanced shard assignment — two-phase global rank
            # (quantile freeze + bucketed windows); corpus-linear, no
            # single-partition window to cliff at scale
            from udacity_data_engineering_spark.operators.sharding import (
                shard_by_token_budget,
            )

            return (
                shard_by_token_budget(docs, 8)
                .groupBy("shard")
                .agg(F.sum("n_tokens"))
                .count()
            )

        def export_pipe():
            # round 12 flagship: quality -> exact dedup -> bloom decon ->
            # balanced sharding as one plan. The replica repeats every
            # text, so exact dedup collapses the survivor set back to ~1x
            # — but the corpus-side work (gopher signals, fingerprint
            # shuffle, shingle explode) is the full Nx
            from udacity_data_engineering_spark.operators.contamination import (
                decontaminate_bloom,
            )
            from udacity_data_engineering_spark.operators.dedup import dedup_exact
            from udacity_data_engineering_spark.operators.quality import (
                gopher_signals,
            )
            from udacity_data_engineering_spark.operators.sharding import (
                shard_by_token_budget,
            )

            bench = docs.filter(F.col("doc_id") % 100 == 7)
            corpus = docs.filter(F.col("doc_id") % 100 != 7)
            kept = (
                gopher_signals(corpus, carry=("text",))
                .filter(F.col("keep"))
                .select("doc_id", "text")
            )
            survivors = dedup_exact(kept, "text", ["doc_id"])
            contaminated = decontaminate_bloom(survivors, bench, n=4).select("doc_id")
            clean = survivors.join(
                contaminated, "doc_id", "left_anti"
            ).localCheckpoint()
            return (
                shard_by_token_budget(clean, 8)
                .groupBy("shard")
                .agg(F.sum("n_tokens"))
                .count()
            )

        def jl_project():
            # round 12: JL random projection — map-only (literal +-1 rows,
            # codegen folds); must scale exactly with the scan
            from udacity_data_engineering_spark.operators.embeddings_ops import (
                random_projection,
            )

            return random_projection(emb, r=8).count()

        return {
            "kmeans_train_4r": kmeans_4r,
            "bloom_decontaminate": bloom_decon,
            "shard_assign": shard_assign,
            "random_projection": jl_project,
            "export_pipeline": export_pipe,
            "kmeans_assign_batch": kmeans_assign_batch,
            "ivfpq_topk": ivfpq,
            "mmr_rerank": mmr,
            "heavy_hitters": hh,
            "global_rank": grank,
            "quality_deciles": deciles,
            "pmi_pairs": pmi,
            "source_divergence": srcdiv,
            "incremental_dedup": inc,
            "weighted_sample": ws,
            "dsir_scores": dsir,
            "substring_ranges": ranges,
            "substring_scrub": scrub,
            "hybrid_rrf": rrf,
            "minhash_survivors": mh,
            "minhash_survivors_dedup_first": mh_ordered,
            "pq_train_encode": pq,
            "semantic_dedup": sem,
            "simhash_candidates": sh,
            "simhash_candidates_groups": sh_groups,
            "substring_dupes": spans,
            "charlm_score": lm,
            "knn_join": knn,
            "ensemble_pairs": ens,
            "ensemble_survivors": ens_surv,
            "incremental_neardup": inc_nd,
            "incremental_simhash": inc_sh,
            "incremental_substring": inc_ss,
        }

    def stream_ingest(src_dir: str, mfpt: int = 4, agg: str = "tumbling") -> dict:
        """One bounded multi-batch watermarked streaming ingest
        (maxFilesPerTrigger=mfpt, tumbling 1h windows, 2h watermark,
        noop sink in update mode — pure ingest+state cost, no sink
        materialization). Returns wall time, rows/sec, batch count and
        PEAK stateOperators.numRowsTotal — the bounded-state claim
        measured at a scale where unbounded state would actually hurt:
        the replica multiplies ROWS but not the event-time span, so
        peak state (≈ open windows × event types within the watermark
        horizon) must stay flat while throughput scales."""
        import tempfile

        from udacity_data_engineering_spark.streaming.event_stream import (
            sessionized_counts,
            stream_events,
            windowed_counts,
        )

        ckpt = tempfile.mkdtemp(prefix="probe_stream_ckpt_")
        build = windowed_counts if agg == "tumbling" else sessionized_counts
        df = build(stream_events(spark, src_dir, max_files_per_trigger=mfpt))
        # session windows reject update mode; append also exercises the
        # watermark-driven finalize+evict path the state claim is about
        mode = "update" if agg == "tumbling" else "append"
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        elapsed = time.perf_counter() - t0
        progs = q.recentProgress
        rows = sum(p["numInputRows"] for p in progs)
        peaks = [
            op["numRowsTotal"]
            for p in progs
            if p.get("stateOperators")
            for op in p["stateOperators"]
        ]
        return {
            "sec": round(elapsed, 3),
            "rows": rows,
            "rows_per_sec": int(rows / elapsed) if elapsed else 0,
            "batches": sum(1 for p in progs if p["numInputRows"] > 0),
            "peak_state_rows": max(peaks) if peaks else 0,
        }

    results = {}
    small_docs = {
        "documents": table(spark, SF_DIR, "documents"),
        "embeddings": table(spark, SF_DIR, "embeddings"),
    }
    big_docs = {
        "documents": spark.read.parquet(f"{BASE}/documents"),
        "embeddings": spark.read.parquet(f"{BASE}/embeddings"),
    }
    n_emb_small = small_docs["embeddings"].count()
    nd_batch = nd_batch_docs(spark).localCheckpoint(eager=True)
    for label, t, d, kc in (
        ("1x", small, small_docs, 16),
        ("%dx" % FACTOR, big, big_docs, 16 * FACTOR),
    ):
        nd_dir = build_nd_indexes(spark, label, d["documents"])
        allshapes = dict(shapes(t))
        allshapes.update(
            pipeline_shapes(d["documents"], d["embeddings"], kc, nd_dir, nd_batch)
        )
        if ONLY is not None:
            unknown = ONLY - set(allshapes)
            if unknown:
                raise SystemExit(f"unknown probe shapes: {sorted(unknown)}")
            allshapes = {n: f for n, f in allshapes.items() if n in ONLY}
        for name, fn in allshapes.items():
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            results.setdefault(name, {})[label] = round(best, 3)
    if ONLY is not None:
        # subset run: the post-loop streaming/warehouse sections are
        # separately-published shapes — print and stop here
        print(json.dumps({"factor": FACTOR, "results": results}, indent=2))
        return
    # streaming ingest shape (round 7 — the probe had never run a
    # streaming query): 1x source = the sf0.1 events file staged as a
    # stream dir; Nx = the replica's multi-file events dir, ingested as
    # bounded micro-batches
    import shutil

    one_x_src = f"{BASE}/events_1x_src"
    if not os.path.exists(f"{one_x_src}/events.parquet"):
        os.makedirs(one_x_src, exist_ok=True)
        src = f"{SF_DIR}/events.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, f"{one_x_src}/events.parquet")
        else:
            shutil.copy(src, f"{one_x_src}/events.parquet")
    stream_detail = {}
    session_detail = {}
    for label, src in (("1x", one_x_src), (f"{FACTOR}x", f"{BASE}/events")):
        best = None
        for _ in range(2):
            m = stream_ingest(src)
            if best is None or m["sec"] < best["sec"]:
                best = m
        stream_detail[label] = best
        # round 9: the MERGING-state operator (session windows) has
        # different state dynamics — windows coalesce, state rows
        # shrink on merge and grow with distinct users in the
        # watermark horizon (the replica multiplies USERS, unlike the
        # tumbling shape's fixed event-type keyspace), so peak state
        # must track active keys, never total ingested rows.
        best = None
        for _ in range(2):
            m = stream_ingest(src, agg="session")
            if best is None or m["sec"] < best["sec"]:
                best = m
        session_detail[label] = best
    results["streaming_tumbling_ingest"] = {
        "1x": stream_detail["1x"]["sec"],
        f"{FACTOR}x": stream_detail[f"{FACTOR}x"]["sec"],
    }
    results["streaming_session_ingest"] = {
        "1x": session_detail["1x"]["sec"],
        f"{FACTOR}x": session_detail[f"{FACTOR}x"]["sec"],
    }
    # round 9b: warehouse-maintenance shapes. SCD2 — the incremental
    # apply (scan + broadcast-close + batch-only window; NO history-wide
    # shuffle) vs the from-scratch rebuild (full window shuffle over
    # history ∪ batch): both are corpus-linear, the law is the per-scale
    # gap. MERGE upsert — the lake is partitioned by replica copy index
    # (1x-sized partitions, MORE of them as the lake grows) and the
    # fixed batch touches only partition 0, so the timed merge must stay
    # ~FLAT as the lake grows 10x/100x: cost ∝ touched partitions +
    # batch, never lake size. Setup (dim/lake construction) is untimed
    # and _done-guarded like the nd indexes; the merge is idempotent
    # (same keys re-patched), so re-runs see identical work.
    from udacity_data_engineering_spark.operators.scd import (
        scd2_apply,
        scd2_build,
    )
    from udacity_data_engineering_spark.sources.lake import merge_upsert

    ev_cols = ["user_id", "event_id", "ts"]
    batch_ev = (
        small["events"]
        .select(*ev_cols)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 YEARS"))
        .localCheckpoint(eager=True)
    )
    upd_orders = (
        small["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("bucket", F.expr("o_orderkey DIV 10000000"))
        .localCheckpoint(eager=True)
    )
    for label, t in (("1x", small), (f"{FACTOR}x", big)):
        dim_dir = f"{BASE}/scd2_dim_{label}"
        if not os.path.exists(f"{dim_dir}/_done"):
            scd2_build(t["events"].select(*ev_cols)).write.mode(
                "overwrite"
            ).parquet(f"{dim_dir}/dim")
            Path(f"{dim_dir}/_done").touch()
        lake_dir = f"{BASE}/merge_lake_{label}"
        if not os.path.exists(f"{lake_dir}/_done"):
            (
                t["orders"]
                .select("o_orderkey", "o_custkey", "o_totalprice")
                .withColumn("bucket", F.expr("o_orderkey DIV 10000000"))
                .repartition("bucket")
                .write.partitionBy("bucket")
                .mode("overwrite")
                .parquet(f"{lake_dir}/lake")
            )
            Path(f"{lake_dir}/_done").touch()

        # round 9c: lake snapshot diff — its own _done-guarded snapshot
        # pair (never mutated by the timed merge shape): old = a fresh
        # copy of the orders lake, new = a metadata-preserving copy with
        # ONE partition patched. prune='files' must stay ~flat as the
        # lake grows (one listing + a 1x-sized-partition row join);
        # prune='digest' is the honest full-scan alternative whose cost
        # tracks the lake — the gap IS the growth law being proven.
        diff_dir = f"{BASE}/diff_lake_{label}"
        if not os.path.exists(f"{diff_dir}/_done"):
            (
                t["orders"]
                .select("o_orderkey", "o_custkey", "o_totalprice")
                .withColumn("bucket", F.expr("o_orderkey DIV 10000000"))
                .repartition("bucket")
                .write.partitionBy("bucket")
                .mode("overwrite")
                .parquet(f"{diff_dir}/old")
            )
            shutil.copytree(
                f"{diff_dir}/old",
                f"{diff_dir}/new",
                copy_function=shutil.copy2,
            )
            merge_upsert(
                spark,
                f"{diff_dir}/new",
                upd_orders.withColumn(
                    "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
                ),
                ["o_orderkey"],
                "bucket",
            )
            Path(f"{diff_dir}/_done").touch()

        def diff_files():
            from udacity_data_engineering_spark.sources.lake import lake_diff

            return lake_diff(
                spark,
                f"{diff_dir}/old",
                f"{diff_dir}/new",
                ["o_orderkey"],
                "bucket",
                prune="files",
            ).count()

        def diff_digest():
            from udacity_data_engineering_spark.sources.lake import lake_diff

            return lake_diff(
                spark,
                f"{diff_dir}/old",
                f"{diff_dir}/new",
                ["o_orderkey"],
                "bucket",
                prune="digest",
            ).count()

        def scd2_incr():
            scd2_apply(
                spark.read.parquet(f"{dim_dir}/dim"), batch_ev
            ).write.format("noop").mode("overwrite").save()

        def scd2_full():
            scd2_build(
                t["events"].select(*ev_cols).unionByName(batch_ev)
            ).write.format("noop").mode("overwrite").save()

        def merge_shape():
            merge_upsert(
                spark,
                f"{lake_dir}/lake",
                upd_orders,
                ["o_orderkey"],
                "bucket",
            )

        for name, fn in (
            ("scd2_apply_incr", scd2_incr),
            ("scd2_build_full", scd2_full),
            ("merge_upsert_1part", merge_shape),
            ("lake_diff_files", diff_files),
            ("lake_diff_digest", diff_digest),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            results.setdefault(name, {})[label] = round(best, 3)

    for name, r in results.items():
        r["ratio"] = round(r[f"{FACTOR}x"] / max(r["1x"], 1e-9), 2)
    print(json.dumps({
        "factor": FACTOR,
        "shapes": results,
        "streaming_detail": stream_detail,
        "streaming_session_detail": session_detail,
    }))


if __name__ == "__main__":
    main()
