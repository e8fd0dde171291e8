"""Link-graph analytics: session click-graph construction, Markov
transition matrices, and PageRank (Brin & Page, "The anatomy of a
large-scale hypertextual Web search engine", WWW 1998).

Why this belongs in a training-data engine: crawl prioritization and
document-quality weighting by link centrality are standard corpus-
curation signals (e.g. the Common Crawl harmonic-centrality ranks).
The graph here is the sessionized click graph — an edge for every
consecutive event pair within a user's stream — the same construction
web analytics uses for navigation analysis.

Scale shape:
- Edge extraction is ONE window (lag over user_id) + one groupBy —
  both shuffle on user/edge keys, corpus-linear, no self-join.
- PageRank iterations keep the EDGE table static (weights + out-degree
  are joined once, before the loop) and iterate only the node-sized
  rank vector: per round one edges⋈ranks shuffle-join aggregated by
  dst (map-side partial sums), one node-sized left join, and a 1-row
  dangling-mass aggregate broadcast back in. Lineage is cut per
  iteration with localCheckpoint (the pointer-jumping discipline from
  components.py) so the plan never deepens with the iteration count.
- The iteration count is FIXED (power iteration with damping 0.85
  converges geometrically; 8 rounds ≈ 0.85^8 < 0.28 residual on the
  worst case, far below the 6dp serialization). Fixed rounds are what
  make the operator hash-provable: the DuckDB oracle replays the same
  8 rounds as unrolled chained CTEs — the first ITERATIVE operator in
  the registry with a full value-hash oracle, not a rows-only floor.

Parity discipline: every per-round expression is written identically
on both sides (0.15 / n + 0.85 * (contrib + dangling / n), doubles
throughout); only the FINAL ranks are rounded (6dp). Within-group sum
order differs between engines by ~1e-15/round, ~1e-13 after 8 rounds —
invisible at 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import session_cached, table

#: damping factor and round count shared by the Spark path and the
#: generated oracle — change in one place only.
DAMPING_NUM = "0.85"
TELEPORT_NUM = "0.15"
PAGERANK_ITERS = 8


def click_edges(events: DataFrame, page: F.Column | None = None) -> DataFrame:
    """Sessionized click-graph edges: for each user's event stream in
    (ts, event_id) order, one directed edge from the previous page to
    the current one. Returns (src, dst, n_transitions).

    One lag window partitioned by user (shuffle on user_id — session
    streams are bounded, no skew hazard) + one groupBy on the edge key.
    """
    if page is None:
        page = F.get_json_object("props", "$.k").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        F.lag(page).over(w).alias("src"), page.alias("dst")
    ).filter(F.col("src").isNotNull())
    return steps.groupBy("src", "dst").agg(F.count("*").alias("n_transitions"))


@register(
    "q_click_edges",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        )
        SELECT src, dst, count(*) AS n_transitions
        FROM raw WHERE src IS NOT NULL
        GROUP BY src, dst
        ORDER BY src, dst
    """,
    doc="Session click-graph edge extraction: consecutive event pairs "
    "per user in (ts, event_id) order become directed page→page edges "
    "with transition counts. One lag window + one groupBy.",
    tags=("E5", "analytics", "graph"),
)
def q_click_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = click_edges(table(spark, sf_dir, "events"))
    return edges.orderBy("src", "dst")


@register(
    "q_markov_transitions",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        ), edges AS (
            SELECT src, dst, count(*) AS n FROM raw
            WHERE src IS NOT NULL GROUP BY src, dst
        )
        SELECT src, dst,
               round(CAST(n AS DOUBLE)
                     / sum(CAST(n AS DOUBLE)) OVER (PARTITION BY src),
                     6) AS p
        FROM edges
        ORDER BY src, dst
    """,
    doc="Row-normalized Markov transition matrix over the session "
    "click graph: P(dst | src) = edge count / out-count. The window "
    "normalization reuses the groupBy shuffle's partitioning (src is "
    "a prefix of the edge key) — no second shuffle.",
    tags=("E5", "analytics", "graph"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = click_edges(table(spark, sf_dir, "events"))
    w = Window.partitionBy("src")
    n = F.col("n_transitions").cast("double")
    return edges.select(
        "src",
        "dst",
        F.round(n / F.sum(n).over(w), 6).alias("p"),
    ).orderBy("src", "dst")


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = PAGERANK_ITERS,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n_transitions",
    node: str = "page",
) -> DataFrame:
    """Weighted PageRank with damping 0.85 over a fixed node set.

    ``edges``: (src, dst, weight) multigraph counts; ``nodes``: one
    column naming every vertex (isolated vertices allowed — they earn
    teleport + dangling mass only). Dangling mass (rank sitting on
    vertices with no out-edges) is redistributed uniformly each round,
    so total rank is conserved at 1 and the result is a proper
    distribution.

    Returns (node, pr) UNROUNDED — query wrappers round to their
    serialization precision. Per-round cost: one edges⋈ranks hash join
    aggregated by dst, one node-sized left join, one 1-row conditional
    aggregate (dangling mass — the node frame carries a static has_out
    flag, so no per-round anti-join); the edge-side join input
    (weight / out-weight) is precomputed once and localCheckpointed.
    Each round's rank vector is cut with a LAZY localCheckpoint whose
    materialization is triggered by that round's dangling aggregate, so
    every round executes exactly once and schedules one job (plus AQE
    query stages). Per-round lazy cuts strictly dominate a sparser eager
    cadence, which re-executed un-cut rounds up to three times (round-15
    optimization; measurements in OPTIMIZATION_r15.md).
    """
    from udacity_data_engineering_spark.operators.checkpointing import (
        loop_checkpoint,
    )

    nodes = nodes.select(F.col(node).alias("page"))
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("w"),
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    # static across rounds: per-edge share of its source's rank.
    # Lineage cuts in this function go through loop_checkpoint: local by
    # default, reliable (checkpoint-dir) when
    # SPARK_GRAFT_RELIABLE_CHECKPOINT is set — the cluster fault posture
    # for long loops (round 16; localCheckpoint blocks are executor-
    # local and non-replicated, so an executor loss mid-loop would
    # otherwise kill the query).
    e_share = loop_checkpoint(
        e.join(outw, "src").select(
            "src", "dst", (F.col("w") / F.col("ow")).alias("share")
        ),
        eager=True,
    )
    n_df = nodes.agg(F.count("*").cast("double").alias("n"))
    damping = F.lit(float(DAMPING_NUM))
    teleport = F.lit(float(TELEPORT_NUM))

    # Optimization round 15 (guide §2.4 — remove shuffles outright): the
    # dangling-node set is STATIC, so flag it once on the node frame
    # instead of re-deriving it with a per-round anti-join — one fewer
    # join + exchange in every iteration, and the per-round dangling
    # mass becomes a conditional aggregate over the rank vector itself.
    nodes_f = (
        nodes.join(
            outw.select(F.col("src").alias("page"))
            .withColumn("__has_out", F.lit(True)),
            "page",
            "left",
        )
        .select(
            "page",
            F.coalesce(F.col("__has_out"), F.lit(False)).alias("has_out"),
        )
    )
    nodes_f = loop_checkpoint(nodes_f, eager=True)

    ranks = loop_checkpoint(
        nodes_f.crossJoin(F.broadcast(n_df)).select(
            "page", "has_out", (F.lit(1.0) / F.col("n")).alias("pr")
        ),
        eager=False,
    )

    for it in range(iters):
        # this aggregate is the round's only driver action; it also
        # triggers the LAZY checkpoint of the current rank vector, so
        # each round's ranks materialize exactly once (the r14 eager-cut
        # + separate-agg layout executed un-cut rank plans up to three
        # times per 2-round window — 97 scheduled jobs for 8 rounds,
        # measured in OPTIMIZATION_r15.md; this layout schedules ~1 per
        # round plus AQE stages)
        dangling = ranks.filter(~F.col("has_out")).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm")
        )
        contribs = (
            e_share.join(
                ranks.select("page", "pr"), e_share.src == F.col("page")
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("share")).alias("contrib"))
        )
        scalars = F.broadcast(dangling.crossJoin(n_df))
        ranks = loop_checkpoint(
            nodes_f.join(contribs, nodes_f.page == contribs.dst, "left")
            .crossJoin(scalars)
            .select(
                "page",
                "has_out",
                (
                    teleport / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") / F.col("n")
                    )
                ).alias("pr"),
            ),
            eager=False,
        )
    return ranks.select("page", "pr")


def _pagerank_oracle(iters: int = PAGERANK_ITERS) -> str:
    """The oracle replays the EXACT iteration as unrolled chained CTEs
    (r0 → r1 → … → r{iters}), generated from the same constants the
    Spark path uses — an iterative algorithm under a full value-hash
    oracle, not a rows-only floor."""
    head = """
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
        ), pages AS (
            SELECT DISTINCT page FROM ev
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        ), edges AS (
            SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
            FROM raw WHERE src IS NOT NULL GROUP BY src, dst
        ), outw AS (
            SELECT src, sum(w) AS ow FROM edges GROUP BY src
        ), e_share AS (
            SELECT e.src, e.dst, e.w / o.ow AS share
            FROM edges e JOIN outw o ON e.src = o.src
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM pages
        ), r0 AS (
            SELECT page, 1.0 / n AS pr FROM pages CROSS JOIN nn
        )"""
    rounds = []
    for i in range(1, iters + 1):
        p = i - 1
        rounds.append(
            f""", d{i} AS (
            SELECT coalesce(sum(pr), 0.0) AS dm
            FROM r{p} LEFT JOIN outw ON r{p}.page = outw.src
            WHERE outw.src IS NULL
        ), c{i} AS (
            SELECT s.dst, sum(r.pr * s.share) AS contrib
            FROM e_share s JOIN r{p} r ON s.src = r.page
            GROUP BY s.dst
        ), r{i} AS (
            SELECT p.page,
                   {TELEPORT_NUM} / nn.n
                   + {DAMPING_NUM} * (coalesce(c.contrib, 0.0)
                                      + d{i}.dm / nn.n) AS pr
            FROM pages p CROSS JOIN nn CROSS JOIN d{i}
            LEFT JOIN c{i} c ON p.page = c.dst
        )"""
        )
    tail = f"""
        SELECT page, round(pr, 6) AS pr
        FROM r{iters} ORDER BY page"""
    return head + "".join(rounds) + tail


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    doc="PageRank (damping 0.85, 8 power-iteration rounds, dangling "
    "mass redistributed uniformly) over the sessionized click graph — "
    "the crawl-prioritization / document-centrality signal. Per round: "
    "one edge⋈rank join aggregated by dst + one node-sized left join + "
    "a 1-row broadcast; edge shares precomputed once; lineage cut per "
    "round. Hash-proven end-to-end: the DuckDB oracle replays the same "
    "8 rounds as unrolled chained CTEs (final ranks rounded 6dp; rank "
    "mass conserved at 1 by construction).",
    tags=("E5", "analytics", "graph", "llm-pipeline", "slow_oracle"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    page = F.get_json_object("props", "$.k").cast("long")
    nodes = ev.select(page.alias("page")).distinct()
    edges = click_edges(ev)
    ranks = pagerank(edges, nodes)
    return ranks.select("page", F.round("pr", 6).alias("pr")).orderBy("page")


# ---------------------------------------------------------------------------
# persisted click-edge lake (write-once + incremental append)
# ---------------------------------------------------------------------------


def click_edge_lake(
    spark: SparkSession,
    lake_dir: str,
    events: DataFrame,
    page: F.Column | None = None,
    append: bool = False,
    n_parts: int = 16,
) -> None:
    """Persist the sessionized click-edge table to a parquet lake —
    write-once, then incremental appends per new-events batch (the
    substring_lake_index posture: extraction runs ONCE per batch, every
    downstream graph consumer reads the lake).

    Why this exists: edge EXTRACTION (lag window + groupBy over the raw
    event stream) is the corpus-linear leg of q_pagerank /
    q_markov_transitions — at 100 TB you build edges once per ingest
    batch, not once per query (the round-10 scale probe's 7.1x ratio
    was exactly this re-run extraction). Appends write DELTA edge
    counts; ``read_click_edges`` sums deltas per (src, dst) — a
    log-structured design whose merge is one vocabulary-sized groupBy,
    never a lake rewrite (counts are additive, so no MERGE is needed).

    Batch contract: a batch must contain WHOLE user streams (sessions
    never straddle batches) — an edge is a consecutive pair within one
    user's stream, so splitting a stream across batches would drop the
    boundary transition. Partitioned by pmod(src, n_parts): per-page
    neighbourhood lookups prune to one directory, and append batches
    add files without rewriting existing ones.
    """
    edges = click_edges(events, page=page)
    (
        edges.withColumn("src_part", F.pmod(F.col("src"), F.lit(n_parts)))
        .repartition("src_part")
        .write.mode("append" if append else "overwrite")
        # bootstrap must reset the WHOLE lake even under a session-level
        # dynamic partitionOverwriteMode (stale append deltas from a
        # prior bootstrap would otherwise survive in absent partitions)
        .option("partitionOverwriteMode", "static")
        .partitionBy("src_part")
        .parquet(lake_dir)
    )


def read_click_edges(spark: SparkSession, lake_dir: str) -> DataFrame:
    """The merged edge view over the lake's delta files: (src, dst,
    n_transitions) with per-batch delta counts summed. Cost is one
    groupBy over edge-table-sized (not corpus-sized) data. The schema is
    declared, not inferred: an empty bootstrap (zero edges — e.g. a
    partition-pruned-to-empty events feed) leaves a file-less lake with
    no parquet footer to infer from."""
    return (
        spark.read.schema(
            "src long, dst long, n_transitions long, src_part int"
        )
        .parquet(lake_dir)
        .groupBy("src", "dst")
        .agg(F.sum("n_transitions").alias("n_transitions"))
    )


def cached_edge_lake(spark: SparkSession, sf_dir: str) -> str:
    """The session's built-once click-edge lake for ``sf_dir``:
    bootstrap from the historic users (user_id % 5 != 0), then one
    incremental append batch for the rest — whole user streams per
    batch, the lake contract. The lake is amortized state (built once
    per ingest batch, read per query), so repeated q_pagerank_persisted
    calls in one session (bench reps, query plus verification) must not
    rebuild it; the session cache rmtree's an evicted lake directory."""
    import hashlib
    import os
    from pathlib import Path

    from udacity_data_engineering_spark.sources.parquet_source import (
        scratch_dir,
    )

    def build() -> Path:
        # distinct dir per sf_dir: scratch_dir is per-NAME, and two
        # sf_dirs cached at once must not share one lake directory —
        # keyed by a hash of the FULL normalized path (two sf_dirs can
        # share a basename; eviction rmtree also invalidates any lazy
        # frames previously read from the evicted lake)
        norm = os.path.normpath(os.path.abspath(sf_dir))
        lake_dir = os.path.join(
            scratch_dir("click_edge_lake"),
            hashlib.sha256(norm.encode()).hexdigest()[:16],
        )
        ev = table(spark, sf_dir, "events")
        click_edge_lake(spark, lake_dir, ev.filter(F.col("user_id") % 5 != 0))
        click_edge_lake(
            spark, lake_dir, ev.filter(F.col("user_id") % 5 == 0), append=True
        )
        return Path(lake_dir)

    return str(session_cached(spark, sf_dir, "edge_lake", build))


@register(
    "q_pagerank_persisted",
    oracle=_pagerank_oracle(),
    doc="PageRank fed from the PERSISTED click-edge lake instead of "
    "re-extracting edges from raw events: the lake is bootstrapped from "
    "the historic users (user_id % 5 <> 0), the remaining users arrive "
    "as one incremental append batch, and the 8-round iteration runs "
    "over read_click_edges' merged delta view. Edges never cross users, "
    "so the per-user batch split reproduces the whole-table edge set "
    "exactly and the result hash-proves against the SAME unrolled-CTE "
    "oracle as q_pagerank — extraction-once + append is a pure "
    "performance posture, not a semantics change.",
    tags=("E5", "analytics", "graph", "llm-pipeline", "slow_oracle"),
)
def q_pagerank_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    lake_dir = cached_edge_lake(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    page = F.get_json_object("props", "$.k").cast("long")
    nodes = ev.select(page.alias("page")).distinct()
    ranks = pagerank(read_click_edges(spark, lake_dir), nodes)
    return ranks.select("page", F.round("pr", 6).alias("pr")).orderBy("page")


def compact_edge_lake(
    spark: SparkSession, lake_dir: str, files_per_part: int = 1
) -> dict:
    """Small-file compaction for the log-structured edge lake — the
    housekeeping every delta-append design owes its readers.

    Each ingest batch appends delta files, so a year of hourly batches
    leaves ~8,760 files per partition; at 100 TB the NameNode/listing
    and per-file open costs dominate reads long before data volume does
    (the classic lakehouse small-files problem). Compaction rewrites
    each partition as the MERGED view — deltas summed per (src, dst),
    one row per edge, ``files_per_part`` files — so it also bounds lake
    ROW count at the true edge count, not the append count.

    Per-partition dynamic overwrite: only the partition directories
    being rewritten are replaced; content as seen through
    ``read_click_edges`` is IDENTICAL before and after (pinned in
    tests + the q_edge_lake_compacted oracle). Returns
    {files_before, files_after, rows_before, rows_after}. Run it on a
    schedule or when files-per-partition crosses a threshold; readers
    never need to know it ran.
    """
    lake = spark.read.schema(
        "src long, dst long, n_transitions long, src_part int"
    ).parquet(lake_dir)
    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(lake_dir)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())

    def count_files() -> int:
        n = 0
        for st in fs.listStatus(jroot):
            if st.isDirectory() and st.getPath().getName().startswith("src_part="):
                for f in fs.listStatus(st.getPath()):
                    if f.getPath().getName().endswith(".parquet"):
                        n += 1
        return n

    files_before = count_files()
    rows_before = lake.count()
    merged = (
        lake.groupBy("src_part", "src", "dst")
        .agg(F.sum("n_transitions").alias("n_transitions"))
        .select("src", "dst", "n_transitions", "src_part")
        # one shuffle keyed by the partition column; files_per_part
        # output files per directory
        .repartition(files_per_part, F.col("src_part"))
        .localCheckpoint(eager=True)  # lineage cut: reads then overwrites
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("src_part")
        .parquet(lake_dir)
    )
    return {
        "files_before": files_before,
        "files_after": count_files(),
        "rows_before": rows_before,
        "rows_after": spark.read.schema(
            "src long, dst long, n_transitions long, src_part int"
        ).parquet(lake_dir).count(),
    }


@register(
    "q_edge_lake_compacted",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        )
        SELECT src, dst, count(*) AS n_transitions
        FROM raw WHERE src IS NOT NULL
        GROUP BY src, dst
        ORDER BY src, dst
    """,
    doc="Log-structured lake COMPACTION, proven content-preserving: the "
    "click-edge lake is built as bootstrap + three user-sliced append "
    "batches (many small delta files per partition), compacted to one "
    "merged file per partition (deltas summed per edge — rows shrink to "
    "the true edge count, files to 1/partition), and the re-read merged "
    "view hash-proves against the SAME whole-table extraction oracle as "
    "q_click_edges. The small-files problem is what actually kills "
    "log-structured designs at 100 TB (listing + per-file open costs, "
    "not data volume); this is the housekeeping op that keeps the "
    "append-only ingest path honest. File-count reduction is asserted "
    "in tests/test_graph.py.",
    tags=("sources", "graph", "physical", "llm-pipeline", "slow_oracle"),
)
def q_edge_lake_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.sources.parquet_source import (
        scratch_dir,
    )

    lake_dir = scratch_dir("edge_lake_compact")
    ev = table(spark, sf_dir, "events")
    click_edge_lake(spark, lake_dir, ev.filter(F.col("user_id") % 4 == 0))
    for k in (1, 2, 3):
        click_edge_lake(
            spark, lake_dir, ev.filter(F.col("user_id") % 4 == k), append=True
        )
    stats = compact_edge_lake(spark, lake_dir)
    if stats["files_after"] > stats["files_before"]:
        # not assert: production query path must enforce the compaction
        # invariant under `python -O` too
        raise RuntimeError(
            f"compaction grew the lake: {stats['files_before']} -> "
            f"{stats['files_after']} files"
        )
    return read_click_edges(spark, lake_dir).orderBy("src", "dst")


# --------------------------------------------------------------------------
# Versioned edge lake + time-travel reads. The log-structured design above
# already makes history cheap — deltas are additive and never rewritten —
# so keeping the batch ordinal as a partition column buys time travel for
# free: "the graph as of ingest batch N" is the merge over batch_id <= N,
# and partition pruning means an as-of read LISTS only the first N+1
# batch directories (the lakehouse time-travel feature, parquet-native).
# --------------------------------------------------------------------------


def click_edge_lake_versioned(
    spark: SparkSession,
    lake_dir: str,
    batches: list[DataFrame],
    page: F.Column | None = None,
) -> None:
    """Build a VERSIONED click-edge lake: batch ``i``'s edge deltas land
    under ``batch_id=i`` partitions via dynamic partition overwrite, so a
    replayed batch rewrites its own partition idempotently (the streaming
    edge lake's at-least-once discipline). Batch contract as in
    click_edge_lake: whole user streams per batch."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i, ev in enumerate(batches):
            (
                click_edges(ev, page=page)
                .withColumn("batch_id", F.lit(i))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(lake_dir)
            )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_click_edges_asof(
    spark: SparkSession, lake_dir: str, upto_batch: int
) -> DataFrame:
    """The merged edge view AS OF ingest batch ``upto_batch`` (inclusive):
    sum deltas over batch_id <= N. The predicate is on the partition
    column, so the scan prunes to the first N+1 batch directories —
    history costs nothing to retain and an as-of read never lists
    later batches. Declared schema (file-less-lake safe).

    If the lake has been vacuumed (see :func:`vacuum_edge_lake`), reads
    into the expired range fail LOUDLY: below the horizon the deltas are
    gone and the folded checkpoint would silently answer for a later
    point in time — the one wrong answer time travel must never give.
    While a vacuum is IN PROGRESS (or crashed before its commit), every
    as-of read raises — any as-of spans the pre-horizon directories the
    vacuum is mid-way through deleting/renaming, so no point in time is
    answerable exactly until the commit completes."""
    _require_no_inprogress_vacuum(spark, lake_dir)
    horizon = read_vacuum_horizon(spark, lake_dir)
    if upto_batch < horizon:
        raise RuntimeError(
            f"as-of batch {upto_batch} predates the vacuum horizon "
            f"{horizon}: that history has been expired"
        )
    return (
        spark.read.schema("src long, dst long, n_transitions long, batch_id int")
        .parquet(lake_dir)
        .filter(F.col("batch_id") <= upto_batch)
        .groupBy("src", "dst")
        .agg(F.sum("n_transitions").alias("n_transitions"))
    )


@register(
    "q_edge_lake_time_travel",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
            WHERE user_id % 4 <= 2
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        )
        SELECT src, dst, count(*) AS n_transitions
        FROM raw WHERE src IS NOT NULL
        GROUP BY src, dst
    """,
    doc="Lakehouse TIME TRAVEL over the versioned click-edge lake: four "
    "user-bucketed ingest batches land as batch_id=0..3 delta "
    "partitions (dynamic overwrite — replay-idempotent); the as-of "
    "read at batch 2 merges batch_id <= 2 only, with the predicate on "
    "the partition column so the scan prunes to three directories and "
    "never lists later history. Hash-proven: the as-of view equals the "
    "edges extracted from exactly the first three batches' users.",
    tags=("E5", "graph", "sources", "physical"),
)
def q_edge_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    ev = table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix=f"edge_tt_{uuid.uuid4().hex[:12]}_")
    lake = os.path.join(tmp, "lake")
    # whole user streams per batch (the lake contract): bucket by user
    batches = [ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == i) for i in range(4)]
    click_edge_lake_versioned(spark, lake, batches)
    out = (
        read_click_edges_asof(spark, lake, 2)
        .orderBy("src", "dst")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# VACUUM for the versioned edge lake — the missing lifecycle edge of time
# travel. Retaining every delta forever makes history free but unbounded;
# the standard lakehouse answer (Delta/Iceberg VACUUM / expire_snapshots)
# trades history depth for storage: everything OLDER than a horizon batch
# is folded into one checkpoint partition at the horizon, the expired
# partition directories are dropped (directory-level deletes, zero data
# read beyond the single merge scan), and as-of reads AT or PAST the
# horizon stay byte-identical while reads INTO the expired range fail
# loudly — never silently answer with the folded prefix.
# --------------------------------------------------------------------------

#: lake-root marker file recording the oldest still-readable batch id.
#: Hidden from parquet discovery (leading underscore), read by
#: read_click_edges_asof to reject time travel into expired history.
VACUUM_MARKER = "_vacuum_horizon"
#: lake-root marker present from BEFORE the first destructive step of a
#: vacuum until after its commit rename + horizon record. While present,
#: partition directories at or below its recorded horizon may be
#: partially deleted or mid-rename, so reads fail loudly instead of
#: silently returning a partial merge (a crashed mid-vacuum lake used to
#: answer as-of reads with 0 rows where the true answer had thousands).
VACUUM_INPROGRESS_MARKER = "_vacuum_inprogress"

_EDGE_SCHEMA = "src long, dst long, n_transitions long, batch_id int"


def _lake_fs(spark: SparkSession, lake_dir: str):
    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(lake_dir)
    return jvm, jroot.getFileSystem(spark._jsc.hadoopConfiguration()), jroot


def _read_int_marker(spark: SparkSession, lake_dir: str, name: str) -> int | None:
    jvm, fs, _ = _lake_fs(spark, lake_dir)
    marker = jvm.org.apache.hadoop.fs.Path(lake_dir, name)
    if not fs.exists(marker):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(marker))
    )
    try:
        return int(reader.readLine().strip())
    finally:
        reader.close()


def _write_int_marker(
    spark: SparkSession, lake_dir: str, name: str, value: int
) -> None:
    jvm, fs, _ = _lake_fs(spark, lake_dir)
    marker = jvm.org.apache.hadoop.fs.Path(lake_dir, name)
    out = fs.create(marker, True)
    try:
        out.write(bytearray(f"{value}\n".encode()))
    finally:
        out.close()


def read_vacuum_horizon(spark: SparkSession, lake_dir: str) -> int:
    """The oldest as-of batch the lake can still answer exactly (0 when
    never vacuumed). Hadoop-FS API throughout, so the marker works on
    any scheme the lake itself works on."""
    v = _read_int_marker(spark, lake_dir, VACUUM_MARKER)
    return 0 if v is None else v


def read_vacuum_inprogress(spark: SparkSession, lake_dir: str) -> int | None:
    """The target horizon of an in-flight (or crashed-uncommitted)
    vacuum, None when no vacuum is in progress."""
    return _read_int_marker(spark, lake_dir, VACUUM_INPROGRESS_MARKER)


def _require_no_inprogress_vacuum(spark: SparkSession, lake_dir: str) -> None:
    inprog = read_vacuum_inprogress(spark, lake_dir)
    if inprog is not None:
        raise RuntimeError(
            f"a vacuum to horizon {inprog} is in progress (or crashed "
            "before its commit): partitions at or below that horizon may "
            "be partially deleted — resume vacuum_edge_lake(horizon="
            f"{inprog}) to completion before reading"
        )


def vacuum_edge_lake(
    spark: SparkSession, lake_dir: str, horizon: int
) -> list[int]:
    """Fold every batch with ``batch_id <= horizon`` into ONE checkpoint
    partition at ``batch_id=horizon`` and drop the older directories.
    Returns the expired batch ids. Fail-closed staging protocol (a crash
    at any step leaves a resumable lake that never double-counts and
    never silently answers with a partial merge):

    1. validate the horizon: it must not precede the committed horizon,
       and a crashed vacuum must be resumed at ITS recorded horizon —
       resuming at any other horizon raises (a horizon-2 staging renamed
       as batch_id=1 would leave batch 2's delta alive alongside a fold
       that already contains it, double-counting batch 2 on every
       subsequent as-of read);
    2. persist the in-progress marker (the target horizon) BEFORE any
       destructive step — from here until step 6, reads fail loudly via
       :func:`read_click_edges_asof` / :func:`read_click_edge_changes`;
    3. merge batch_id <= horizon into ``_vacuum_staging_h{horizon}``
       (overwrite) — unless that horizon-tagged staging already holds a
       completed merge from a crashed run, in which case recomputing
       from the possibly-partially-deleted source partitions would be
       WRONG and the stage is reused (the horizon tag in the directory
       name is what makes reuse safe: a stage for a DIFFERENT horizon is
       unreachable here because step 1 pins the resume horizon);
    4. delete every batch_id <= horizon partition directory;
    5. rename staging to ``batch_id=horizon`` (the staged files carry no
       batch_id column — hive layout derives it from the directory);
    6. record the committed horizon marker, then clear the in-progress
       marker — reads are exact again from this point.
    """
    import os

    jvm, fs, jroot = _lake_fs(spark, lake_dir)
    staging_name = f"_vacuum_staging_h{horizon}"
    staging = jvm.org.apache.hadoop.fs.Path(lake_dir, staging_name)
    staging_done = jvm.org.apache.hadoop.fs.Path(
        os.path.join(lake_dir, staging_name, "_SUCCESS")
    )
    prev_horizon = read_vacuum_horizon(spark, lake_dir)
    if horizon < prev_horizon:
        raise RuntimeError(
            f"vacuum horizon {horizon} precedes already-expired history "
            f"(current horizon {prev_horizon})"
        )
    inprog = read_vacuum_inprogress(spark, lake_dir)
    if inprog is not None and inprog != horizon:
        raise RuntimeError(
            f"a crashed vacuum to horizon {inprog} must be resumed at "
            f"that horizon, not {horizon}: its partitions may be "
            "partially deleted and its staged fold covers exactly "
            f"batch_id <= {inprog}"
        )
    _write_int_marker(spark, lake_dir, VACUUM_INPROGRESS_MARKER, horizon)

    if not (fs.exists(staging) and fs.exists(staging_done)):
        merged = (
            spark.read.schema(_EDGE_SCHEMA)
            .parquet(lake_dir)
            .filter(F.col("batch_id") <= horizon)  # partition-pruned scan
            .groupBy("src", "dst")
            .agg(F.sum("n_transitions").alias("n_transitions"))
            # lineage cut: the write below deletes the directories this
            # plan reads (same discipline as compact_edge_lake)
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(lake_dir, staging_name)
        )

    from udacity_data_engineering_spark.sources.lake import retention_expire

    expired = retention_expire(
        spark, lake_dir, "batch_id", lambda v: int(v) <= horizon
    )
    target = jvm.org.apache.hadoop.fs.Path(lake_dir, f"batch_id={horizon}")
    if not fs.rename(staging, target):
        raise RuntimeError(f"vacuum commit rename failed: {staging} -> {target}")
    _write_int_marker(spark, lake_dir, VACUUM_MARKER, horizon)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(lake_dir, VACUUM_INPROGRESS_MARKER), False
    )
    # the horizon partition was deleted-then-recreated as the checkpoint,
    # so only ids strictly below it are truly expired history
    return sorted(int(v) for v in expired if int(v) < horizon)


@register(
    "q_edge_lake_vacuum",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
            WHERE user_id % 4 <= 2
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        )
        SELECT src, dst, count(*) AS n_transitions
        FROM raw WHERE src IS NOT NULL
        GROUP BY src, dst
    """,
    doc="Lakehouse VACUUM over the versioned click-edge lake: four "
    "user-bucketed ingest batches, then history below batch 1 is folded "
    "into one checkpoint partition at batch_id=1 (staging + directory "
    "rename — crash-resumable, never double-counting) and batch_id=0 is "
    "dropped. The as-of read at batch 2 afterwards must be IDENTICAL to "
    "what it returned before the vacuum — hash-proven against the same "
    "first-three-batches oracle as q_edge_lake_time_travel. Reads below "
    "the recorded horizon raise (pinned in tests/test_graph.py) — "
    "expired history fails loudly, never silently answers with the "
    "folded prefix.",
    tags=("E5", "graph", "sources", "physical"),
)
def q_edge_lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    ev = table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix=f"edge_vac_{uuid.uuid4().hex[:12]}_")
    lake = os.path.join(tmp, "lake")
    batches = [ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == i) for i in range(4)]
    click_edge_lake_versioned(spark, lake, batches)
    expired = vacuum_edge_lake(spark, lake, horizon=1)
    # [] is valid on degenerate input: an all-empty events table writes
    # no batch_id=0 partition, so there is nothing to expire
    if expired not in ([0], []):
        raise RuntimeError(f"vacuum expired {expired}, expected [0] or []")
    out = (
        read_click_edges_asof(spark, lake, 2)
        .orderBy("src", "dst")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set from a directed multigraph:
    self-loops dropped, endpoints normalized to (a < b), parallel and
    reverse edges collapsed. One distinct on the normalized pair."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def degree_oriented(undirected: DataFrame) -> DataFrame:
    """Re-orient a normalized undirected edge set (a < b) so every edge
    points lower-degree → higher-degree endpoint, ties broken on id —
    an acyclic orientation under the total order (deg(x), x). Returns
    (u, v) with u ≺ v.

    This is THE skew lever for triangle counting: the wedge join's cost
    at a middle vertex m is in-deg(m)·out-deg(m) under the orientation,
    and degree orientation caps every out-degree at O(√E) (each
    out-neighbor has degree ≥ deg(u), so out-deg(u) ≤ 2E/deg(u) and
    out-deg(u) ≤ deg(u) — their min is ≤ √(2E)). A celebrity hub keeps
    a huge IN-degree but near-zero OUT-degree, so the Σ in·out hub term
    collapses from deg²(hub) to ~deg(hub) — pinned by the skew probe in
    tests/test_graph.py. Cost: one degree aggregate + two equi-joins on
    node id, all linear in E.
    """
    deg = (
        undirected.select(F.col("a").alias("node"))
        .unionAll(undirected.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        undirected.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        ).join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangle_count(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """Per-node triangle counts (node = the triangle's smallest-by-id
    vertex), via the compact-forward algorithm: under an acyclic
    orientation ≺, a triangle u ≺ v ≺ w is exactly one (u,v) edge, one
    (v,w) edge, and a (u,w) closing edge — two hash equi-joins, each
    triangle enumerated EXACTLY once (no 3!/duplicate correction, no
    cross join). The reported counts are orientation-invariant: rows
    group on the least node ID of each triangle, so the same oracle
    verifies both orientations.

    ``orient="degree"`` (default) re-orients edges low-degree →
    high-degree first (:func:`degree_oriented`), capping the wedge
    join's Σ in·out hub term at O(E^1.5) on arbitrarily skewed graphs —
    one celebrity node no longer makes the join quadratic in its
    degree. ``orient="id"`` keeps the plain a < b normalization (fine
    when the keyspace is bounded and near-uniform).
    """
    e = undirected_edges(edges)
    if orient == "degree":
        e = degree_oriented(e)
    elif orient == "id":
        e = e.select(F.col("a").alias("u"), F.col("b").alias("v"))
    else:
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    uv = e
    vw = e.select(F.col("u").alias("v"), F.col("v").alias("w"))
    uw = e.select(F.col("u").alias("u2"), F.col("v").alias("w2"))
    wedges = uv.join(vw, "v")
    tris = wedges.join(
        uw, (F.col("u") == F.col("u2")) & (F.col("w") == F.col("w2"))
    )
    return tris.groupBy(F.least("u", "v", "w").alias("a")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "q_triangle_count",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        ), e AS (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE src IS NOT NULL AND src <> dst
        )
        SELECT e1.a, count(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        GROUP BY e1.a
    """,
    doc="Triangle counting over the undirected session click graph "
    "(compact-forward under a DEGREE orientation: edges point "
    "low-degree -> high-degree, so every triangle is one (u,v)+(v,w) "
    "wedge closed by a (u,w) edge — two equi-joins, exactly-once "
    "enumeration, no cross join, no overcount correction, and the "
    "wedge join's hub term is capped at O(E^1.5) on skewed graphs "
    "instead of deg(hub)^2). Triangle density is the clustering-"
    "coefficient backbone for community/quality scoring on link "
    "graphs. Grouped per smallest vertex ID — orientation-invariant, "
    "so DuckDB verifies via the plain id-ordered joins.",
    tags=("E5", "analytics", "graph", "llm-pipeline"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = click_edges(table(spark, sf_dir, "events"))
    return triangle_count(edges)


def read_click_edge_changes(
    spark: SparkSession, lake_dir: str, from_batch: int, to_batch: int
) -> DataFrame:
    """CDC read over the versioned edge lake: the NET edge-count change
    between ingest batch ``from_batch`` (exclusive) and ``to_batch``
    (inclusive) — sum of exactly the delta partitions in that range,
    partition-pruned to ``to_batch - from_batch`` directories. The
    incremental-consumer primitive time travel implies: a downstream
    job that processed up to M reads only what M+1..N added, never the
    merged lake.

    Post-vacuum, ``batch_id = horizon`` holds the FOLDED checkpoint (a
    merge, not a delta), so a change read reaching into it would count
    all pre-horizon history as 'new' — reads with ``from_batch`` below
    the horizon fail loudly instead.
    """
    if from_batch > to_batch:
        raise ValueError(f"from_batch {from_batch} > to_batch {to_batch}")
    inprog = read_vacuum_inprogress(spark, lake_dir)
    if inprog is not None and from_batch < inprog:
        # a change read strictly above the in-progress horizon touches
        # only partitions the vacuum never mutates, so it stays exact;
        # one reaching at/below it would read mid-delete directories
        raise RuntimeError(
            f"change read from batch {from_batch} reaches at or below "
            f"the in-progress vacuum horizon {inprog}: resume "
            f"vacuum_edge_lake(horizon={inprog}) to completion first"
        )
    horizon = read_vacuum_horizon(spark, lake_dir)
    if from_batch < horizon:
        raise RuntimeError(
            f"change read from batch {from_batch} crosses the vacuum "
            f"horizon {horizon}: pre-horizon deltas were folded into a "
            "checkpoint and are no longer attributable to batches"
        )
    return (
        spark.read.schema("src long, dst long, n_transitions long, batch_id int")
        .parquet(lake_dir)
        .filter(
            (F.col("batch_id") > from_batch) & (F.col("batch_id") <= to_batch)
        )
        .groupBy("src", "dst")
        .agg(F.sum("n_transitions").alias("n_transitions"))
    )


@register(
    "q_edge_lake_changes",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(props ->> 'k' AS BIGINT) AS page
            FROM events
            WHERE user_id % 4 IN (2, 3)
        ), raw AS (
            SELECT lag(page) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   page AS dst
            FROM ev
        )
        SELECT src, dst, count(*) AS n_transitions
        FROM raw WHERE src IS NOT NULL
        GROUP BY src, dst
    """,
    doc="CDC read over the versioned click-edge lake: the net change "
    "between ingest batch 1 (exclusive) and 3 (inclusive) — exactly the "
    "deltas of batches 2 and 3, partition-pruned to two directories, "
    "never the merged lake. Edges never cross users, so the change set "
    "equals the edges of exactly those batches' users — hash-proven. "
    "Reads crossing the vacuum horizon raise (the folded checkpoint is "
    "a merge, not a delta; pinned in tests/test_graph.py).",
    tags=("E5", "graph", "sources", "physical"),
)
def q_edge_lake_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    ev = table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix=f"edge_cdc_{uuid.uuid4().hex[:12]}_")
    lake = os.path.join(tmp, "lake")
    batches = [ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == i) for i in range(4)]
    click_edge_lake_versioned(spark, lake, batches)
    out = (
        read_click_edge_changes(spark, lake, 1, 3)
        .orderBy("src", "dst")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return out
