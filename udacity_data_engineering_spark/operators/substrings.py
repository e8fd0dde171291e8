"""Substring-level duplication detection — the span-granular member of
the dedup family (charter: LLM-data-pipeline dedup).

Document-level dedup (exact / MinHash / SimHash) misses the dominant
real-corpus pattern: mostly-distinct documents sharing long VERBATIM
spans (boilerplate headers, licenses, quoted passages, templated
paragraphs). The reference design is suffix-array exact substring dedup
(Lee et al., "Deduplicating Training Data Makes Language Models
Better", arXiv:2107.06499); a suffix array is inherently
single-machine, so the Spark-native re-expression fingerprints every
word n-gram window and detects spans shared across documents with one
digest-keyed aggregation:

- every window of ``n`` consecutive words -> sha2-256 fingerprint
  (JVM-side slice/concat/sha2 — no Python hop);
- a span appearing in >= ``min_docs`` distinct documents is a
  duplicated span; with every-position windows (keep_mod=1) ANY
  verbatim cross-doc overlap of >= n words is detected — the
  suffix-array exactness guarantee at n-word resolution;
- ``keep_mod`` > 1 switches to winnowing-style CONTENT-DEFINED
  sampling (Schleimer et al., SIGMOD'03): keep only windows whose
  digest value (last two hex chars) ≡ 0 mod keep_mod. Selection
  depends on span content alone, so a span sampled in one document is
  sampled in every document containing it — unlike positional
  stride-sampling, which silently misses copies whose word offsets
  are misaligned mod the stride. Detection stays exact for spans long
  enough to contain >= 1 selected window (expected n + keep_mod
  words); shuffle volume drops by ~keep_mod.

Scale shape: the shuffle carries (doc_id, 32-byte digest) rows —
O(words) at keep_mod=1, O(words/keep_mod) winnowed — never span text;
the distinct-doc count is a partial-aggregating groupBy on the digest;
the per-doc flags query joins spans to duplicated digests on the
digest key (shuffle join — the dup-span set is corpus-sized, not
broadcastable). Reference parity note: the reference repo (etl.py) has
no substring operator; this is charter extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.similarity import spread
from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

#: Default window width, in words — the span resolution. 20 words ≈ the
#: 50-BPE-token threshold the substring-dedup literature uses.
SPAN_WORDS = 20


def _winnow_keep(fp: Column, keep_mod: int) -> Column:
    """Content-defined sampling predicate: value of the digest's last
    two hex chars mod ``keep_mod`` == 0. Deterministic on content, and
    reproducible verbatim in the DuckDB oracles (strpos-based hex
    recovery there, conv() here)."""
    return (F.conv(F.substring(fp, 63, 2), 16, 10).cast("int") % keep_mod) == 0


def span_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SPAN_WORDS,
    keep_mod: int = 1,
) -> DataFrame:
    """(doc_id, fp): one row per (sampled) word n-gram window. Documents
    shorter than ``n`` words contribute nothing (no n-word span exists).
    All JVM-side: split once, slice+concat+sha2 per window inside one
    transform/explode — the digest is computed where the scan runs and
    is the only thing wider than the doc id that ever shuffles."""
    words = F.split(F.col(text_col), " ")
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"), words.alias("__w")
    ).filter(F.size("__w") >= n)
    k = F.size(F.col("__w")) - (n - 1)
    spans = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.sha2(
                    F.concat_ws(" ", F.slice(F.col("__w"), i, n)), 256
                ),
            )
        ).alias("fp"),
    )
    if keep_mod > 1:
        spans = spans.filter(_winnow_keep(F.col("fp"), keep_mod))
    return spans


def duplicate_spans(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    keep_mod: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """(fp, n_docs, n_spans): every span fingerprint appearing in >=
    ``min_docs`` distinct documents, with its distinct-doc count and
    total occurrence count. One partial-aggregating groupBy on the
    digest."""
    return (
        span_fingerprints(docs, n=n, keep_mod=keep_mod)
        .groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def doc_dup_span_counts(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    keep_mod: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """(doc_id, n_dup_spans): per document, how many of its spans are
    duplicated across the corpus — the flagging pass a curation
    pipeline thresholds on (drop or trim documents dominated by
    boilerplate). Two passes over the span table (aggregate to find
    duplicated digests, then a digest-keyed join back); at 100 TB
    persist the span table between the passes instead of recomputing —
    kept lazy here so the operator composes without storage
    side-effects."""
    spans = span_fingerprints(docs, n=n, keep_mod=keep_mod)
    dup = (
        spans.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("fp")
    )
    return (
        spans.join(dup, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )


_SPANS_SQL = """
        SELECT doc_id, sha256(array_to_string(words[i:i+{m}], ' ')) AS fp
        FROM (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents),
             LATERAL (SELECT unnest(
                 range(1, greatest(len(words) - {m}, 0) + 1)) AS i)
""".format(m=SPAN_WORDS - 1)


@register(
    "q_substring_dupes",
    oracle=f"""
        WITH spans AS ({_SPANS_SQL})
        SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    """,
    doc="Substring-level dedup (Lee et al. arXiv:2107.06499, Spark-"
    "native): sha2 fingerprint of EVERY 20-word window, spans shared by "
    ">=2 distinct documents with doc/occurrence counts. Every-position "
    "windows make detection exact for any verbatim cross-doc overlap "
    ">= 20 words. Hash-proven: DuckDB recomputes the identical sha256 "
    "over the identical word windows.",
    tags=("E11", "dedup", "llm-pipeline"),
)
def q_substring_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_spans(table(spark, sf_dir, "documents"))


@register(
    "q_substring_dupes_winnowed",
    oracle=f"""
        WITH spans AS ({_SPANS_SQL}),
        kept AS (
            SELECT * FROM spans
            WHERE ((strpos('0123456789abcdef', substr(fp, 63, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(fp, 64, 1)) - 1)) % 4 = 0
        )
        SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_spans
        FROM kept GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    """,
    doc="The winnowed (content-defined sampling, Schleimer et al. "
    "SIGMOD'03) scale path of q_substring_dupes: keep only windows "
    "whose digest value (last two hex chars) is 0 mod 4 — selection "
    "depends on span content alone, so a sampled span is sampled in "
    "EVERY document containing it (positional stride sampling has no "
    "such guarantee), and shuffle volume drops ~4x. Hash-proven: the "
    "oracle reproduces the digest-derived selector via hex-char "
    "recovery.",
    tags=("E11", "dedup", "llm-pipeline"),
)
def q_substring_dupes_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_spans(table(spark, sf_dir, "documents"), keep_mod=4)


@register(
    "q_substring_doc_flags",
    oracle=f"""
        WITH spans AS ({_SPANS_SQL}),
        dup AS (
            SELECT fp FROM spans GROUP BY fp
            HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
        FROM spans s JOIN dup USING (fp)
        GROUP BY s.doc_id
    """,
    doc="Per-document duplicated-span counts — the flagging pass a "
    "curation pipeline thresholds on (documents dominated by verbatim "
    "boilerplate get dropped or trimmed). Digest-keyed aggregate + "
    "join-back; hash-proven vs the identical DuckDB recomputation.",
    tags=("E11", "dedup", "llm-pipeline"),
)
def q_substring_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_dup_span_counts(table(spark, sf_dir, "documents"))


def substring_lake_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SPAN_WORDS,
    keep_mod: int = 1,
) -> DataFrame:
    """(fp): the persistable substring-dedup lake state — the DISTINCT
    span fingerprints of the accumulated corpus. Deterministic (pure
    content hash), so appending each admitted batch's new fingerprints
    keeps the table equal to a from-scratch rebuild — the same
    write-once-state posture as minhash_lake_index /
    simhash_lake_index (incremental.py). Size is O(corpus words) 32-byte
    digests at keep_mod=1 — the Spark analogue of Lee et al.'s
    suffix-array being corpus-sized — and ~keep_mod× smaller winnowed;
    at 100 TB persist it bucketed by ``fp`` so batch probes are
    co-located, shuffle-free semi-joins."""
    return (
        span_fingerprints(docs, id_col, text_col, n, keep_mod)
        .select("fp")
        .distinct()
    )


def incremental_substring_flags(
    batch: DataFrame,
    lake_spans: DataFrame,
    n: int = SPAN_WORDS,
    keep_mod: int = 1,
) -> DataFrame:
    """(doc_id, n_dup_spans) per BATCH document: how many of its spans
    are duplicated — against the accumulated lake (via the persisted
    fingerprint state, ``lake_spans`` exposing one ``fp`` column) or
    within the batch itself (>= 2 distinct batch docs) — without ever
    re-fingerprinting lake text. The daily-crawl cadence for
    substring-level dedup, completing the incremental family
    (exact: incremental.py:36, MinHash: :147, SimHash: :322).

    Cost scales with the BATCH: the batch fingerprints itself once
    (linear), aggregates its own digests, and probes the lake state
    with ONE left-semi join on 32-byte keys restricted to the batch's
    fingerprints — lake documents contribute nothing but their
    persisted digests.

    Equivalence contract (pinned in tests/test_substrings.py): equal to
    doc_dup_span_counts(batch ∪ lake) restricted to batch doc ids,
    because a batch span is cross-corpus-duplicated iff it appears in
    >= 2 distinct batch docs or in any lake doc (batch and lake id
    spaces are distinct ingest generations)."""
    spans = span_fingerprints(batch, n=n, keep_mod=keep_mod)
    intra = (
        spans.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("fp")
    )
    cross = (
        spans.select("fp")
        .distinct()
        .join(lake_spans.select("fp"), "fp", "left_semi")
    )
    dup = intra.unionByName(cross).distinct()
    return (
        spans.join(dup, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )


@register(
    "q_incremental_substring",
    oracle=f"""
        WITH spans AS ({_SPANS_SQL}),
        dup AS (
            SELECT fp FROM spans GROUP BY fp
            HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
        FROM spans s JOIN dup USING (fp)
        WHERE s.doc_id % 2 = 1
        GROUP BY s.doc_id
    """,
    doc="Incremental substring dedup: the incoming batch (odd doc_ids) "
    "fingerprints its 20-word windows ONCE and probes the lake's (even "
    "doc_ids) persisted span-digest table with one semi-join — "
    "duplicated-span counts per batch doc against lake ∪ batch, with "
    "lake text never re-fingerprinted. Hash-proven: equals the "
    "from-scratch q_substring_doc_flags restricted to batch docs, which "
    "DuckDB recomputes over the identical sha256 windows.",
    tags=("E11", "dedup", "llm-pipeline"),
)
def q_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    lake = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_substring_flags(batch, substring_lake_index(lake))


def span_position_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SPAN_WORDS,
) -> DataFrame:
    """(doc_id, pos, fp): span_fingerprints keeping the 1-based word
    position of each window — the input removal needs (flagging only
    counts, so span_fingerprints stays position-free and 8 bytes
    narrower per row)."""
    words = F.split(F.col(text_col), " ")
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"), words.alias("__w")
    ).filter(F.size("__w") >= n)
    k = F.size(F.col("__w")) - (n - 1)
    return base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.sha2(
                        F.concat_ws(" ", F.slice(F.col("__w"), i, n)), 256
                    ).alias("fp"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.fp")


def duplicate_ranges(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    min_docs: int = 2,
) -> DataFrame:
    """(doc_id, range_start, range_end, n_windows): the MAXIMAL
    duplicated word ranges per document — overlapping/abutting
    duplicated n-word windows coalesced into one [range_start,
    range_end] interval (1-based, inclusive). This is the REMOVAL
    granularity of substring dedup (Lee et al. arXiv:2107.06499 cut
    the exact duplicated substring, not fixed windows): a 100-word
    verbatim boilerplate block is 81 overlapping 20-word windows but
    ONE range to splice out.

    Shape: the window table aggregates once on the digest to find
    cross-doc duplicates (partial-agg groupBy), joins back on the
    digest, then coalescing is one per-doc window pass — classic
    gaps-and-islands: a new island starts where the position gap
    exceeds ``n`` (beyond adjacency of covered intervals). Per-doc
    state in WindowExec is streamed + spillable; nothing here is
    quadratic in corpus or document size."""
    from pyspark.sql.window import Window

    spans = span_position_fingerprints(docs, n=n)
    dup = (
        spans.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("fp")
    )
    flagged = spans.join(dup, "fp").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn(
        "__nf",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > n),
            1,
        ).otherwise(0),
    ).withColumn(
        "__rid",
        F.sum("__nf").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("doc_id", "__rid").agg(
        F.min("pos").alias("range_start"),
        (F.max("pos") + F.lit(n - 1)).alias("range_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "range_start", "range_end", "n_windows")


_SPANS_POS_SQL = """
        SELECT doc_id, CAST(i AS INT) AS pos,
               sha256(array_to_string(words[i:i+{m}], ' ')) AS fp
        FROM (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents),
             LATERAL (SELECT unnest(
                 range(1, greatest(len(words) - {m}, 0) + 1)) AS i)
""".format(m=SPAN_WORDS - 1)


@register(
    "q_substring_ranges",
    oracle=f"""
        WITH spans AS ({_SPANS_POS_SQL}),
        dup AS (
            SELECT fp FROM spans GROUP BY fp
            HAVING count(DISTINCT doc_id) >= 2
        ), flagged AS (
            SELECT doc_id, pos FROM spans JOIN dup USING (fp)
        ), isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos - lag(pos) OVER w > {SPAN_WORDS}
                        THEN 1 ELSE 0 END AS nf
            FROM flagged
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), rid AS (
            SELECT doc_id, pos,
                   sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS rid
            FROM isl
        )
        SELECT doc_id,
               min(pos) AS range_start,
               CAST(max(pos) + {SPAN_WORDS - 1} AS INT) AS range_end,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM rid GROUP BY doc_id, rid
    """,
    doc="Maximal duplicated word ranges per document: q_substring_dupes' "
    "overlapping 20-word duplicate windows coalesced into [start, end] "
    "intervals via per-doc gaps-and-islands — the removal granularity "
    "of Lee et al.'s substring dedup (splice out the exact duplicated "
    "block once, not 81 overlapping windows). Hash-proven: DuckDB "
    "recomputes the identical sha256 windows, island assignment and "
    "interval bounds.",
    tags=("E11", "dedup", "llm-pipeline"),
)
def q_substring_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_ranges(table(spark, sf_dir, "documents"))


def scrub_duplicate_spans(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    min_docs: int = 2,
) -> DataFrame:
    """(doc_id, n_kept, n_removed, scrubbed): the REMOVAL step of
    substring dedup — Lee et al. (arXiv:2107.06499) delete every
    duplicated span occurrence except one; here the KEEPER of each
    duplicated window is the minimum doc_id containing it (their
    "remove all but one" with a deterministic, engine-portable choice),
    and every other document loses the words covered by its flagged
    windows. ``scrubbed`` is the surviving text (original word order);
    docs shorter than ``n`` words pass through untouched.

    Shape (optimization round 16, guide §2.3/§2.4 — shuffle spans, not
    words): the span table aggregates once on the digest (partial-agg
    groupBy carrying (fp -> min doc)) and joins back to non-keeper
    window occurrences; the flagged window STARTS then collapse to one
    array row per affected document (one flagged-row-sized exchange),
    and the scrub itself is per-row array algebra on the doc's split
    words — coverage expansion via flatten(sequence), kept positions
    via hash-based array_except (order-preserving over the ascending
    position sequence), reassembly via element_at. The round-15 shape
    instead posexploded every document into word rows, left-joined the
    exploded covered positions and re-collected per doc — three
    word-count-sized exchanges (covered distinct, word join, final
    collect_list) that this formulation removes outright; nothing
    word-level is ever shuffled now, and the only per-word work is the
    one split every formulation needs. Measured same-session: the
    word-level tail was ~half the query's warm wall (OPTIMIZATION_r16.md)."""
    spans = span_position_fingerprints(docs, n=n)
    keepers = spans.groupBy("fp").agg(
        F.min("doc_id").alias("__keeper"),
        F.countDistinct("doc_id").alias("__nd"),
    ).filter(F.col("__nd") >= min_docs)
    flagged = (
        spans.join(keepers, "fp")
        .filter(F.col("doc_id") != F.col("__keeper"))
        .select("doc_id", "pos")
    )
    # one array row per affected doc: flagged window starts -> covered
    # positions (start..start+n-1 each, deduped); bounded by doc length
    covered = flagged.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.collect_list("pos"),
                    lambda p: F.sequence(p, p + F.lit(n - 1)),
                )
            )
        ).alias("__cov")
    )
    # a null-text doc has no spans and no scrubbed text: drop it, as the
    # oracle does (split(NULL) would emit a (doc_id, NULL, NULL, '') row)
    base = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("__w"))
    )
    pos = F.sequence(F.lit(1), F.size("__w"))
    # covered starts never exceed len - n + 1, so __cov stays within
    # 1..len and kept-count arithmetic below is exact
    cov = F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    kept = F.array_except(pos, cov)
    return (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size(kept).cast("int").alias("n_kept"),
            (F.size(F.col("__w")) - F.size(kept)).cast("int").alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(kept, lambda p: F.element_at(F.col("__w"), p)),
            ).alias("scrubbed"),
        )
    )


@register(
    "q_substring_scrub",
    oracle=f"""
        WITH spans AS ({_SPANS_POS_SQL}),
        keepers AS (
            SELECT fp, min(doc_id) AS keeper
            FROM spans GROUP BY fp
            HAVING count(DISTINCT doc_id) >= 2
        ), covered AS (
            SELECT DISTINCT s.doc_id, s.pos + d.off AS pos
            FROM spans s JOIN keepers k USING (fp),
                 LATERAL (SELECT unnest(range(0, {SPAN_WORDS})) AS off) d
            WHERE s.doc_id <> k.keeper
        ), words AS (
            SELECT doc_id, w, CAST(po AS INT) AS pos FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS po
                FROM documents
            )
        ), marked AS (
            SELECT wo.doc_id, wo.w, wo.pos, c.pos IS NOT NULL AS cut
            FROM words wo LEFT JOIN covered c
              ON wo.doc_id = c.doc_id AND wo.pos = c.pos
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN NOT cut THEN 1 ELSE 0 END) AS INT) AS n_kept,
               CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS INT) AS n_removed,
               coalesce(string_agg(CASE WHEN NOT cut THEN w END, ' '
                                   ORDER BY pos), '') AS scrubbed
        FROM marked GROUP BY doc_id
    """,
    doc="The REMOVAL step of substring dedup (Lee et al.): each "
    "duplicated 20-word window survives only in its minimum-doc_id "
    "keeper; every other document emits its text with the covered "
    "words spliced out, plus kept/removed word counts. Hash-proven "
    "end to end INCLUDING the reassembled text: DuckDB recomputes "
    "the identical keeper choice, coverage expansion and ordered "
    "reassembly.",
    tags=("E11", "dedup", "llm-pipeline"),
)
def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_duplicate_spans(table(spark, sf_dir, "documents"))
