"""Pretraining-corpus quality filters — the document-level rule filters a
large-scale training-data pipeline runs before dedup (charter: text
analysis / quality scoring).

Rule set follows the public Gopher heuristics (Rae et al. 2021,
"Scaling Language Models", §A1.1: word-count bounds, mean-word-length
bounds, stopword presence, repetition ratios), with thresholds adapted to
the synthetic corpus so every rule is non-degenerate at all scale factors.

Scale shape: every signal here is computed per-row from the token array
with JVM array expressions — zero shuffles, embarrassingly parallel,
perfect linear scaling to 100 TB. The per-row lambda cost is bounded by
document length, not corpus size. (The DuckDB oracles compute the same
values via explode/GROUP BY — different plan, same numbers — which is
exactly what makes them independent checks.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

#: Stopword probe list (Gopher uses a similar tiny list). Presence of
#: common function words is a cheap fluency signal.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")

#: Rule thresholds (corpus-adapted; Gopher's originals in parens).
MIN_WORDS, MAX_WORDS = 5, 2000          # (50, 100k)
MIN_MEAN_WLEN, MAX_MEAN_WLEN = 2.0, 12.0  # (3, 10)
MIN_STOPWORD_FRAC = 0.01                 # (two stopwords per doc)
MAX_TOP_TOKEN_FRAC = 0.5                 # repetition cap


def _toks(text: Column) -> Column:
    return F.split(text, " ")


def gopher_signals(
    docs: DataFrame, text_col: str = "text", carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document quality signals + keep decision, all JVM-side.

    ``carry`` names extra input columns to keep in the output — pipeline
    composers (q_corpus_pipeline) use it to stay single-pass instead of
    joining the signals back onto the corpus (a fact self-shuffle at
    100 TB)."""
    toks = _toks(F.col(text_col))
    n = F.size(toks)
    mean_wlen = (F.length(text_col) - n + F.lit(1.0)) / n
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_frac = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / n
    # mode frequency via sorted-run fold: O(n log n) per row, no shuffle
    # (the distinct-list scan was O(distinct x n) — functions/arrays.py)
    from udacity_data_engineering_spark.functions.arrays import mode_count

    top_cnt = mode_count(toks)
    sig = docs.select(
        "doc_id",
        *carry,
        n.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_frac, 6).alias("stopword_frac"),
        F.round(top_cnt / n, 6).alias("top_token_frac"),
    )
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MIN_MEAN_WLEN, MAX_MEAN_WLEN)
        & (F.col("stopword_frac") >= MIN_STOPWORD_FRAC)
        & (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
    )
    return sig.withColumn("keep", keep)


@register(
    "q_gopher_rules",
    oracle=f"""
        WITH sig AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   round((length(text) - len(string_split(text, ' ')) + 1.0)
                         / len(string_split(text, ' ')), 6) AS mean_word_len,
                   round(CAST(len(list_filter(string_split(text, ' '),
                         t -> list_contains({list(STOPWORDS)}, t))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS stopword_frac,
                   round(CAST(list_max(list_transform(
                         list_distinct(string_split(text, ' ')),
                         d -> len(list_filter(string_split(text, ' '),
                                  t -> t = d)))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS top_token_frac
            FROM documents
        )
        SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
               stopword_frac, top_token_frac,
               (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                AND mean_word_len BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN}
                AND stopword_frac >= {MIN_STOPWORD_FRAC}
                AND top_token_frac <= {MAX_TOP_TOKEN_FRAC}) AS keep
        FROM sig
    """,
    doc="Gopher-style pretraining quality rules (word-count bounds, mean "
    "word length, stopword fraction, top-token repetition cap) computed "
    "per-row with array expressions — zero shuffles. Oracle recomputes "
    "every signal independently in DuckDB.",
    tags=("E10", "quality"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = gopher_signals(table(spark, sf_dir, "documents"))
    return sig.withColumn("n_words", F.col("n_words").cast("int"))


#: Distilled linear quality classifier — fixed weights over the Gopher
#: signals, the fastText-style "model-based quality filter" stage of a
#: pretraining pipeline, executed as PURE fused SQL expressions (no UDF,
#: no model server; cf. the operator-fusion-in-SQL inference pattern,
#: ICDE 2025 in PAPERS.md). At 100 TB this is the difference between a
#: scan-speed filter and shipping every document through Python.
QUALITY_CLF = {
    "bias": -2.6,
    "n_words": 0.01,  # applied to least(n_words, 1000)
    "mean_word_len": 0.5,
    "stopword_frac": 20.0,  # natural-prose signal, strongest weight
    "top_token_frac": -15.0,  # repetition penalty
}


def classifier_score(sig: DataFrame) -> DataFrame:
    """Logistic score over the (already 6-rounded) Gopher signal columns.

    Determinism contract: the inputs are identically rounded on any
    engine, the linear term is exact IEEE arithmetic, and only exp() is
    libm-dependent — so the score is rounded to 6 decimals and the label
    derives from the ROUNDED score, keeping both hash-comparable."""
    w = QUALITY_CLF
    z = (
        F.lit(w["bias"])
        + F.lit(w["n_words"]) * F.least(F.col("n_words").cast("double"), F.lit(1000.0))
        + F.lit(w["mean_word_len"]) * F.col("mean_word_len")
        + F.lit(w["stopword_frac"]) * F.col("stopword_frac")
        + F.lit(w["top_token_frac"]) * F.col("top_token_frac")
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return sig.select(
        "doc_id", score.alias("score"), (score >= 0.5).alias("keep")
    )


@register(
    "q_quality_classifier",
    oracle=f"""
        WITH sig AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   round((length(text) - len(string_split(text, ' ')) + 1.0)
                         / len(string_split(text, ' ')), 6) AS mean_word_len,
                   round(CAST(len(list_filter(string_split(text, ' '),
                         t -> list_contains({list(STOPWORDS)}, t))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS stopword_frac,
                   round(CAST(list_max(list_transform(
                         list_distinct(string_split(text, ' ')),
                         d -> len(list_filter(string_split(text, ' '),
                                  t -> t = d)))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS top_token_frac
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(
                       {QUALITY_CLF["bias"]}
                       + {QUALITY_CLF["n_words"]} * least(CAST(n_words AS DOUBLE), 1000.0)
                       + {QUALITY_CLF["mean_word_len"]} * mean_word_len
                       + {QUALITY_CLF["stopword_frac"]} * stopword_frac
                       + {QUALITY_CLF["top_token_frac"]} * top_token_frac
                   ))), 6) AS score
            FROM sig
        )
        SELECT doc_id, score, (score >= 0.5) AS keep FROM scored
    """,
    doc="Model-based quality filtering as pure fused SQL: a fixed-weight "
    "logistic classifier over the Gopher signals, scored inside the scan "
    "projection — no UDF, no Python, no model server; inference IS the "
    "query (the operator-fusion-in-SQL pattern). Signals are rounded "
    "identically on both engines; the label derives from the rounded "
    "score, so the query hash-proves despite libm exp().",
    tags=("E10", "quality", "llm-pipeline"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_score(gopher_signals(table(spark, sf_dir, "documents")))


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate-token fraction + top-bigram coverage, per-row JVM-side."""
    toks = _toks(F.col(text_col))
    n = F.size(toks)
    # zip two shifted slices instead of element_at(toks, i) in the lambda:
    # the optimizer inlines the split into the lambda, so per-index
    # element_at re-splits the text — O(tokens²) per doc (see ngram_counts)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    from udacity_data_engineering_spark.functions.arrays import mode_count

    top_big = mode_count(bigrams)
    # Domain: docs with >= 2 tokens — bigram coverage is undefined below
    # that, and Spark (NULL frac) vs an inner-join oracle (row dropped)
    # would diverge on the degenerate row.
    return docs.filter(F.size(_toks(F.col(text_col))) >= 2).select(
        "doc_id",
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)) / n.cast("double"), 6).alias(
            "dup_token_frac"
        ),
        F.round(top_big / (n - F.lit(1)).cast("double"), 6).alias("top_bigram_frac"),
    )


@register(
    "q_repetition_filter",
    oracle="""
        WITH big AS (
            SELECT doc_id, array_to_string(words[i:i+1], ' ') AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents),
                 LATERAL (SELECT unnest(
                     range(1, greatest(len(words) - 1, 0) + 1)) AS i)
        ), topb AS (
            SELECT doc_id, max(c) AS mx FROM (
                SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(1.0 - CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
                     / len(string_split(d.text, ' ')), 6) AS dup_token_frac,
               round(CAST(topb.mx AS DOUBLE)
                     / (len(string_split(d.text, ' ')) - 1), 6) AS top_bigram_frac
        FROM documents d JOIN topb ON d.doc_id = topb.doc_id
        WHERE len(string_split(d.text, ' ')) >= 2
    """,
    doc="Repetition filters (Gopher/C4 lineage): duplicate-token "
    "fraction and most-frequent-bigram coverage. Spark computes both "
    "per-row from the token array (no shuffle); the oracle recomputes "
    "the bigram mode via explode + GROUP BY — independent plans, same "
    "numbers.",
    tags=("E10", "quality"),
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_signals(table(spark, sf_dir, "documents"))


#: Scrub patterns — deliberately lookaround-free so the same pattern
#: means the same thing in Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def scrub_text(text: Column) -> Column:
    """Mask emails, URLs and phone-shaped numbers — the standard PII /
    boilerplate scrub a pretraining pipeline applies before tokenizing.
    Pure JVM regexp_replace chain: codegen'd, no shuffle, linear scan."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


@register(
    "q_text_scrub",
    oracle=f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                   text || ' reach me at user' || doc_id ||
                   '@mail.example.com or https://ex.org/d/' || doc_id ||
                   ' tel 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                   '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{URL_RE}', '<URL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM documents
    """,
    doc="PII/boilerplate scrub: email, URL and phone masking via a "
    "codegen'd regexp_replace chain (patterns chosen to mean the same "
    "in Java regex and RE2). The corpus has no organic PII, so the "
    "query plants deterministic doc_id-derived PII first and the oracle "
    "must scrub identically.",
    tags=("E10", "quality"),
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" reach me at user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or https://ex.org/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" tel 555-867-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    return docs.select("doc_id", scrub_text(planted).alias("clean"))


def token_entropy(text: Column) -> Column:
    """Shannon entropy (nats) of the token distribution — low entropy =
    repetitive/boilerplate text, a standard pretraining quality signal.
    Per-row JVM expressions: frequencies from the distinct-token list,
    then -sum(p ln p) via a fold. No shuffle."""
    toks = _toks(text)
    n = F.size(toks).cast("double")
    counts = F.transform(
        F.array_distinct(toks),
        lambda d: F.size(F.filter(toks, lambda t: t == d)).cast("double"),
    )
    return F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc - (c / n) * F.log(c / n),
    )


@register(
    "q_token_entropy",
    oracle="""
        SELECT doc_id,
               round(list_aggregate(
                   list_transform(
                       list_distinct(string_split(text, ' ')),
                       d -> -1.0 * len(list_filter(string_split(text, ' '),
                                                   t -> t = d))
                            / len(string_split(text, ' '))
                            * ln(CAST(len(list_filter(string_split(text, ' '),
                                                      t -> t = d)) AS DOUBLE)
                                 / len(string_split(text, ' ')))),
                   'sum'), 6) AS entropy
        FROM documents
    """,
    doc="E10: per-document token Shannon entropy (nats) — the "
    "low-entropy-equals-boilerplate quality signal. Computed per-row "
    "with a fold over distinct-token frequencies, zero shuffles; the "
    "oracle recomputes it with DuckDB list lambdas.",
    tags=("E10", "quality"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(token_entropy(F.col("text")), 6).alias("entropy")
    )


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column-level data profile: null count + exact distinct count per
    column, one row per column. Single pass over the data: every metric
    is computed in ONE aggregate (2 x |cols| expressions), then the
    scalar row is unpivoted driver-free with stack(). The audit every
    ingestion pipeline runs before trusting a feed.

    ``n_nulls`` is ``count(*) - count(c)``, so an empty input profiles
    as 0 nulls and 0 distinct per column (a sum over zero rows would be
    NULL)."""
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__n_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__d_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __n_{c}, __d_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_nulls, n_distinct)"
    )


@register(
    "q_profile",
    oracle="""
        SELECT 'o_orderkey' AS col, count(*) - count(o_orderkey) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL SELECT 'o_custkey', count(*) - count(o_custkey),
               count(DISTINCT o_custkey) FROM orders
        UNION ALL SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus) FROM orders
        UNION ALL SELECT 'o_totalprice', count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice) FROM orders
        UNION ALL SELECT 'o_orderdate', count(*) - count(o_orderdate),
               count(DISTINCT o_orderdate) FROM orders
    """,
    doc="Data profiling: per-column null + exact distinct counts over "
    "orders in a single aggregate pass, unpivoted with stack(). The "
    "oracle recomputes each column independently.",
    tags=("quality", "E1"),
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return profile(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )
