"""Near-duplicate detection, remaining family members (SURVEY §2B /
charter): SimHash over text, exact embedding-cosine near-dup pairs, and
a random-hyperplane LSH bucketing as the ANN scale path.

Scale shapes:
- SimHash: signature = 64 sign-bits of token-hash sums — O(tokens) per
  doc, shuffle carries 8-ish bytes; banding the bits gives candidate
  buckets (pigeonhole: Hamming<=3 pairs always share one of 4 bands;
  16-bit band keys keep hot buckets 256x smaller than the 32-bit form).
- Embedding near-dup: the exact all-pairs form is the oracle; the LSH
  form buckets by hyperplane sign-bits so only same-bucket pairs are
  compared — O(docs x buckets) instead of O(docs^2).

Everything is JVM-side array math (transform/aggregate/zip_with); the
random hyperplanes are seeded literals so plans are deterministic.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from udacity_data_engineering_spark.operators.guards import oracle_scale_guard
from udacity_data_engineering_spark.operators.similarity import (
    band_explode,
    bucket_pairs,
    bucket_pairs_streamed,
    cosine,
    dot,
    l2_norm,
    spread,
)
from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.session import table

_POW2 = [1 << i for i in range(32)]


def _majority_bits(hashes: Column, n: Column) -> Column:
    """32 majority-vote bits (int 0/1, LSB first) over an array of
    32-bit token hashes. Bit extraction is integer div/mod against a
    literal power table (no column-shift builtin needed,
    ANSI-overflow-safe)."""
    pow2 = F.array(*[F.lit(p) for p in _POW2])
    return F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: F.when(
            2
            * F.size(
                F.filter(
                    hashes,
                    lambda h: F.pmod(
                        (h / F.element_at(pow2, i + 1)).cast("long"), F.lit(2)
                    )
                    == 1,
                )
            )
            > n,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def simhash32(text_col: Column) -> Column:
    """32-bit SimHash as an array of 32 bits (int 0/1), LSB first.

    bit_i = majority vote of token-hash bit_i over the document's tokens.
    Token hashes fold xxhash64 into [0, 2^32)."""
    toks = F.split(text_col, " ")
    hashes = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(1 << 32)))
    return _majority_bits(hashes, F.size(hashes))


def simhash64(text_col: Column) -> Column:
    """64-bit SimHash (two independent 32-bit halves concatenated) — the
    production signature width, matching the classic web-dedup design
    point (64-bit fingerprints, Hamming<=3, 4 bands of 16 bits; Manku,
    Jarvelin-Das Sarma, WWW'07). The width is what makes banding scale:
    an 8-bit band key (32-bit sig / 4 bands) has 256 buckets, so bucket
    size — and the O(size^2) per-bucket pair work — grows linearly with
    the corpus; a 16-bit band key gives 65,536 buckets per band, ~256x
    smaller hot buckets for the same pigeonhole recall guarantee."""
    toks = F.split(text_col, " ")
    h_lo = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(1 << 32)))
    # second independent 32 bits: xxhash64 with an extra salt column
    h_hi = F.transform(
        toks, lambda t: F.pmod(F.xxhash64(t, F.lit(0x9E3779B9)), F.lit(1 << 32))
    )
    n = F.size(h_lo)
    return F.concat(_majority_bits(h_lo, n), _majority_bits(h_hi, n))


#: Production SimHash signature width (see simhash64).
SIMHASH_BITS = 64


def _pack_bits(bits: Column) -> Column:
    """Fold a 32-element 0/1 array into one long (bit i = array idx i)."""
    pow2 = F.array(*[F.lit(p) for p in _POW2])
    return F.aggregate(
        F.zip_with(bits, pow2, lambda b, p: b.cast("long") * p),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash64_packed(text_col: Column) -> Column:
    """The production representation of simhash64: a struct of two longs
    (lo = bits 0..31, hi = bits 32..63). Same bits as the array form —
    ``_pack_bits`` is a bijection — but Hamming distance becomes two
    ``bit_count(xor)`` JVM ops instead of a 64-element higher-order-
    function fold: measured ~10x on the sf0.1 candidate-verify stage,
    where a hot band bucket makes pair verification the dominant cost."""
    toks = F.split(text_col, " ")
    h_lo = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(1 << 32)))
    h_hi = F.transform(
        toks, lambda t: F.pmod(F.xxhash64(t, F.lit(0x9E3779B9)), F.lit(1 << 32))
    )
    n = F.size(h_lo)
    return F.struct(
        _pack_bits(_majority_bits(h_lo, n)).alias("lo"),
        _pack_bits(_majority_bits(h_hi, n)).alias("hi"),
    )


def hamming_packed(a_lo: Column, a_hi: Column, b_lo: Column, b_hi: Column) -> Column:
    """Hamming distance between two packed 64-bit signatures."""
    return F.bit_count(a_lo.bitwiseXOR(b_lo)) + F.bit_count(a_hi.bitwiseXOR(b_hi))


def packed_band_keys(lo: Column, hi: Column) -> Column:
    """The 4 x 16-bit band keys of a packed signature as an array of
    (band_id, band_key) structs — unsigned shift + mask on the packed
    longs, no bit array materialized and no float arithmetic (a Column/lit
    divide is a double Divide — exact only while words stay under 2^53;
    the shift form has no such precondition if the layout ever widens)."""
    def _k(word: Column, shift: int) -> Column:
        return F.shiftrightunsigned(word, shift).bitwiseAND(F.lit((1 << 16) - 1))

    return F.array(
        F.struct(F.lit(0).alias("band_id"), _k(lo, 0).alias("band_key")),
        F.struct(F.lit(1).alias("band_id"), _k(lo, 16).alias("band_key")),
        F.struct(F.lit(2).alias("band_id"), _k(hi, 0).alias("band_key")),
        F.struct(F.lit(3).alias("band_id"), _k(hi, 16).alias("band_key")),
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0), lambda acc, x: acc + x
    )


#: SimHash bucket cap. Band keys have a FIXED keyspace (2^16 per band at
#: the 64-bit/4-band production width), so bucket sizes still grow
#: linearly with corpus size — just 256x slower than the 32-bit/8-bit-band
#: scheme whose minhash-sized cap (100) silently dropped 92% of true
#: Hamming<=3 pairs at sf0.1 (measured; RECALL.md — the incident that
#: motivated both the width upgrade and drop accounting). 5000 keeps the
#: pigeonhole guarantee exact until average bucket occupancy ~5000, i.e.
#: ~300M docs per band; beyond that widen the signature / add bands, and
#: watch q_neardup_drop_accounting for n_capped > 0.
SIMHASH_BUCKET_CAP = 5000


def simhash_sigs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, lo, hi): one row per document with its packed 64-bit
    signature — the ONE signature definition shared by the candidate
    path and its stats companion so the audit can never drift from the
    audited path.

    NULL text is filtered (same rule as the embedding paths): a null doc
    has no tokens to vote, so it would collapse to the all-zero
    signature and every null-text doc would surface as a Hamming-0
    "duplicate" of every other — similarity semantics only apply to rows
    that carry text. The exact ground truth (exact_hamming_pairs)
    applies the identical filter."""
    return spread(docs.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col).alias("doc_id"), simhash64_packed(F.col(text_col)).alias("s")
    ).select("doc_id", "s.lo", "s.hi")


def simhash_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int | None = None,
) -> DataFrame:
    """(lo, hi, ids): one row per distinct packed signature with its
    sorted member doc ids. With ``cap``, over-cap cliques are pruned by
    a windowed count BEFORE the member array is built (upper bound only
    — singleton signatures stay, they still band for cross-signature
    pairs), so a million-doc boilerplate clique never materializes as
    one collect_list row only to be discarded (the round-6
    pre-materialization cap discipline; in_cap_groups' >=2 lower bound
    makes it unusable here)."""
    from pyspark.sql.window import Window

    sig = simhash_sigs(docs, id_col, text_col)
    if cap is not None:
        m = F.count(F.lit(1)).over(Window.partitionBy("lo", "hi"))
        sig = sig.withColumn("__m", m).filter(F.col("__m") <= cap).drop("__m")
    return sig.groupBy("lo", "hi").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )


def simhash_banded(sigs: DataFrame) -> DataFrame:
    """Explode rows carrying (lo, hi, ...) into banding rows — all input
    columns preserved plus (band_id, band_key). Works for signature
    groups (with ids) and for bare distinct-signature rows alike."""
    cols = sigs.columns
    return sigs.select(
        "*",
        F.explode(packed_band_keys(F.col("lo"), F.col("hi"))).alias("b"),
    ).select(*cols, "b.band_id", "b.band_key")


def simhash_group_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap: int = SIMHASH_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """(groups, gpairs): the signature-group table (lo, hi, ids) and the
    banded GROUP-level candidate pairs with their exact Hamming
    distance — the shared core of simhash_candidates (which expands
    groups to member pairs) and simhash_survivors (which keeps the
    graph at group granularity + star edges, the clique-proof survivor
    structure). gpairs are ordered by group min-id (unique per
    signature group), so pairs come out canonically oriented and the
    same group pair seen in several bands collapses in ONE distinct —
    while rows are still per-group."""
    groups = simhash_groups(docs, id_col, text_col, cap=cap)
    banded = simhash_banded(groups)
    gpairs = bucket_pairs_streamed(
        banded,
        ["band_id", "band_key"],
        F.struct("lo", "hi", "ids"),
        F.element_at(F.col("ids"), 1),
        cap=cap,
    ).withColumn(
        "hamming",
        hamming_packed(F.col("a.lo"), F.col("a.hi"), F.col("b.lo"), F.col("b.hi")),
    )
    return groups, gpairs


def simhash_group_graph(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """The GROUP-GRANULAR near-dup graph: (doc_a, doc_b, hamming) rows
    where identical-signature cliques appear as m-1 linear rep→member
    star edges (hamming 0, rep = min member id) instead of C(m,2)
    expanded pairs, and cross-group links appear once per REP pair
    (verified Hamming 1..max_hamming) instead of |A|×|B| member pairs.

    Connectivity is identical to the expanded candidate graph (two
    clique members meet through their rep; two cliques meet through
    their reps), so any component/union-find consumer — dedup
    survivors, cluster audits — gets the same answer from
    asymptotically fewer rows: output is O(groups + rep_pairs), not
    O(Σ m² ). This is the emission the 100× probe wants for the one
    output-bound row simhash_candidates had left (18.5× for 100× rows
    — all of it C(m,2) intra-clique pair VOLUME, SCALE.md): callers
    that need the decision, not the pair list, should consume this
    surface (or pass expand_pairs=False to simhash_candidates)."""
    groups, gpairs = simhash_group_pairs(docs, id_col, text_col, cap)
    stars = (
        groups.filter(F.size("ids") >= 2)
        .select(
            F.element_at(F.col("ids"), 1).alias("doc_a"),
            F.explode("ids").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .withColumn("hamming", F.lit(0))
    )
    rep_edges = (
        gpairs.filter(
            (F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming)
        )
        .select(
            F.element_at(F.col("a.ids"), 1).alias("doc_a"),
            F.element_at(F.col("b.ids"), 1).alias("doc_b"),
            "hamming",
        )
        .distinct()
    )
    return stars.unionAll(rep_edges)


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 3,
    cap: int = SIMHASH_BUCKET_CAP,
    fail_on_drops: bool = False,
    expand_pairs: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64 signature bits into ``bands``
    chunks — any pair within Hamming distance (bands-1) shares at least
    one whole band (pigeonhole), so bucketing on (band_id, band_bits)
    finds them with one shuffle. Candidates are then verified exactly
    with the full Hamming distance.

    Identical signatures are collapsed FIRST (the classic web-dedup
    structure): an undeduped corpus is mostly duplicate cliques, and a
    clique of m docs would otherwise surface as C(m,2) candidate rows in
    EVERY band plus a distinct() to merge them — measured 3x on sf0.1.
    Intra-clique pairs are emitted directly at Hamming 0; banding and
    Hamming verification run on DISTINCT signatures only, and surviving
    group pairs expand to member pairs at the end.

    ``cap`` bounds both quadratic frontiers, with drop accounting in
    simhash_candidate_stats: cliques larger than ``cap`` are dropped
    (near-identical content exact dedup must consume first), as are
    band buckets holding more than ``cap`` distinct signatures.

    Signatures travel packed (two longs, simhash64_packed): the shuffle
    carries 16 bytes instead of a 64-element array, and the per-pair
    verify is two bit_count(xor) ops — on a homogeneous corpus a single
    hot band can hold hundreds of similar-but-distinct signatures, so
    verify volume, not banding, dominates.

    ``fail_on_drops=True`` raises (one extra eager audit job) if ANY of
    the three capped frontiers dropped work — over-cap cliques, their
    cross-band exposure, or over-cap band buckets.

    ``expand_pairs=False`` returns the group-granular graph instead
    (simhash_group_graph): rep→member star edges + verified rep pairs —
    same connectivity, O(groups + rep_pairs) rows instead of O(Σ m²).
    Use it whenever the consumer is a component/decision step rather
    than a materialized pair list; on a duplicate-heavy corpus the
    expanded emission's OUTPUT volume is the dominant cost (the 100×
    probe's 18.5× row)."""
    if bands != 4:
        raise ValueError("packed simhash banding is fixed at 4 x 16 bits")
    if fail_on_drops:
        from udacity_data_engineering_spark.operators.similarity import (
            assert_no_drops,
        )

        assert_no_drops(
            simhash_candidate_stats(docs, id_col, text_col, bands, cap),
            "simhash_candidates",
        )
    if not expand_pairs:
        return simhash_group_graph(docs, id_col, text_col, max_hamming, cap)
    # over-cap cliques pruned pre-materialization inside simhash_groups
    groups, gpairs = simhash_group_pairs(docs, id_col, text_col, cap)
    # intra-clique pairs (identical sigs, Hamming 0): double-explode of
    # the member array — streams m^2 pairs without ever materializing a
    # C(m,2) pair array in one row
    intra = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("x"), "ids")
        .select("x", F.explode("ids").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    inter = (
        gpairs.filter((F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming))
        .select(F.col("a.ids").alias("ia"), F.col("b.ids").alias("ib"), "hamming")
        .distinct()
        .select(F.explode("ia").alias("x"), "ib", "hamming")
        .select("x", F.explode("ib").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "hamming",
        )
    )
    return intra.unionAll(inter)


def exact_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> set[tuple[int, int]]:
    """Exact all-pairs Hamming<=k ground truth for SimHash — the recall
    yardstick (RECALL.md, tests/test_recall_floors.py), computed on the
    SAME production signature (simhash64). Driver-side by design:
    signatures are N x 64 bits (measurement-sized), and hamming
    = |a| + |b| - 2 a.b for 0/1 vectors via one GEMM. Quadratic — a
    measurement tool, never a production path."""
    sig = (
        spread(docs.filter(F.col(text_col).isNotNull()))  # same rule as simhash_groups
        .select(F.col(id_col).alias("doc_id"), simhash64(F.col(text_col)).alias("sig"))
        .collect()
    )
    if not sig:
        return set()
    ids = np.array([r.doc_id for r in sig], dtype=np.int64)
    bits = np.array([r.sig for r in sig], dtype=np.int32)
    ones = bits.sum(axis=1)
    ham = ones[:, None] + ones[None, :] - 2 * (bits @ bits.T)
    ia, ib = np.where(np.triu(ham <= max_hamming, k=1))
    return {
        (int(min(x, y)), int(max(x, y))) for x, y in zip(ids[ia], ids[ib])
    }


@register(
    "q_simhash_candidates",
    doc="SimHash near-dup pairs (64-bit signatures, 4 bands of 16 bits, "
    "Hamming<=3 verified exactly — the classic web-dedup design point). "
    "Hash-function-specific — rows-only driver check; tests assert "
    "detection of crafted near-identical docs and pigeonhole-exact "
    "recall vs the all-pairs ground truth.",
    tags=("dedup",),
)
def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_candidates(table(spark, sf_dir, "documents"))


def simhash_survivors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    cap: int = SIMHASH_BUCKET_CAP,
    *keep_cols: str,
) -> DataFrame:
    """SimHash-based dedup DECISION: connected components over the
    verified (Hamming <= max_hamming) signature-group graph, min-doc_id
    survivor per component — the end-to-end tail q_minhash_dedup_
    survivors has, for the SimHash leg.

    Clique-proof by the same structure as the round-7 MinHash redesign:
    the component graph stays at GROUP granularity — one vertex per
    distinct signature (its min member id), verified group pairs as
    edges — and identical-signature members attach via linear
    rep—member star edges, never the C(m,2) intra-pair expansion the
    candidate query emits as OUTPUT. Connectivity equals the expanded
    graph's, so survivor sets match a union-find over the member-level
    pairs (test-pinned); NULL-text docs carry no signature and survive
    unconditionally (similarity semantics need text)."""
    from udacity_data_engineering_spark.operators.components import (
        connected_components,
        min_id_survivors,
    )

    graph = simhash_group_graph(docs, id_col, text_col, max_hamming, cap)
    comp = connected_components(
        graph.select("doc_a", "doc_b"), "doc_a", "doc_b"
    )
    return min_id_survivors(docs, comp, id_col, *keep_cols)


@register(
    "q_simhash_survivors",
    doc="E11/E12: the SimHash dedup decision — components over the "
    "verified Hamming<=3 signature-group graph (group-granular vertices "
    "+ linear rep-member star edges: the clique-proof survivor "
    "structure), min doc_id per component, unpaired docs survive. "
    "Hash-function-specific => rows-only; tests assert survivor-set "
    "equality vs a union-find over the exact all-pairs Hamming<=3 "
    "ground truth (recall is exactly 1.0 by pigeonhole at the "
    "production cap).",
    tags=("E11", "E12", "dedup"),
)
def q_simhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_survivors(
        table(spark, sf_dir, "documents"), "doc_id", "text", 3,
        SIMHASH_BUCKET_CAP, "lang", "source",
    )


def _hyperplane_tables(
    n_tables: int, n_planes: int, dim: int = 64, seed: int = 42
) -> list[list[list[float]]]:
    rng = random.Random(seed)
    return [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def lsh_bucket_keys(
    emb: Column, n_tables: int = 12, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> Column:
    """OR-amplified random-hyperplane LSH: ``n_tables`` independent
    bucket keys, each the concatenated sign bits of ``n_planes``
    projections. A pair collides if it shares the key of ANY table —
    recall 1-(1-p^k)^L for per-plane agreement p = 1 - theta/pi.

    Returns array<string> of length n_tables (index = table id).

    All n_tables × n_planes projections are ONE numpy matmul per Arrow
    batch inside a pandas-UDF — lambda higher-order functions are
    interpreted (not codegen'd), so the expression formulation pays per
    element; BLAS does the same flops in a single GEMM.
    """
    planes = np.array(
        _hyperplane_tables(n_tables, n_planes, dim, seed), dtype=np.float64
    ).reshape(n_tables * n_planes, dim)

    @F.pandas_udf(ArrayType(StringType()))
    def _keys(col: pd.Series) -> pd.Series:
        mat = np.vstack(col.to_numpy())
        bits = (mat @ planes.T) >= 0
        bits = bits.reshape(len(mat), n_tables, n_planes)
        return pd.Series(
            [
                ["".join("1" if b else "0" for b in tbl) for tbl in row]
                for row in bits
            ]
        )

    return _keys(emb)


#: The driver's embeddings are uniform-random (max pairwise cosine ~0.5),
#: so "near-dup" on this data means the top of that distribution. 0.4 is
#: the data-appropriate threshold that yields a non-trivial pair set at
#: every scale factor.
NEARDUP_THRESHOLD = 0.4


@register(
    "q_embedding_neardup",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[]))
              >= {NEARDUP_THRESHOLD}
    """,
    doc="Exact embedding-cosine near-dup pairs — the ground truth the "
    "LSH path approximates. All-pairs is the oracle shape only; at "
    "scale q_embedding_neardup_lsh replaces it. Guarded: refuses inputs "
    "above the oracle row ceiling.",
    tags=("E12", "dedup", "oracle_only"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = oracle_scale_guard(
        table(spark, sf_dir, "embeddings"),
        "q_embedding_neardup",
        "q_embedding_neardup_lsh",
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    a, b = emb.alias("a"), emb.alias("b")
    sim = cosine("a.e", "b.e")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cos_sim"))
    )


@register(
    "q_embedding_neardup_lsh",
    doc="ANN scale path: OR-amplified random-hyperplane LSH (12 tables "
    "x 4 planes), cosine verified only within colliding buckets — the "
    "shuffle carries O(docs x tables) rows, never all-pairs. "
    "Probabilistic -> rows-only; tests assert 100% recall on planted "
    "high-similarity vectors (LSH's actual operating regime) and "
    "measured recall vs exact pairs on this uniform-random data.",
    tags=("E12", "dedup"),
)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_lsh(
        table(spark, sf_dir, "embeddings"), threshold=NEARDUP_THRESHOLD
    )


def _lsh_bucketed(
    embeddings: DataFrame, n_tables: int, n_planes: int, dim: int
) -> DataFrame:
    """Shared bucketing pass for embedding_neardup_lsh and its stats
    companion: unit-normalize once, then one posexplode of the
    per-table bucket keys — (vec_id, u, tid, bucket)."""
    # NULL embeddings have no hyperplane signs — near-dup semantics only
    # apply to rows that carry a vector
    emb = spread(embeddings.filter(F.col("embedding").isNotNull())).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    unit = emb.select("vec_id", "e", l2_norm("e").alias("nrm")).select(
        "vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("u")
    )
    return unit.select(
        "vec_id",
        "u",
        F.posexplode(lsh_bucket_keys(F.col("u"), n_tables, n_planes, dim)).alias(
            "tid", "bucket"
        ),
    )


def embedding_neardup_lsh_stats(
    embeddings: DataFrame,
    n_tables: int = 12,
    n_planes: int = 4,
    dim: int = 64,
    cap: int = 1000,
) -> DataFrame:
    """Drop accounting for embedding_neardup_lsh (same buckets, same
    cap): one row — n_groups, n_capped, dropped_rows, dropped_pairs,
    max_group. Note dropped_pairs counts per-table collisions; a pair
    dropped in one table may still surface via another (OR
    amplification), so it is an upper bound on lost pairs."""
    from udacity_data_engineering_spark.operators.similarity import candidate_stats

    bucketed = _lsh_bucketed(embeddings, n_tables, n_planes, dim)
    return candidate_stats(
        bucketed.select("vec_id", "tid", "bucket"),
        ["tid", "bucket"],
        cap=cap,
        path="embedding_lsh",
        units="vecs",
    )


def simhash_candidate_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Drop accounting for simhash_candidates — one row PER capped
    frontier, with explicit units (summing them was unreadable: the
    frontiers count different things):

    - ``simhash_clique`` (units: docs) — identical-signature cliques
      over ``cap``: their member docs and intra-clique C(m,2) pairs are
      dropped by the group filter in simhash_candidates.
    - ``simhash_clique_xband`` (units: sig_group_pairs) — the SECOND
      loss surface of that same filter: a dropped clique's signature
      also vanishes from banding, so its Hamming-1..3 pairs with OTHER
      signatures are lost too. dropped_pairs = distinct (dropped-sig,
      co-banded-sig) group pairs, a pre-verify upper bound on lost
      inter-group candidates; n_groups/n_capped = dropped cliques with
      at least one band co-occupant; max_group = the most co-occupants
      any one dropped signature had.
    - ``simhash_band`` (units: sig_groups) — band buckets holding more
      than ``cap`` distinct surviving signatures; a lower bound in
      document terms (each signature group may hold many docs).

    All-zero n_capped across the three rows = full candidate coverage.

    Cost: the signature pipeline (xxhash64 + majority bits over every
    document) is computed ONCE — the per-signature SIZE table (lo, hi,
    m), one fixed-width row per distinct signature and never a member
    array, is eagerly localCheckpoint'ed and every frontier derives
    from it (four lazy references would recompute signatures 4x: Spark
    reuses only identical exchanges, not arbitrary subtrees — caught in
    the round-6 review). Spill-safe, released by the context cleaner
    when the result goes away — this is what keeps the audit strictly
    cheaper than the candidate job it audits."""
    from udacity_data_engineering_spark.operators.similarity import candidate_stats

    if bands != 4:
        raise ValueError("packed simhash banding is fixed at 4 x 16 bits")
    sizes = (
        simhash_sigs(docs, id_col, text_col)
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=True)
    )
    over = F.col("m") > cap
    zz = F.lit(0).cast("long")
    # same arithmetic as candidate_stats, computed straight off the
    # per-signature counts (candidate_stats wants member ROWS; re-
    # inflating them from m would just rebuild the blowup being audited)
    clique = sizes.agg(
        F.lit("simhash_clique").alias("path"),
        F.lit("docs").alias("units"),
        F.coalesce(F.count(F.lit(1)), zz).alias("n_groups"),
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), zz).alias("n_capped"),
        F.coalesce(F.sum(F.when(over, F.col("m")).otherwise(0)), zz).alias(
            "dropped_rows"
        ),
        F.coalesce(
            F.sum(F.when(over, F.expr("(m * (m - 1)) DIV 2")).otherwise(F.lit(0))),
            zz,
        ).alias("dropped_pairs"),
        F.coalesce(F.max("m"), zz).alias("max_group"),
    )
    bucket = candidate_stats(
        simhash_banded(sizes.filter(F.col("m") <= cap).select("lo", "hi")).select(
            "band_id", "band_key"
        ),
        ["band_id", "band_key"],
        cap=cap,
        path="simhash_band",
        units="sig_groups",
    )
    # cross-band exposure of dropped cliques: join their band keys
    # against ALL signatures' band keys (the left side is empty unless a
    # clique was actually dropped, and both sides read the checkpointed
    # size table — no signature recompute)
    over_b = simhash_banded(
        sizes.filter(F.col("m") > cap).select("lo", "hi")
    ).select(
        "band_id",
        "band_key",
        F.col("lo").alias("o_lo"),
        F.col("hi").alias("o_hi"),
    )
    all_b = simhash_banded(sizes.select("lo", "hi")).select(
        "band_id", "band_key", "lo", "hi"
    )
    collisions = (
        over_b.join(all_b, ["band_id", "band_key"])
        .filter((F.col("o_lo") != F.col("lo")) | (F.col("o_hi") != F.col("hi")))
        .select("o_lo", "o_hi", "lo", "hi")
        .distinct()
    )
    z = F.lit(0).cast("long")
    # per-dropped-clique exposure (n_groups/n_capped/max_group count each
    # dropped clique's collisions) vs the UNORDERED pair count: two
    # dropped cliques sharing a band are one lost pair, not two — the
    # (o, other) orientation appears twice in that case, so dropped_pairs
    # canonicalizes via struct least/greatest before counting
    per_o = collisions.groupBy("o_lo", "o_hi").agg(F.count(F.lit(1)).alias("m"))
    o_stats = per_o.agg(
        F.coalesce(F.count(F.lit(1)), z).alias("n_groups"),
        F.coalesce(F.max("m"), z).alias("max_group"),
    )
    sa = F.struct(F.col("o_lo").alias("lo"), F.col("o_hi").alias("hi"))
    sb = F.struct(F.col("lo"), F.col("hi"))
    pair_stats = (
        collisions.select(F.least(sa, sb).alias("p"), F.greatest(sa, sb).alias("q"))
        .distinct()
        .agg(F.coalesce(F.count(F.lit(1)), z).alias("dropped_pairs"))
    )
    xband = o_stats.crossJoin(pair_stats).select(
        F.lit("simhash_clique_xband").alias("path"),
        F.lit("sig_group_pairs").alias("units"),
        F.col("n_groups"),
        F.col("n_groups").alias("n_capped"),
        z.alias("dropped_rows"),
        F.col("dropped_pairs"),
        F.col("max_group"),
    )
    return clique.unionAll(xband).unionAll(bucket)


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_tables: int = 12,
    n_planes: int = 4,
    dim: int = 64,
    cap: int = 1000,
    fail_on_drops: bool = False,
) -> DataFrame:
    """LSH-bucketed near-dup pairs over (vec_id, embedding float[]).

    Scale notes: vectors are unit-normalized ONCE (pair similarity is
    then a plain dot product), bucket keys for all tables come from one
    pass, and verification runs per bucket as a single numpy GEMM inside
    applyInPandas — the shuffle carries O(docs × tables) unit vectors,
    never the candidate pairs, and the O(m²·dim) arithmetic is BLAS, not
    interpreted expression folds (~4× end-to-end at sf0.1). Buckets
    above ``cap`` members are dropped, as in bucket_pairs: a hot bucket
    is near-identical content that exact dedup should consume first.
    A pair colliding in several tables is deduplicated by the final
    groupBy; max() collapses the GEMM's float reassociation jitter.
    ``fail_on_drops=True`` raises (one extra eager audit job) if any
    table bucket exceeded ``cap``.
    """
    import pandas as pd

    if fail_on_drops:
        from udacity_data_engineering_spark.operators.similarity import (
            assert_no_drops,
        )

        assert_no_drops(
            embedding_neardup_lsh_stats(embeddings, n_tables, n_planes, dim, cap),
            "embedding_neardup_lsh",
        )
    bucketed = _lsh_bucketed(embeddings, n_tables, n_planes, dim)

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

    # over-cap buckets are pruned BEFORE grouping: FlatMapGroupsInPandas
    # ships a whole group to one Python worker as one Arrow batch, so
    # the in-kernel m > cap guard (kept as defense) would only fire
    # after a hot bucket was already materialized worker-side
    return (
        in_cap_groups(bucketed, ["tid", "bucket"], cap)
        .groupBy("tid", "bucket")
        .applyInPandas(_verify, "vec_a long, vec_b long, sim double")
        .groupBy("vec_a", "vec_b")
        .agg(F.round(F.max("sim"), 6).alias("cos_sim"))
    )


@register(
    "q_neardup_drop_accounting",
    doc="Drop-accounting audit for every capped candidate path: one row "
    "per capped frontier (embedding_lsh, minhash_lsh, semdedup, and the "
    "three simhash frontiers simhash_clique / simhash_clique_xband / "
    "simhash_band) with its units plus n_groups, n_capped, dropped_rows, "
    "dropped_pairs, max_group at the production caps. All-zero n_capped "
    "= full candidate coverage; non-zero = the silent-truncation "
    "condition, now observable. Hash-function/seed-specific bucketing "
    "=> rows-only; tests/test_drop_accounting.py asserts exact counts "
    "on crafted hot-bucket inputs.",
    tags=("E12", "dedup"),
)
def q_neardup_drop_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.operators.semdedup import (
        semantic_pairs_stats,
    )
    from udacity_data_engineering_spark.operators.similarity import (
        minhash_candidate_stats,
    )

    from udacity_data_engineering_spark.operators.ann import cached_ivf_index

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    # reuse the session's cached k-means assignment (same k/seed as
    # semantic_dedup) — the audit must stay cheaper than the jobs it
    # audits, not retrain the clustering
    assigned, _ = cached_ivf_index(spark, sf_dir, emb)
    return (
        embedding_neardup_lsh_stats(emb)
        .unionByName(minhash_candidate_stats(docs))
        .unionByName(semantic_pairs_stats(emb, assigned=assigned))
        .unionByName(simhash_candidate_stats(docs))
        .orderBy("path")
    )
