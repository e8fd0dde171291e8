"""Round-9 operators: priority sampling, RRF hybrid retrieval,
maximal duplicated ranges, DSIR importance resampling."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.dsir import (
    DSIR_BUCKETS,
    dsir_scores,
    dsir_select,
)
from udacity_data_engineering_spark.operators.hybrid import rrf_fuse
from udacity_data_engineering_spark.operators.sampling import (
    KNUTH,
    priority_sample,
)
from udacity_data_engineering_spark.operators.substrings import (
    duplicate_ranges,
)

# ---------------------------------------------------------------------------
# priority sampling
# ---------------------------------------------------------------------------


def _py_priority(doc_id: int, w: int) -> float:
    u = ((doc_id % 2147483648) * KNUTH % 4294967296 + 1) / 4294967296.0
    return u / w


def test_priority_sample_matches_reference_selection(spark):
    rows = [(i, (i * 7) % 50 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = priority_sample(df, "w", 30).collect()
    want = sorted(rows, key=lambda r: (_py_priority(r[0], r[1]), r[0]))[:30]
    assert {r.doc_id for r in got} == {i for i, _ in want}
    for r in got:
        assert r.priority_e8 == math.floor(
            _py_priority(r.doc_id, r.w) * 1e8
        )


def test_priority_sample_prefers_heavy_rows(spark):
    # one very heavy row among many light ones is (near-)certain to be
    # sampled: its priority is ~1000x smaller than a light row's
    rows = [(i, 1) for i in range(1, 500)] + [(1000, 100000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r.doc_id for r in priority_sample(df, "w", 50).collect()}
    assert 1000 in got
    # and the sampled mean weight exceeds the population mean
    wts = {i: w for i, w in rows}
    assert sum(wts[i] for i in got) / 50 > sum(wts.values()) / len(rows)


def test_priority_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, 10)], "doc_id long, w long"
    )
    got = {r.doc_id for r in priority_sample(df, "w", 10).collect()}
    assert got == {1, 4}


# ---------------------------------------------------------------------------
# RRF fusion
# ---------------------------------------------------------------------------


def test_rrf_fuse_hand_computed(spark):
    # leg A ranks: doc 1 (score 9), doc 2 (score 8); leg B: doc 2, doc 3
    a = spark.createDataFrame([(1, 9.0), (2, 8.0)], "id long, s double")
    b = spark.createDataFrame([(2, 5.0), (3, 4.0)], "id long, s double")
    got = {
        r.doc_id: r.rrf_score
        for r in rrf_fuse([(a, "id", "s"), (b, "id", "s")]).collect()
    }
    assert got[1] == round(1 / 61, 6)            # A rank 1 only
    assert got[2] == round(1 / 62 + 1 / 61, 6)   # A rank 2 + B rank 1
    assert got[3] == round(1 / 62, 6)            # B rank 2 only
    # union doc found by both legs must outrank single-leg docs here
    assert got[2] > got[1] > got[3]


def test_rrf_fuse_top_n_cutoff(spark):
    # rows past the per-leg cutoff contribute nothing
    a = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(10)], "id long, s double"
    )
    got = {
        r.doc_id
        for r in rrf_fuse([(a, "id", "s")], top_n=3).collect()
    }
    assert got == {0, 1, 2}


def test_rrf_fuse_ties_break_on_id(spark):
    a = spark.createDataFrame([(7, 1.0), (3, 1.0)], "id long, s double")
    got = {r.doc_id: r.rrf_score for r in rrf_fuse([(a, "id", "s")]).collect()}
    assert got[3] == round(1 / 61, 6)  # lower id wins the tie -> rank 1
    assert got[7] == round(1 / 62, 6)


# ---------------------------------------------------------------------------
# maximal duplicated ranges
# ---------------------------------------------------------------------------


def _mkdoc(words: list[str]) -> str:
    return " ".join(words)


def test_duplicate_ranges_coalesces_overlapping_windows(spark):
    # a 25-word block shared by two docs = 6 overlapping 20-word
    # windows = ONE [start, start+24] range per doc
    block = [f"b{i}" for i in range(25)]
    d1 = _mkdoc([f"x{i}" for i in range(10)] + block)   # block at words 11..35
    d2 = _mkdoc(block + [f"y{i}" for i in range(10)])   # block at words 1..25
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.range_start, r.range_end, r.n_windows)
        for r in duplicate_ranges(docs).collect()
    }
    assert got[1] == (11, 35, 6)
    assert got[2] == (1, 25, 6)


def test_duplicate_ranges_separates_distant_blocks(spark):
    # two shared 20-word blocks with a 30-word unique gap -> two ranges
    b1 = [f"p{i}" for i in range(20)]
    b2 = [f"q{i}" for i in range(20)]
    gap = [f"g{i}" for i in range(30)]
    d1 = _mkdoc(b1 + gap + b2)
    d2 = _mkdoc(b1 + [f"z{i}" for i in range(5)] + b2)
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = sorted(
        (r.range_start, r.range_end)
        for r in duplicate_ranges(docs).filter("doc_id = 1").collect()
    )
    assert got == [(1, 20), (51, 70)]


def test_duplicate_ranges_empty_when_no_cross_doc_dup(spark):
    docs = spark.createDataFrame(
        [(1, _mkdoc([f"a{i}" for i in range(40)])),
         (2, _mkdoc([f"b{i}" for i in range(40)]))],
        "doc_id long, text string",
    )
    assert duplicate_ranges(docs).count() == 0


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------


def test_dsir_scores_rank_target_like_docs_higher(spark):
    # target distribution = docs marked is_t; a fresh doc written in
    # target vocabulary must outscore one written in raw-only vocabulary
    rows = (
        [(i, "t", " ".join(["alpha beta gamma"] * 5)) for i in range(10)]
        + [(i, "r", " ".join(["delta epsilon zeta"] * 5)) for i in range(10, 20)]
        + [(100, "r", "alpha beta gamma alpha beta"), (101, "r", "delta epsilon zeta delta epsilon")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    got = {
        r.doc_id: r.lr
        for r in dsir_scores(docs, F.col("grp") == "t").collect()
    }
    assert got[100] > got[101]


def test_dsir_empty_doc_scores_zero_and_is_kept(spark):
    docs = spark.createDataFrame(
        [(1, "t", "alpha beta"), (2, "r", ""), (3, "r", None)],
        "doc_id long, grp string, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.lr)
        for r in dsir_scores(docs, F.col("grp") == "t").collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[2] == (0, 0.0)
    assert got[3] == (0, 0.0)


def test_dsir_select_marks_top_quantile(spark):
    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 11)], "doc_id long, lr double"
    )
    got = {r.doc_id: r.selected for r in dsir_select(scored, 0.7).collect()}
    # percentile(1..10, 0.7) = 7.3 -> docs 8, 9, 10 selected
    assert {i for i, s in got.items() if s} == {8, 9, 10}


def test_dsir_smoothing_matches_hand_formula(spark):
    # 1 target doc "a", 1 raw-only doc "b": verify the exact add-one
    # arithmetic for the single-word doc scoring
    docs = spark.createDataFrame(
        [(1, "t", "aa"), (2, "r", "bb")], "doc_id long, grp string, text string"
    )
    got = {
        r.doc_id: r.lr
        for r in dsir_scores(docs, F.col("grp") == "t").collect()
    }
    B = float(DSIR_BUCKETS)
    # totals: rtot=2 words, ttot=1 target word; "aa": tc=1, rc=1
    lr_a = math.log((1 + 1.0) / (1 + B)) - math.log((1 + 1.0) / (2 + B))
    # "bb": tc=0, rc=1
    lr_b = math.log((0 + 1.0) / (1 + B)) - math.log((1 + 1.0) / (2 + B))
    assert got[1] == round(lr_a, 4)
    assert got[2] == round(lr_b, 4)


def test_priority_sample_per_group_exact_k_and_reference(spark):
    from udacity_data_engineering_spark.operators.sampling import (
        priority_sample_per_group,
    )

    rows = [(i, "g" + str(i % 3), (i * 13) % 40 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    got = priority_sample_per_group(df, "g", "w", 20).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r.g, set()).add(r.doc_id)
    assert all(len(v) == 20 for v in by_g.values())
    for g in ("g0", "g1", "g2"):
        grp = [r for r in rows if r[1] == g]
        want = sorted(grp, key=lambda r: (_py_priority(r[0], r[2]), r[0]))[:20]
        assert by_g[g] == {i for i, _, _ in want}


# ---------------------------------------------------------------------------
# binned range join
# ---------------------------------------------------------------------------


def test_range_join_binned_matches_bruteforce(spark):
    from udacity_data_engineering_spark.operators.asof import range_join_binned

    left = [(i, i * 3 % 29) for i in range(60)]          # (lid, day)
    right = [(j, j * 5 % 31) for j in range(40)]         # (rid, start_day)
    span = 7
    ldf = spark.createDataFrame(left, "lid long, ld long")
    rdf = spark.createDataFrame(right, "rid long, od long")
    got = {
        (r.lid, r.rid)
        for r in range_join_binned(ldf, rdf, "ld", "od", span).collect()
    }
    want = {
        (lid, rid)
        for lid, d in left
        for rid, s in right
        if s <= d <= s + span - 1
    }
    assert got == want
    # each matching pair exactly once (the <=2-cell explode must not dup)
    rows = range_join_binned(ldf, rdf, "ld", "od", span).collect()
    assert len(rows) == len(got)


def test_range_join_binned_span_one_is_equijoin(spark):
    from udacity_data_engineering_spark.operators.asof import range_join_binned

    ldf = spark.createDataFrame([(1, 5), (2, 6)], "lid long, ld long")
    rdf = spark.createDataFrame([(10, 5), (11, 7)], "rid long, od long")
    got = {
        (r.lid, r.rid)
        for r in range_join_binned(ldf, rdf, "ld", "od", 1).collect()
    }
    assert got == {(1, 10)}


# ---------------------------------------------------------------------------
# payload dHash
# ---------------------------------------------------------------------------


def _ref_dhash(data: bytes, cells: int = 65) -> tuple[int, int]:
    L = len(data)
    b = [(c * L) // cells for c in range(cells + 1)]
    cs = [(sum(data[b[c]:b[c + 1]]), b[c + 1] - b[c]) for c in range(cells)]
    bits = [
        1 if cs[c][0] * cs[c + 1][1] > cs[c + 1][0] * cs[c][1] else 0
        for c in range(cells - 1)
    ]
    lo = sum(bits[c] << c for c in range(32))
    hi = sum(bits[c + 32] << c for c in range(32))
    return lo, hi


def test_payload_dhash_matches_reference_on_committed_fixtures(spark):
    from pathlib import Path

    from udacity_data_engineering_spark.operators.multimodal import (
        MEDIA_DIR,
        payload_dhash,
    )
    from udacity_data_engineering_spark.session import configure

    configure(spark)
    media = spark.read.format("binaryFile").load(f"{MEDIA_DIR}/*")
    got = {r.path.split("/")[-1]: (r.lo, r.hi) for r in payload_dhash(media).collect()}
    assert len(got) == 10
    for name, pair in got.items():
        assert pair == _ref_dhash(Path(MEDIA_DIR, name).read_bytes()), name


def test_payload_dhash_tolerates_single_byte_edit(spark, tmp_path):
    import random

    from udacity_data_engineering_spark.operators.multimodal import (
        dhash_pairs,
        payload_dhash,
    )

    rng = random.Random(7)
    base = bytes(rng.randrange(256) for _ in range(650))
    edited = bytearray(base)
    edited[300] = (edited[300] + 128) % 256  # one byte changed
    (tmp_path / "a.bin").write_bytes(base)
    (tmp_path / "b.bin").write_bytes(bytes(edited))
    media = spark.read.format("binaryFile").load(f"{tmp_path}/*")
    pairs = dhash_pairs(payload_dhash(media)).collect()
    assert len(pairs) == 1
    # one byte perturbs one cell sum -> at most its two adjacent
    # comparisons flip: sha2-exact dedup sees unrelated blobs, dHash
    # sees near-identical ones
    assert pairs[0].hamming <= 2


def test_media_fixtures_meet_dhash_cell_floor():
    """The dhash oracle's LATERAL position expansion emits no row for an
    empty slice, so parity requires every fixture payload >= 65 bytes
    (one byte per cell). Pin it so a future tiny fixture fails loudly
    here instead of silently diverging the oracle."""
    from pathlib import Path

    from udacity_data_engineering_spark.operators.multimodal import MEDIA_DIR

    for p in Path(MEDIA_DIR).iterdir():
        assert p.stat().st_size >= 65, p.name


def test_scrub_keeps_one_occurrence_and_splices_others(spark):
    from udacity_data_engineering_spark.operators.substrings import (
        scrub_duplicate_spans,
    )

    block = [f"b{i}" for i in range(20)]
    pre, post = [f"x{i}" for i in range(3)], [f"y{i}" for i in range(3)]
    d1 = _mkdoc(pre + block + post)   # keeper (min doc_id)
    d2 = _mkdoc([f"z{i}" for i in range(5)] + block)
    d3 = _mkdoc(["solo"] * 25)        # no cross-doc dup, passes through
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in scrub_duplicate_spans(docs).collect()}
    assert set(got) == {1, 2, 3}                      # null text dropped
    assert got[1].scrubbed == d1                      # keeper untouched
    assert got[1].n_removed == 0
    assert got[2].scrubbed == " ".join([f"z{i}" for i in range(5)])
    assert got[2].n_removed == 20 and got[2].n_kept == 5
    assert got[3].scrubbed == d3 and got[3].n_removed == 0


def test_scrub_short_docs_pass_through(spark):
    from udacity_data_engineering_spark.operators.substrings import (
        scrub_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(1, "too short to span"), (2, "too short to span")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.scrubbed for r in scrub_duplicate_spans(docs).collect()}
    assert got == {1: "too short to span", 2: "too short to span"}


def test_priority_sample_invariant_under_repartitioning(spark):
    """The determinism claim with teeth: the selected set must be a
    pure function of the rows — identical under any partitioning
    (seeded RNG streams lose exactly this property on repartition)."""
    rows = [(i, (i * 11) % 30 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = {r.doc_id for r in priority_sample(df, "w", 40).collect()}
    b = {
        r.doc_id
        for r in priority_sample(df.repartition(13), "w", 40).collect()
    }
    c = {
        r.doc_id
        for r in priority_sample(df.coalesce(1), "w", 40).collect()
    }
    assert a == b == c


def test_bpe_chunks_boundaries_and_content(spark):
    from udacity_data_engineering_spark.operators.bpe import (
        bpe_chunks,
        encode_word,
        load_merges,
    )
    import hashlib

    merges = load_merges()
    ranks = {p: i for i, p in enumerate(merges)}
    text = " ".join(["batch", "spark", "join"] * 15)  # 45 words
    docs = spark.createDataFrame([(1, text), (2, None), (3, "")],
                                 "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_sha)
        for r in bpe_chunks(docs, merges, chunk_tokens=32).collect()
    }
    toks = []
    for w in text.split(" "):
        toks.extend(encode_word(w, ranks))
    want_chunks = [toks[i:i + 32] for i in range(0, len(toks), 32)]
    assert {k[0] for k in got} == {1}  # empty/NULL docs emit no chunks
    assert len([k for k in got if k[0] == 1]) == len(want_chunks)
    for cid, chunk in enumerate(want_chunks):
        n, sha = got[(1, cid)]
        assert n == len(chunk)
        assert sha == hashlib.sha256(" ".join(chunk).encode()).hexdigest()


def test_cap_per_group_keeps_best_k(spark):
    from udacity_data_engineering_spark.operators.sampling import cap_per_group

    rows = [(i, "s" + str(i % 2), i * 10) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        (r.source, r.doc_id)
        for r in cap_per_group(df, "source", 2).collect()
    }
    # longest two per source: s0 -> ids 8, 6; s1 -> ids 9, 7
    assert got == {("s0", 8), ("s0", 6), ("s1", 9), ("s1", 7)}


def test_charlm_lang_filter_per_language_cutoffs(spark):
    from udacity_data_engineering_spark.operators.charlm import (
        charlm_lang_filter,
        charlm_score,
    )

    # two languages with different score distributions; per-language
    # median keeps ~half of EACH, where a global cutoff would starve
    # the higher-entropy language entirely
    rows = [(i, "aa", "abcabcabc" * (1 + i % 3)) for i in range(8)] + [
        (100 + i, "bb", "xyzw"[i % 4] * 9 + "qrstuv" * (1 + i % 4))
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = charlm_lang_filter(docs).collect()
    langs = {r.lang for r in kept}
    assert langs == {"aa", "bb"}  # both languages survive their own cutoff
    scored = {
        (r.doc_id): (r.lang, r.cross_entropy)
        for r in charlm_score(docs, by="lang").collect()
    }
    for r in kept:  # every survivor is at or below its language's median
        same_lang = sorted(
            ce for (lang, ce) in scored.values() if lang == r.lang
        )
        import statistics

        assert r.cross_entropy <= statistics.median(same_lang) + 1e-9
