"""E15 multimodal plumbing tests: binaryFile scan, Arrow-batched decode
(deterministic fake kernel), frame sampling, and the explicit real-decode
stub contract."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.multimodal import (
    MEDIA_DIR,
    audio_window_features,
    decode_fake,
    decode_media,
    decode_real,
    frame_sample,
    read_media,
    resize_media,
)


def test_binary_scan_schema(spark):
    df = read_media(spark)
    assert dict(df.dtypes)["content"] == "binary"
    assert df.count() == 7


def test_decode_matches_fixture_headers(spark):
    rows = decode_media(read_media(spark)).collect()
    assert len(rows) == 7
    for r in rows:
        raw = open(r.path.removeprefix("file:"), "rb").read()
        w, h = struct.unpack(">II", raw[:8])
        assert (r.meta.width, r.meta.height) == (w, h)
        assert r.meta.format == "img"
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-6  # normalized histogram
        assert r.n_bytes == len(raw)


def test_decode_real_is_marked_stub():
    with pytest.raises(NotImplementedError):
        decode_real(b"\x00" * 16)


def test_frame_sample_partitions_payload(spark):
    df = frame_sample(read_media(spark), n_frames=4)
    rows = df.collect()
    assert len(rows) == 28  # 7 files x 4 frames
    per_path = {}
    for r in rows:
        per_path.setdefault(r.path, []).append(r)
    for path, frames in per_path.items():
        raw = open(path.removeprefix("file:"), "rb").read()
        got = b"".join(f.frame for f in sorted(frames, key=lambda f: f.frame_id))
        assert got == raw[8:]  # frames tile the payload exactly — no gaps/tail loss


def test_resize_nearest_neighbour_exact(spark):
    """out[i] == payload[(i*L)//target] for every file — the resample is
    pure index arithmetic, reproducible on any engine."""
    rows = resize_media(read_media(spark), target=16).collect()
    assert len(rows) == 7
    for r in rows:
        raw = open(r.path.removeprefix("file:"), "rb").read()
        payload = raw[8:]
        assert r.orig_len == len(payload)
        want = [payload[(i * len(payload)) // 16] for i in range(16)]
        assert r.resized == want


def test_audio_windows_exact(spark):
    """Per-window RMS / zero-crossings agree with a plain-Python
    recomputation over the same int8 interpretation of the payload."""
    import numpy as np

    rows = audio_window_features(read_media(spark), window=64).collect()
    assert rows
    by_path = {}
    for r in rows:
        by_path.setdefault(r.path, []).append(r)
    for path, rs in by_path.items():
        raw = open(path.removeprefix("file:"), "rb").read()
        wave = np.frombuffer(raw[8:], dtype=np.int8).astype(np.float64)
        n_win = len(wave) // 64
        assert len(rs) == n_win
        for r in sorted(rs, key=lambda r: r.window_id):
            w = wave[r.window_id * 64 : (r.window_id + 1) * 64]
            # raw (unrounded) RMS must be bit-identical: integer squared
            # sums are exact in double and IEEE sqrt is correctly rounded
            assert r.rms == float(np.sqrt((w**2).mean()))
            assert r.zero_crossings == int((np.diff(np.signbit(w)) != 0).sum())


def test_zscore_pandas_vs_builtin(spark, sf_dir):
    """applyInPandas kernel agrees with the pure-SQL window formulation."""
    from udacity_data_engineering_spark.operators.pandas_ops import group_zscore
    from udacity_data_engineering_spark.session import table

    ev = table(spark, sf_dir, "events")
    got = {r.event_id: r.zscore for r in group_zscore(ev).collect()}
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type")
    want = {
        r.event_id: r.z
        for r in ev.select(
            "event_id",
            F.round(
                (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w),
                4,
            ).alias("z"),
        ).collect()
    }
    assert got == want


def test_decode_real_raises_cleanly_without_pil():
    """The integration hook must fail loudly, not silently fake."""
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; covered by test_decode_real_with_pil")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="image library"):
        decode_real(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def _reference_pnm(raw: bytes):
    """Independent plain-Python re-parse of a committed P5/P6 fixture:
    (width, height, luminance list) — deliberately re-implemented here
    (not imported) so the test checks the kernel against the format
    spec, not against itself."""
    fields = []
    # strip comments, then whitespace-split the first 3 header fields
    rest = raw[2:]
    while len(fields) < 3:
        tok = b""
        while rest[:1].isspace():
            rest = rest[1:]
        if rest[:1] == b"#":
            nl = rest.index(b"\n")
            rest = rest[nl + 1 :]
            continue
        while rest[:1] and not rest[:1].isspace():
            tok += rest[:1]
            rest = rest[1:]
        fields.append(int(tok))
    w, h, maxval = fields
    assert maxval == 255
    raster = rest[1:]  # single whitespace after maxval
    if raw[:2] == b"P6":
        lums = [
            (raster[k] * 19595 + raster[k + 1] * 38470 + raster[k + 2] * 7471 + 0x8000)
            >> 16
            for k in range(0, w * h * 3, 3)
        ]
    else:
        lums = list(raster[: w * h])
    return w, h, lums


def test_decode_real_decodes_committed_pnm_fixtures(spark):
    """The REAL kernel end-to-end through decode_media on the committed
    binary PGM/PPM fixtures — runs in EVERY environment (round 7, no
    skip): without PIL via the pure-Python P5/P6 parser, with PIL via
    Image.open — both bit-identical (shared integer ITU-R 601-2
    luminance). Covers the comment-bearing header variant too."""
    df = spark.read.format("binaryFile").load(f"{MEDIA_DIR}/real_00*")
    out = decode_media(df, decoder=decode_real).collect()
    assert len(out) == 3
    for r in out:
        raw = open(r.path.removeprefix("file:"), "rb").read()
        w, h, lums = _reference_pnm(raw)
        assert (r.meta.width, r.meta.height) == (w, h)
        hist = [0] * 8
        for p in lums:
            hist[p >> 5] += 1
        want = [c / len(lums) for c in hist]
        assert r.features == pytest.approx(want)
        assert abs(sum(r.features) - 1.0) < 1e-6


def test_frame_dedup_and_shared_frames_find_the_copy_pair(spark):
    """img_006 is a byte-copy of img_000: every one of its 4 sampled
    frames duplicates img_000's, so frame dedup reports 24 distinct
    frame contents (28 - 4) with exactly four 2-copy survivors rooted
    at img_000, and the shared-frames candidate query surfaces exactly
    that one file pair with n_shared=4."""
    from udacity_data_engineering_spark.operators.multimodal import (
        frame_dedup,
        shared_frame_pairs,
    )

    frames = frame_sample(read_media(spark))
    rows = frame_dedup(frames).collect()
    assert len(rows) == 24
    dupes = [r for r in rows if r.n_copies > 1]
    assert len(dupes) == 4
    assert all(
        r.n_copies == 2 and r.survivor_path.endswith("img_000.img")
        for r in dupes
    )
    assert sorted(r.survivor_frame for r in dupes) == [0, 1, 2, 3]
    pairs = shared_frame_pairs(frames).collect()
    assert len(pairs) == 1
    assert pairs[0].path_a.endswith("img_000.img")
    assert pairs[0].path_b.endswith("img_006.img")
    assert pairs[0].n_shared == 4


def test_media_dedup_finds_byte_identical_copy(spark):
    """img_006 is a committed byte-copy of img_000: one fingerprint must
    cover both with the lexicographically-first path as survivor."""
    from udacity_data_engineering_spark.operators.multimodal import media_dedup

    rows = media_dedup(read_media(spark)).collect()
    assert len(rows) == 6  # 7 files, one duplicate pair
    dupes = [r for r in rows if r.n_copies > 1]
    assert len(dupes) == 1
    assert dupes[0].n_copies == 2
    assert dupes[0].survivor_path.endswith("img_000.img")


def test_queries_emit_file_names_not_checkout_paths(spark, sf_dir):
    """Query rows carry media file names, so one commit gives the same rows
    from any checkout directory; a name joined with MEDIA_DIR reopens it."""
    from pathlib import Path

    from udacity_data_engineering_spark.plans.registry import all_queries

    qs = all_queries()
    names = [n for n in qs if n.startswith("q_multimodal_")]
    assert len(names) == 8
    for name in names:
        df = qs[name].fn(spark, sf_dir)
        cols = [c for c in df.columns if "path" in c]
        assert cols, name
        for row in df.select(cols).collect():
            for v in row:
                assert "/" not in v and Path(MEDIA_DIR, v).is_file(), (name, v)


def test_blob_oracles_handle_truncated_files(spark, tmp_path, monkeypatch):
    """The read_blob oracles must agree with the kernels on truncated
    (<8-byte header) files — the corrupt-crawl-artifact input class the
    kernels explicitly guard (decode -> (0,0,zeros), resize -> zeros,
    frames -> empty, audio -> no windows). Repoints MEDIA_DIR at a
    scratch dir holding one truncated and one well-formed file and
    re-runs each hash-proven query against its oracle."""
    import re
    import shutil

    import duckdb

    from udacity_data_engineering_spark.operators import multimodal as mm
    from udacity_data_engineering_spark.plans.registry import all_queries
    from udacity_data_engineering_spark.testing import compare

    scratch = tmp_path / "media_trunc"
    scratch.mkdir()
    shutil.copy(f"{mm.MEDIA_DIR}/img_000.img", scratch / "img_good.img")
    (scratch / "img_trunc.img").write_bytes(b"\x01\x02\x03")  # < 8-byte header
    monkeypatch.setattr(mm, "MEDIA_DIR", str(scratch))

    con = duckdb.connect()
    manifest = all_queries()
    for name in (
        "q_multimodal_decode",
        "q_multimodal_resize",
        "q_multimodal_frames",
        "q_multimodal_audio",
        "q_multimodal_dedup",
    ):
        q = manifest[name]
        sdf = q.fn(spark, str(scratch))
        srows, scols = sdf.collect(), sdf.columns
        # the oracle string baked the fixture MEDIA_DIR at import time —
        # repoint its read_blob glob at the scratch dir
        baked = re.search(r"read_blob\('([^']+)/\*\.img'\)", q.oracle).group(1)
        res = con.execute(q.oracle.replace(baked, str(scratch)))
        problems = compare(
            srows, scols, res.fetchall(), [d[0] for d in res.description]
        )
        assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("n", [1, 3, 5, 7])
def test_frame_sample_tiles_for_any_n(spark, n):
    """Integer DIV boundaries tile exactly for non-power-of-2 n too
    (the advisor's frame_sample finding)."""
    rows = frame_sample(read_media(spark), n_frames=n).collect()
    per_path = {}
    for r in rows:
        per_path.setdefault(r.path, []).append(r)
    assert all(len(v) == n for v in per_path.values())
    for path, frames in per_path.items():
        raw = open(path.removeprefix("file:"), "rb").read()
        payload = raw[8:]
        ordered = sorted(frames, key=lambda f: f.frame_id)
        assert b"".join(f.frame for f in ordered) == payload
        L = len(payload)
        for f in ordered:
            lo, hi = (f.frame_id * L) // n, ((f.frame_id + 1) * L) // n
            assert f.frame == payload[lo:hi]
