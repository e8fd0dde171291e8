"""Multimodal columns — E15 (SURVEY.md §2B).

Images/audio/video travel as opaque ``binary`` columns with typed struct
metadata; per-row media work (decode, feature-extract, resize,
frame-sample) runs as Arrow-batched Pandas functions over
``mapInPandas`` so bytes move JVM→Python once per batch, never per row.

The container has no image/audio libraries, so the *decode kernel* is
stubbed two ways (charter-mandated): ``decode_real`` raises
NotImplementedError (the marked integration point for PIL/ffmpeg), and
``decode_fake`` deterministically parses our fixture header (8 bytes:
width,height as uint32-BE) — making all Spark-side plumbing (schema,
partitioning, UDF signature, Arrow batch shape) real and testable.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_data_engineering_spark.plans.registry import register
from udacity_data_engineering_spark.sources.json_source import FIXTURES

MEDIA_DIR = str(FIXTURES.parent / "media")

#: Output schema of the decode stage: metadata struct + fixed-length
#: feature vector. At scale the features column is what flows on to
#: similarity search (operators/similarity.py) — bytes stay columnar.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _lum_hist(lums, w: int, h: int) -> tuple[int, int, list[float]]:
    """(width, height, normalized 8-bucket luminance histogram) — the
    shared output shape of every real-decode path."""
    hist = [0] * 8
    for p in lums:
        hist[p >> 5] += 1
    n = max(len(lums), 1)
    return w, h, [c / n for c in hist]


def _decode_pnm(content: bytes) -> tuple[int, int, list[float]]:
    """Pure-Python decode of binary PGM/PPM (P5 grayscale / P6 RGB,
    maxval 255) — a REAL uncompressed image format parsed with zero
    native dependencies, so the real-decode path is exercisable (and
    tested) in environments without PIL. Luminance for P6 uses exactly
    PIL's integer ITU-R 601-2 formula
    ``(R*19595 + G*38470 + B*7471 + 0x8000) >> 16`` so the result is
    bit-identical whether this fallback or PIL decodes the file."""
    if content[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    rgb = content[:2] == b"P6"
    # header: magic, width, height, maxval — whitespace-separated, with
    # '#' comments running to end of line (the format's one wrinkle)
    i, toks = 2, []
    while len(toks) < 3 and i < len(content):
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":
            while i < len(content) and content[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        toks.append(int(content[i:j]))
        i = j
    if len(toks) < 3:
        raise ValueError("truncated PGM/PPM header")
    w, h, maxval = toks
    if maxval != 255:
        raise NotImplementedError(
            "PGM/PPM maxval != 255 requires an image library"
        )
    i += 1  # exactly one whitespace byte after maxval, then the raster
    n = w * h
    bpp = 3 if rgb else 1
    raster = content[i : i + n * bpp]
    if len(raster) < n * bpp:
        raise ValueError("truncated PGM/PPM raster")
    if rgb:
        lums = [
            (
                raster[k] * 19595
                + raster[k + 1] * 38470
                + raster[k + 2] * 7471
                + 0x8000
            )
            >> 16
            for k in range(0, n * 3, 3)
        ]
    else:
        lums = raster
    return _lum_hist(lums, w, h)


def decode_real(content: bytes) -> tuple[int, int, list[float]]:
    """Real decode kernel, same output shape as decode_fake: (width,
    height, 8-bucket normalized luminance histogram).

    Three tiers:
    - PIL when importable (a real deployment): any PIL-supported format.
    - Binary PGM/PPM (P5/P6) via the built-in pure-Python parser — a
      real format decoded with no native libs, so this path runs and is
      tested in THIS container (round 7; previously the only real-decode
      test was skip-marked behind PIL). The luminance formula matches
      PIL's integer ITU-R 601-2 exactly, so both tiers agree bit-for-bit
      on the same file.
    - Anything else without PIL: NotImplementedError — the loudly-marked
      integration point for compressed formats (PNG/JPEG need a codec).
    """
    try:
        import io

        from PIL import Image
    except ImportError as e:
        if content[:2] in (b"P5", b"P6"):
            return _decode_pnm(content)
        raise NotImplementedError(
            "media decoding of compressed formats requires an image "
            "library not present in this environment; binary PGM/PPM "
            "(P5/P6) decodes built-in, and decode_fake is the "
            "deterministic test path for the .img fixtures"
        ) from e
    with Image.open(io.BytesIO(content)) as img:
        w, h = img.size
        pixels = list(img.convert("L").getdata())
    return _lum_hist(pixels, w, h)


def decode_fake(content: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in decode: header = width,height uint32-BE;
    features = normalized byte histogram over 8 buckets of the payload."""
    if len(content) < 8:
        return 0, 0, [0.0] * 8
    w, h = struct.unpack(">II", content[:8])
    hist = [0] * 8
    payload = content[8:]
    for b in payload:
        hist[b >> 5] += 1
    n = max(len(payload), 1)
    return w, h, [c / n for c in hist]


def array_csv(col, fmt: str = "%d"):
    """CSV-serialize an array column for the driver's row canonicalizer
    (pandas cannot sort list cells). One shared helper so every serialized
    array uses the same explicit per-element formatting — floats pinned to
    a fixed precision (e.g. '%.6f'), integrals to '%d' — instead of
    whatever cast('array<string>') happens to render, which would drift if
    an element type ever changed."""
    return F.concat_ws(",", F.transform(col, lambda x: F.format_string(fmt, x)))


def file_name(path: str | Column) -> Column:
    """The file name of a binaryFile ``path`` URI (its last segment).
    Query outputs carry the name, never the checkout's directory, so one
    commit gives the same rows from any checkout; the oracles spell it
    ``parse_filename(filename)``."""
    return F.element_at(F.split(path, "/"), -1)


def read_media(spark: SparkSession, path: str | None = None) -> DataFrame:
    """binaryFile source: (path, modificationTime, length, content).
    Spark never parses the bytes — scans stay columnar and the payload
    column is only materialized where referenced. configure() ships this
    package to Python workers (the decode kernels below unpickle module
    references) — multimodal queries don't touch session.table, so this
    is their only configuration point. ``path`` defaults to the module's
    ``MEDIA_DIR`` resolved at call time (tests repoint it)."""
    from udacity_data_engineering_spark.session import configure

    configure(spark)
    return spark.read.format("binaryFile").load(f"{path or MEDIA_DIR}/*.img")


def decode_media(df: DataFrame, decoder=decode_fake) -> DataFrame:
    """mapInPandas decode stage: one Arrow batch in, one out. The
    iterator-of-frames signature is the 100 TB shape — constant memory
    per batch regardless of partition size."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [decoder(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "n_bytes": pdf["length"],
                    "meta": [
                        {"width": w, "height": h, "format": "img"}
                        for w, h, _ in decoded
                    ],
                    "features": [f for _, _, f in decoded],
                }
            )

    return df.mapInPandas(batches, DECODED_SCHEMA)


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for chunked payloads, pure JVM-side: slice the
    binary into n frames with substring and explode — one row per
    (path, frame_id, frame_bytes). Frame i covers payload bytes
    [i*L DIV n, (i+1)*L DIV n): integer boundaries that tile the payload
    exactly — no gaps, no lost tail bytes. No Python hop at all."""
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    n = int(n_frames)
    # Exact integer DIV for the boundaries (not double division + cast):
    # [i*L DIV n, (i+1)*L DIV n) holds for ANY n, not just powers of two.
    # i and length() are INTs — promote to BIGINT before the multiply so a
    # multi-GB payload cannot ANSI-overflow (i * 750MB already exceeds 2^31)
    frames = F.expr(
        f"""transform(sequence(0, {n - 1}), i -> struct(
            CAST(i AS INT) AS frame_id,
            substring(content,
                9 + CAST((CAST(i AS BIGINT) * (length(content) - 8)) DIV {n} AS INT),
                CAST((CAST(i + 1 AS BIGINT) * (length(content) - 8)) DIV {n} AS INT)
                  - CAST((CAST(i AS BIGINT) * (length(content) - 8)) DIV {n} AS INT)
            ) AS frame))"""
    )
    return df.select("path", F.explode(frames).alias("f")).select(
        "path", "f.frame_id", "f.frame"
    )


#: hex-digit -> value, shared by the blob-decoding oracles: DuckDB 1.0 has
#: no BLOB substring/byte access, so bytes are recovered from hex(content).
_HEXV = "(strpos('0123456789abcdef', substr({hx}, {pos}, 1))-1)"


def _byte_at(hx: str, byte_pos: str) -> str:
    """DuckDB expression for the unsigned byte value at 0-based ``byte_pos``
    of the lower-hex string ``hx``."""
    hi = _HEXV.format(hx=hx, pos=f"CAST(2*({byte_pos})+1 AS BIGINT)")
    lo = _HEXV.format(hx=hx, pos=f"CAST(2*({byte_pos})+2 AS BIGINT)")
    return f"({hi}*16 + {lo})"


def _be_uint32(hx: str, start_byte: int) -> str:
    """DuckDB expression for the big-endian uint32 at ``start_byte``."""
    terms = [
        f"CAST({_byte_at(hx, str(start_byte))} AS BIGINT)*16777216",
        f"{_byte_at(hx, str(start_byte + 1))}*65536",
        f"{_byte_at(hx, str(start_byte + 2))}*256",
        _byte_at(hx, str(start_byte + 3)),
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "q_multimodal_decode",
    oracle=f"""
        WITH m AS (
          SELECT filename, CAST(octet_length(content) AS BIGINT) AS n_bytes,
                 greatest(octet_length(content)-8, 0) AS L,
                 lower(hex(content)) AS hx
          FROM read_blob('{MEDIA_DIR}/*.img')
        ), idx AS (
          SELECT filename, unnest(range(0, CAST(L AS BIGINT))) AS i FROM m
        ), byt AS (
          SELECT idx.filename, {_byte_at('m.hx', 'idx.i + 8')} AS v
          FROM idx JOIN m ON m.filename = idx.filename
        ), hist AS (
          SELECT filename, v//32 AS bucket, count(*) AS c
          FROM byt GROUP BY filename, v//32
        )
        SELECT parse_filename(m.filename) AS path, m.n_bytes,
               CAST(CASE WHEN m.n_bytes >= 8
                    THEN {_be_uint32('m.hx', 0)} ELSE 0 END AS INT) AS width,
               CAST(CASE WHEN m.n_bytes >= 8
                    THEN {_be_uint32('m.hx', 4)} ELSE 0 END AS INT) AS height,
               string_agg(
                 CAST(CAST(floor(
                   CAST(CAST(COALESCE(h.c, 0) / greatest(m.L, 1) AS FLOAT)
                        AS DOUBLE)
                   * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
                 ',' ORDER BY g.bucket) AS features_ppm
        FROM m
        CROSS JOIN generate_series(0, 7) AS g(bucket)
        LEFT JOIN hist h ON h.filename = m.filename AND h.bucket = g.bucket
        GROUP BY m.filename, m.n_bytes, m.hx
    """,
    doc="E15: binaryFile scan -> Arrow-batched mapInPandas decode "
    "(deterministic fake kernel) -> metadata struct + feature vector. "
    "Hash-proven: DuckDB reproduces the fake kernel from read_blob by "
    "recovering payload bytes from hex(content) (no BLOB byte access in "
    "DuckDB 1.0) — uint32-BE header words and the normalized 8-bucket "
    "byte histogram. Features are serialized as integer micro-fractions "
    "(floor(x*1e6 + 0.5) of the float32 value, with the product computed "
    "in DOUBLE on both sides — DuckDB's FLOAT*1e6 would re-round to 24 "
    "bits) — an explicit HALF_UP in both engines, because printf('%.6f') "
    "ties break differently (Java HALF_UP vs C half-even; 102/768 = "
    "0.1328125 is a real tie in the fixtures). CSV-serialized for the "
    "driver's row canonicalizer; the operator API (decode_media) keeps "
    "the typed float array.",
    tags=("E15",),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = decode_media(read_media(spark))
    ppm = F.transform(
        "features",
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("bigint"),
    )
    return decoded.select(
        file_name("path").alias("path"),
        "n_bytes",
        "meta.width",
        "meta.height",
        array_csv(ppm, "%d").alias("features_ppm"),
    )


@register(
    "q_multimodal_frames",
    oracle=f"""
        WITH m AS (
          SELECT filename,
                 greatest(octet_length(content) - 8, 0) AS L,
                 hex(content) AS hx
          FROM read_blob('{MEDIA_DIR}/*.img')
        )
        SELECT parse_filename(filename) AS path,
               CAST(i AS INT) AS frame_id,
               CAST(((i+1)*L)//4 - (i*L)//4 AS INT) AS frame_len,
               lower(substr(hx, CAST(2*((i*L)//4) + 17 AS BIGINT),
                            CAST(2*(((i+1)*L)//4 - (i*L)//4) AS BIGINT)))
                   AS frame_hex
        FROM m, generate_series(0, 3) AS t(i)
    """,
    doc="E15: frame sampling over binary payloads via substring+explode "
    "(JVM-side, no Python). Hash-proven: frame bytes surface as hex + "
    "length scalars (never raw binary cells), which DuckDB reproduces "
    "from read_blob via hex-string slicing — frame i covers payload "
    "bytes [i*L DIV 4, (i+1)*L DIV 4), 8-byte header skipped, so the "
    "hex window is [2*(i*L DIV 4)+17, +2*len). The operator API "
    "(frame_sample) keeps the binary column.",
    tags=("E15",),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(read_media(spark)).select(
        file_name("path").alias("path"),
        "frame_id",
        F.length("frame").alias("frame_len"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


def resize_media(df: DataFrame, target: int = 16) -> DataFrame:
    """Resize stage: nearest-neighbour downsample of each payload to a
    fixed ``target`` length — the charter's image-resize op with the
    pixel decode swapped for deterministic byte indexing (no media libs
    here; a real deployment resamples the decoded pixel grid with the
    identical batch shape). Arrow-batched mapInPandas; per batch the
    resample is one numpy fancy-index, no per-row Python.

    Index map: out[i] = payload[(i * L) // target] — the 1-D
    nearest-neighbour rule, exact and engine-independent.
    """
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("orig_len", T.LongType()),
            T.StructField("resized", T.ArrayType(T.IntegerType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for c in pdf["content"]:
                # guard truncated/corrupt files (< header size): empty
                # payload, zero features — same posture as decode_fake
                payload = np.frombuffer(c[8:], dtype=np.uint8) if len(c) >= 8 else np.array([], dtype=np.uint8)
                if len(payload) == 0:
                    out.append([0] * target)
                    continue
                idx = (np.arange(target) * len(payload)) // target
                out.append(payload[idx].astype(np.int32).tolist())
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "orig_len": [max(len(c) - 8, 0) for c in pdf["content"]],
                    "resized": out,
                }
            )

    return df.mapInPandas(batches, schema)


def audio_window_features(df: DataFrame, window: int = 64) -> DataFrame:
    """Audio-style feature extraction: treat the payload as a signed-8bit
    waveform, frame it into fixed windows, and emit per-window RMS energy
    and zero-crossing count — the standard first layer of any audio
    pipeline, with the codec decode stubbed to raw bytes (charter: the
    plumbing is real, the decoder is the integration point).

    One Arrow batch in -> one out; the per-window math is a numpy
    reshape + two reductions per row, never per-sample Python. Output is
    one row per (path, window_id) — the exploded shape that downstream
    similarity/dedup operators consume.
    """
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("window_id", T.IntegerType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_crossings", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            paths, wids, rms, zc = [], [], [], []
            for path, c in zip(pdf["path"], pdf["content"]):
                wave = np.frombuffer(c[8:], dtype=np.int8).astype(np.float64)
                n_win = len(wave) // window
                if n_win == 0:
                    continue
                w = wave[: n_win * window].reshape(n_win, window)
                paths += [path] * n_win
                wids += list(range(n_win))
                # raw (unrounded) RMS: the double is bit-identical to
                # sqrt(avg(s*s)) in any IEEE engine (integer sums exact,
                # /window exact for power-of-2 windows, sqrt correctly
                # rounded) — rounding is a serialization decision left to
                # the query layer, where it must match the oracle exactly
                rms += np.sqrt((w**2).mean(axis=1)).tolist()
                zc += (np.diff(np.signbit(w), axis=1) != 0).sum(axis=1).astype(int).tolist()
            yield pd.DataFrame(
                {"path": paths, "window_id": wids, "rms": rms, "zero_crossings": zc}
            )

    return df.mapInPandas(batches, schema)


@register(
    "q_multimodal_resize",
    oracle=f"""
        WITH m AS (
          SELECT filename, greatest(octet_length(content)-8, 0) AS L,
                 lower(hex(content)) AS hx
          FROM read_blob('{MEDIA_DIR}/*.img')
        )
        SELECT parse_filename(m.filename) AS path, CAST(m.L AS BIGINT) AS orig_len,
               string_agg(
                 CAST(CASE WHEN m.L = 0 THEN 0
                      ELSE {_byte_at('m.hx', '(t.i*m.L)//16 + 8')}
                      END AS VARCHAR),
                 ',' ORDER BY t.i) AS resized_csv
        FROM m, generate_series(0, 15) AS t(i)
        GROUP BY m.filename, m.L
    """,
    doc="E15: nearest-neighbour resize of binary payloads to a fixed "
    "16-sample grid — deterministic byte indexing standing in for pixel "
    "resampling, Arrow-batched numpy fancy-index per batch. Hash-proven: "
    "out[i] = payload[(i*L) DIV 16], which DuckDB reproduces from "
    "read_blob via hex-pair byte recovery. The resized grid is "
    "serialized to a CSV string for the driver's row canonicalizer; "
    "the operator API (resize_media) keeps the typed array column.",
    tags=("E15",),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_media(read_media(spark)).select(
        file_name("path").alias("path"),
        "orig_len",
        array_csv("resized", "%d").alias("resized_csv"),
    )


@register(
    "q_multimodal_audio",
    oracle=f"""
        WITH m AS (
          SELECT filename, greatest(octet_length(content)-8, 0) AS L,
                 lower(hex(content)) AS hx
          FROM read_blob('{MEDIA_DIR}/*.img')
        ), idx AS (
          SELECT filename, unnest(range(0, CAST(L AS BIGINT))) AS i FROM m
        ), byt AS (
          SELECT filename, i, CASE WHEN u > 127 THEN u - 256 ELSE u END AS s
          FROM (
            SELECT idx.filename, idx.i, {_byte_at('m.hx', 'idx.i + 8')} AS u
            FROM idx JOIN m ON m.filename = idx.filename
          )
        ), w AS (
          SELECT filename, CAST(i//64 AS INT) AS window_id, s,
                 lag(s) OVER (PARTITION BY filename, i//64 ORDER BY i) AS prev
          FROM byt
        )
        SELECT parse_filename(filename) AS path, window_id,
               CAST(floor(sqrt(avg(CAST(s*s AS DOUBLE))) * 1000000 + 0.5)
                    AS BIGINT) AS rms_micro,
               CAST(count(*) FILTER (
                 WHERE prev IS NOT NULL AND (s < 0) != (prev < 0)) AS INT)
                 AS zero_crossings
        FROM w
        GROUP BY filename, window_id
        HAVING count(*) = 64
    """,
    doc="E15: audio-style windowed feature extraction (per-window RMS + "
    "zero crossings over the payload as an int8 waveform) via "
    "mapInPandas — one numpy reshape per batch. Hash-proven: DuckDB "
    "recovers signed bytes from hex(content) and recomputes each full "
    "64-sample window. The raw RMS double is bit-identical in both "
    "engines (integer squared-sums are exact in double regardless of "
    "summation order, the /64 mean is a power-of-2 division, IEEE sqrt "
    "is correctly rounded), so serializing as integer micro-units via "
    "the shared explicit floor(x*1e6 + 0.5) is fully deterministic — "
    "unlike round(x, 6), whose half-way behavior differs between "
    "numpy's half-even rint and DuckDB's half-away round when the "
    "scaled double lands exactly on k+0.5.",
    tags=("E15",),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = audio_window_features(read_media(spark))
    return audio.select(
        file_name("path").alias("path"),
        "window_id",
        F.floor(F.col("rms") * 1000000 + F.lit(0.5)).cast("bigint").alias("rms_micro"),
        "zero_crossings",
    )


def frame_dedup(frames: DataFrame) -> DataFrame:
    """Frame-granular exact dedup: sha2 fingerprint of each sampled
    frame's bytes (JVM-side), one groupBy on the digest, deterministic
    min-(path, frame_id) survivor + copy count. The video analogue of
    substring-level text dedup: re-encoded or re-muxed uploads that are
    not byte-identical as FILES still share byte-identical frames at
    the same sample grid, and at 100 TB the 32-byte digest is what
    shuffles, never frame payloads."""
    return (
        frames.groupBy(F.sha2(F.col("frame"), 256).alias("__fp"))
        .agg(
            F.min(
                F.struct(
                    file_name("path").alias("p"),
                    F.col("frame_id").alias("f"),
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("s.p").alias("survivor_path"),
            F.col("s.f").alias("survivor_frame"),
            "n_copies",
        )
    )


def shared_frame_pairs(frames: DataFrame) -> DataFrame:
    """(path_a, path_b, n_shared): file pairs sharing at least one
    byte-identical frame, with the count of DISTINCT shared frame
    contents — the candidate stage of media near-dup (two files sharing
    many frames are cuts/copies of each other). Digest-bucket self-join:
    shuffle carries (path, 32-byte digest) rows and only same-digest
    pairs are compared — the same candidate-pair shape as the text LSH
    paths, never file×file."""
    f = frames.select(
        file_name("path").alias("p"),
        F.sha2(F.col("frame"), 256).alias("__fp"),
    ).distinct()
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__fp") == F.col("b.__fp")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(
            F.col("a.p").alias("path_a"), F.col("b.p").alias("path_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_FRAMES_SQL = f"""
        SELECT parse_filename(m.filename) AS path, CAST(i AS INT) AS frame_id,
               lower(substr(hx, CAST(2*((i*L)//4) + 17 AS BIGINT),
                            CAST(2*(((i+1)*L)//4 - (i*L)//4) AS BIGINT)))
                   AS fh
        FROM (SELECT filename, greatest(octet_length(content) - 8, 0) AS L,
                     hex(content) AS hx
              FROM read_blob('{MEDIA_DIR}/*.img')) m,
             generate_series(0, 3) AS t(i)
"""


@register(
    "q_multimodal_frame_dedup",
    oracle=f"""
        WITH f AS ({_FRAMES_SQL}),
        ranked AS (
            SELECT fh, path, frame_id,
                   row_number() OVER (PARTITION BY fh
                                      ORDER BY path, frame_id) AS rn
            FROM f
        ), cnt AS (
            SELECT fh, CAST(count(*) AS BIGINT) AS n_copies
            FROM f GROUP BY fh
        )
        SELECT ranked.path AS survivor_path,
               ranked.frame_id AS survivor_frame, cnt.n_copies
        FROM ranked JOIN cnt USING (fh)
        WHERE ranked.rn = 1
    """,
    doc="E15+E11: frame-granular media dedup — sha2 per sampled frame, "
    "digest groupBy, min-(path,frame_id) survivor per distinct frame "
    "content. Hash-proven: DuckDB groups on the frame's recovered hex "
    "text (bytes-equal iff hex-equal iff sha256-equal) while the engine "
    "groups on the digest — the 100 TB shape, where 32 bytes shuffle "
    "instead of the frame.",
    tags=("E15", "E11", "dedup"),
)
def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_dedup(frame_sample(read_media(spark)))


@register(
    "q_multimodal_shared_frames",
    oracle=f"""
        WITH f AS (
            SELECT DISTINCT path, fh FROM ({_FRAMES_SQL})
        )
        SELECT a.path AS path_a, b.path AS path_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM f a JOIN f b ON a.fh = b.fh AND a.path < b.path
        GROUP BY a.path, b.path
    """,
    doc="E15+E12: media near-dup candidates — file pairs sharing "
    "byte-identical sampled frames, counted over distinct shared frame "
    "contents. Digest-bucket self-join (same candidate-pair shape as "
    "the text LSH paths — never file x file). Hash-proven vs the hex "
    "self-join in DuckDB.",
    tags=("E15", "E12", "dedup"),
)
def q_multimodal_shared_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_frame_pairs(frame_sample(read_media(spark)))


def media_dedup(df: DataFrame) -> DataFrame:
    """Exact binary dedup over media payloads: sha2 fingerprint of the
    raw bytes, min-path survivor per fingerprint, duplicate count. The
    hash is computed JVM-side on the binary column (no Python hop, no
    byte copy out of Tungsten), then it's the standard one-shuffle
    fingerprint-groupBy from dedup.py — the image/audio analogue of
    exact document dedup, and the first pass of any multimodal corpus
    curation (byte-identical re-crawls are the bulk of media dupes)."""
    return (
        df.select(F.col("path"), F.sha2(F.col("content"), 256).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("path").alias("survivor_path"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "q_multimodal_dedup",
    oracle=f"""
        SELECT min(parse_filename(filename)) AS survivor_path,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM read_blob('{MEDIA_DIR}/*.img')
        GROUP BY content
    """,
    doc="E15+E11: exact media dedup — JVM-side sha2(content) fingerprint "
    "+ one-shuffle groupBy, min-path survivor per distinct payload. "
    "Hash-proven: the query surfaces the deterministic (survivor, count) "
    "pairs; DuckDB reproduces them by grouping on the raw blob (bytes-"
    "equal iff sha256-equal), while the engine groups on the fingerprint "
    "— the 100 TB shape, where the hash shuffles instead of the payload. "
    "The fingerprint itself stays in the media_dedup operator API.",
    tags=("E15", "E11", "dedup"),
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_dedup(read_media(spark)).select(
        file_name("survivor_path").alias("survivor_path"),
        "n_copies",
    )


def payload_dhash(df: DataFrame, cells: int = 65) -> DataFrame:
    """(path, lo, hi): a difference-hash fingerprint of each opaque
    payload — the dHash idea (average-pool, compare adjacent cells,
    one bit per comparison) applied to the raw BYTE raster, giving a
    near-dup signal that tolerates small payload edits where
    sha2-exact dedup (media_dedup) sees a different blob. The real
    image deployment applies the identical pooling to DECODED
    luminance (decode kernels above); byte-raster mode is the
    format-agnostic fallback that runs on any blob, any container.

    All JVM-side, ZERO shuffle: hex the payload once, pool ``cells``
    equal byte-slices with exact integer sums (slice boundaries
    c*L DIV cells — identical arithmetic in the oracle), emit bit c =
    avg(cell c) > avg(cell c+1) compared by cross-multiplication
    (sum_a*n_b > sum_b*n_a — no float division anywhere), and pack 64
    bits into two BIGINT halves. The (lo, hi) pair then rides the SAME
    banding/Hamming machinery as SimHash text near-dup
    (neardup.simhash_banded / hamming_packed). Blobs shorter than
    ``cells`` bytes produce empty cells whose comparisons are 0-bits —
    defined, not an error. At scale, chunk multi-GB payloads with
    frame_sample first so per-row slice arrays stay bounded."""
    n = int(cells)
    hx = F.lower(F.hex(F.col("content")))
    base = df.select("path", hx.alias("__hx"), F.length("content").alias("__len"))
    cs = F.expr(
        f"""transform(sequence(0, {n - 1}), c -> struct(
            aggregate(
                sequence(CAST((CAST(c AS BIGINT) * __len) DIV {n} AS INT) + 1,
                         CAST(((CAST(c AS BIGINT) + 1) * __len) DIV {n} AS INT)),
                CAST(0 AS BIGINT),
                (acc, p) -> acc + CAST(conv(substring(__hx, 2 * p - 1, 2), 16, 10) AS BIGINT)
            ) AS s,
            ((CAST(c AS BIGINT) + 1) * __len) DIV {n}
                - (CAST(c AS BIGINT) * __len) DIV {n} AS m))"""
    )
    bits = F.expr(
        f"""transform(sequence(1, {n - 1}), c -> IF(
            element_at(__cs, c).s * element_at(__cs, c + 1).m
            > element_at(__cs, c + 1).s * element_at(__cs, c).m,
            CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"""
    )
    pack = (
        "aggregate(sequence(1, 32), CAST(0 AS BIGINT), "
        "(acc, i) -> acc + element_at(__bits, i {off}) * shiftleft(CAST(1 AS BIGINT), i - 1))"
    )
    return (
        base.withColumn("__cs", cs)
        .withColumn("__bits", bits)
        .select(
            "path",
            F.expr(pack.format(off="")).alias("lo"),
            F.expr(pack.format(off="+ 32")).alias("hi"),
        )
    )


def dhash_pairs(hashed: DataFrame, max_hamming: int | None = None) -> DataFrame:
    """(path_a, path_b, hamming): pairwise Hamming distances between
    payload fingerprints (path_a < path_b, each pair once). At fixture
    scale this is the exact all-pairs surface; at corpus scale feed the
    (lo, hi) table through neardup.simhash_banded + bucket pairing
    instead (identical downstream semantics — same packed-signature
    Hamming arithmetic)."""
    from udacity_data_engineering_spark.operators.neardup import hamming_packed

    a = hashed.selectExpr("path AS path_a", "lo AS la", "hi AS ha")
    b = hashed.selectExpr("path AS path_b", "lo AS lb", "hi AS hb")
    out = (
        a.join(b, F.col("path_a") < F.col("path_b"))
        .select(
            "path_a",
            "path_b",
            hamming_packed(
                F.col("la"), F.col("ha"), F.col("lb"), F.col("hb")
            ).alias("hamming"),
        )
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


_DHASH_SQL = """
        WITH f AS (
            SELECT filename AS path, lower(hex(content)) AS hx,
                   octet_length(content) AS len
            FROM read_blob('{media}/*')
        ), cellsum AS (
            SELECT path, c,
                   (c + 1) * len // 65 - c * len // 65 AS m,
                   coalesce(sum(
                       (strpos('0123456789abcdef', substr(hx, 2 * p - 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(hx, 2 * p, 1)) - 1)), 0) AS s
            FROM f,
                 LATERAL (SELECT unnest(range(0, 65)) AS c),
                 LATERAL (SELECT unnest(range(c * len // 65 + 1,
                                              (c + 1) * len // 65 + 1)) AS p)
            GROUP BY path, c, len
        ), bits AS (
            SELECT path, c,
                   CASE WHEN s * lead(m) OVER w > lead(s) OVER w * m
                        THEN 1 ELSE 0 END AS bit
            FROM cellsum
            WINDOW w AS (PARTITION BY path ORDER BY c)
            QUALIFY c < 64
        ), h AS (
            SELECT path,
                   sum(CASE WHEN c < 32 THEN bit * (1::BIGINT << c) ELSE 0 END) AS lo,
                   sum(CASE WHEN c >= 32 THEN bit * (1::BIGINT << (c - 32)) ELSE 0 END) AS hi
            FROM bits GROUP BY path
        )
"""


@register(
    "q_multimodal_dhash_pairs",
    oracle=_DHASH_SQL.format(media=MEDIA_DIR)
    + """
        SELECT parse_filename(a.path) AS path_a,
               parse_filename(b.path) AS path_b,
               CAST(bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
        FROM h a JOIN h b ON a.path < b.path
    """,
    doc="E15+E12: perceptual-style near-dup fingerprints for opaque "
    "media payloads — 64-bit byte-raster dHash (average-pool 65 equal "
    "slices, adjacent-cell comparisons, exact integer arithmetic "
    "throughout) + pairwise Hamming distances, the SimHash machinery "
    "applied to binary columns. Zero shuffle up to the pair join; at "
    "corpus scale the (lo, hi) table feeds simhash_banded instead of "
    "all-pairs. Hash-proven: DuckDB recomputes identical slice sums "
    "(hex recovery), identical cross-multiplied bits, identical "
    "packing and xor/bit_count Hamming.",
    tags=("E15", "E12", "dedup"),
)
def q_multimodal_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from udacity_data_engineering_spark.session import configure

    configure(spark)
    media = spark.read.format("binaryFile").load(f"{MEDIA_DIR}/*")
    return dhash_pairs(payload_dhash(media)).select(
        file_name("path_a").alias("path_a"),
        file_name("path_b").alias("path_b"),
        "hamming",
    )
