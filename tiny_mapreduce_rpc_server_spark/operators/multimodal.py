"""[EXT] Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with metadata
computed Spark-side; decode / feature-extract steps are Arrow-batched
``mapInPandas`` stages. The decode pipeline operates on REAL image bytes:
a spec-compliant 24-bit BMP is synthesized per document, and the decode
stage runs a correct minimal BMP parser (BMP is uncompressed, so the
parser is a true decoder, not a fake). Audio/video decoding would slot
into the same stages with torchaudio/ffmpeg — only the per-payload
function changes, never the Spark plumbing.

Scale notes: binary payloads ride parquet; metadata extraction is
per-row (no shuffle); mapInPandas streams Arrow batches so peak memory is
one batch of decoded frames per core, not one partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_mapreduce_rpc_server_spark.functions import portable as P
from tiny_mapreduce_rpc_server_spark.session import scratch_dir
from tiny_mapreduce_rpc_server_spark.sources import load_table, spread
from tiny_mapreduce_rpc_server_spark.spec import QuerySpec


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat each document's text bytes as an opaque media payload:
    byte length, content digest, and deterministic fake dimensions
    (stand-ins for decoded width/height metadata)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    payload = F.col("text").cast("binary")
    h = P.h1(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("digest"),
        (h % 640 + 16).alias("fake_width"),
        (h % 480 + 16).alias("fake_height"),
        ((h % 640 + 16) * (h % 480 + 16)).alias("fake_pixels"),
    )


ORACLE_MULTIMODAL_META = f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest,
       {P.sql_h1("text")} % 640 + 16 AS fake_width,
       {P.sql_h1("text")} % 480 + 16 AS fake_height,
       ({P.sql_h1("text")} % 640 + 16) * ({P.sql_h1("text")} % 480 + 16) AS fake_pixels
FROM documents
"""


# ---------------------------------------------------------------------------
# encode -> decode pipeline (mapInPandas over real BMP images)
# ---------------------------------------------------------------------------
#
# The payload is a spec-compliant 24-bit BMP synthesized per document
# (dimensions and fill color derived from the text hash), so the decode
# stage exercises a REAL image decoder over real image bytes: a correct
# minimal BMP parser (pure Python — BMP is an uncompressed format, so the
# parser is ~20 lines, not a fake). The decoder reads only the payload,
# and the synthesized image's properties are closed-form in the hash,
# which makes the whole encode->decode pipeline oracle-checkable end to
# end.

import struct

_DECODE_SCHEMA = "doc_id long, width int, height int, mean_pixel double"
_ENCODE_SCHEMA = "doc_id long, payload binary"


def _bmp_encode(w: int, h: int, color: int) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (BITMAPINFOHEADER)."""
    row = bytes([color, color, color]) * w
    pad = b"\x00" * ((4 - (3 * w) % 4) % 4)
    pixels = (row + pad) * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(pixels), 0, 0, 54,  # file header
        40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0,  # info header
    )
    return header + pixels


def _bmp_header(payload: bytes) -> tuple[int, int, int, int]:
    """(pixel offset, width, height, padded row stride) of a 24-bit BMP."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    h = abs(h)
    stride = (3 * w + 3) & ~3
    return offset, w, h, stride


def _bmp_decode_py(payload: bytes) -> tuple[int, int, float]:
    """Minimal BMP reader: dimensions + mean pixel value (all channels),
    honoring 4-byte row padding. Decodes every payload the engine
    synthesizes."""
    offset, w, h, stride = _bmp_header(payload)
    total = 0
    for r in range(h):
        rowstart = offset + r * stride
        total += sum(payload[rowstart : rowstart + 3 * w])
    return w, h, total / (3 * w * h)


def encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: synthesize the BMP payload from per-doc
    (width, height, color) computed JVM-side."""
    for pdf in batches:
        payloads = [
            _bmp_encode(int(w), int(h), int(c))
            for w, h, c in zip(pdf["w"], pdf["h"], pdf["color"])
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _decoder(passthrough: tuple = ()):
    """mapInPandas worker factory: real image decode by the BMP parser,
    payload-driven only. ``passthrough`` columns are copied from input to
    output unchanged, so every decode-shaped query shares ONE decode
    loop."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, means = [], [], []
            for payload in pdf["payload"]:
                w, h, m = _bmp_decode_py(bytes(payload))
                ws.append(w)
                hs.append(h)
                means.append(m)
            out = {"doc_id": pdf["doc_id"]}
            for c in passthrough:
                out[c] = pdf[c]
            out["width"] = pd.Series(ws, dtype="int32")
            out["height"] = pd.Series(hs, dtype="int32")
            out["mean_pixel"] = pd.Series(means, dtype="float64")
            yield pd.DataFrame(out)

    return fn


decode_batch = _decoder()


def _img_src(docs: DataFrame) -> DataFrame:
    """Per-doc synthetic image parameters (w, h, color) — the hash
    closed form every BMP oracle states; single owner for the formula."""
    h = P.h1(F.col("text"))
    return docs.select(
        "doc_id",
        (h % 64 + 8).cast("int").alias("w"),
        (h % 48 + 8).cast("int").alias("h"),
        (h % 256).cast("int").alias("color"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image encode->decode pipeline over binary payloads via two
    Arrow-batched mapInPandas stages: synthesize a real 24-bit BMP per
    document (dims/color hash-derived), then decode it reading ONLY the
    payload bytes. Solid fill makes the decoded mean exact (color*n/n),
    so the oracle can state the decoded properties in closed form."""
    src = _img_src(spread(load_table(spark, sf_dir, "documents")))
    images = src.mapInPandas(encode_batch, _ENCODE_SCHEMA)
    return images.mapInPandas(decode_batch, _DECODE_SCHEMA)


ORACLE_MULTIMODAL_DECODE = f"""
SELECT doc_id,
       CAST({P.sql_h1("text")} % 64 + 8 AS INTEGER) AS width,
       CAST({P.sql_h1("text")} % 48 + 8 AS INTEGER) AS height,
       CAST({P.sql_h1("text")} % 256 AS DOUBLE) AS mean_pixel
FROM documents
"""


# ---------------------------------------------------------------------------
# frame sampling (mapInPandas 1->N expansion, oracle-checked)
# ---------------------------------------------------------------------------

_FRAME_STRIDE = 5
_FRAME_SCHEMA = "doc_id long, frame_idx int, feature long"


def frame_sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: every 5th frame of each payload. The 1->N row
    expansion is the real plumbing a video frame-sampler needs; the
    per-frame feature is a deterministic stand-in for a decoded frame
    stat (function of the payload hash and frame index)."""
    for pdf in batches:
        ids, idxs, feats = [], [], []
        for doc_id, n_bytes, h in zip(pdf["doc_id"], pdf["n_bytes"], pdf["h"]):
            n_frames = int(n_bytes) % 30 + 1
            for idx in range(0, n_frames, _FRAME_STRIDE):
                ids.append(doc_id)
                idxs.append(idx)
                feats.append((int(h) * (idx + 1)) % 997)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "feature": pd.Series(feats, dtype="int64"),
            }
        )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: explode each media payload into every 5th frame
    with a per-frame feature. Hash and length are computed JVM-side and
    shipped into the Arrow batch, so the Python step is pure row
    expansion — no formula duplication, and the whole op stays
    shuffle-free."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    payloads = docs.select(
        "doc_id",
        F.length(F.col("text").cast("binary")).alias("n_bytes"),
        P.h1(F.col("text")).alias("h"),
    )
    return payloads.mapInPandas(frame_sample_batch, _FRAME_SCHEMA)


ORACLE_FRAME_SAMPLE = f"""
WITH f AS (
  SELECT doc_id,
         octet_length(encode(text)) % 30 + 1 AS n_frames,
         {P.sql_h1("text")} AS h
  FROM documents)
SELECT doc_id, CAST(idx AS INTEGER) AS frame_idx, (h * (idx + 1)) % 997 AS feature
FROM (SELECT doc_id, h,
             unnest(generate_series(0, CAST(n_frames AS BIGINT) - 1,
                                    {_FRAME_STRIDE})) AS idx
      FROM f) t
"""


# ---------------------------------------------------------------------------
# resize / thumbnail (mapInPandas 1->1 transform, oracle-checked)
# ---------------------------------------------------------------------------

_THUMB_CHARS = 256
_RESIZE_SCHEMA = "doc_id long, thumb binary, out_w int, out_h int"


def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: produce a bounded 'thumbnail' (payload
    truncated to 256 characters, re-encoded — stand-in for a real
    downscale; char-based so multibyte text truncates identically in any
    engine) plus output dimensions scaled to width 16 preserving the
    fake aspect ratio."""
    for pdf in batches:
        thumbs = [
            bytes(p).decode("utf-8")[:_THUMB_CHARS].encode("utf-8")
            for p in pdf["payload"]
        ]
        h = pdf["h"].astype("int64")
        in_w = h % 640 + 16
        in_h = h % 480 + 16
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "thumb": thumbs,
                "out_w": pd.Series([16] * len(pdf), dtype="int32"),
                "out_h": (in_h * 16 // in_w).astype("int32"),
            }
        )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline: binary in, bounded thumbnail + target dims out,
    digest computed JVM-side after the Python stage (binary columns
    round-trip through Arrow)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    payloads = docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        P.h1(F.col("text")).alias("h"),
    )
    resized = payloads.mapInPandas(resize_batch, _RESIZE_SCHEMA)
    return resized.select(
        "doc_id", F.sha2(F.col("thumb"), 256).alias("thumb_digest"), "out_w", "out_h"
    )


ORACLE_RESIZE = f"""
SELECT doc_id,
       sha256(substring(text, 1, {_THUMB_CHARS})) AS thumb_digest,
       16 AS out_w,
       CAST((({P.sql_h1("text")} % 480 + 16) * 16)
            // ({P.sql_h1("text")} % 640 + 16) AS INTEGER) AS out_h
FROM documents
"""


# ---------------------------------------------------------------------------
# audio: real PCM WAV synthesize -> parse pipeline (mapInPandas)
# ---------------------------------------------------------------------------

_AUDIO_RATE = 8000
_AUDIO_ENCODE_SCHEMA = "doc_id long, payload binary"
_AUDIO_DECODE_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, duration_s double,"
    " peak long, sum_sq long"
)


def _wav_encode(n: int, k: int) -> bytes:
    """Minimal spec-compliant 16-bit mono PCM WAV writer. Samples are the
    deterministic integer sequence s_i = (i*k) % 2048 - 1024, so every
    acoustic property is closed-form in (n, k). Synthesis is vectorized
    (numpy int16 buffer) — no per-sample Python loop inside the Arrow
    stage."""
    import numpy as np

    samples = (
        ((np.arange(n, dtype=np.int64) * k) % 2048 - 1024)
        .astype("<i2")
        .tobytes()
    )
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(samples), b"WAVE",
        b"fmt ", 16, 1, 1, _AUDIO_RATE, _AUDIO_RATE * 2, 2, 16,
        b"data", len(samples),
    )
    return hdr + samples


def _wav_decode(payload: bytes) -> tuple[int, int, float, int, int]:
    """Minimal WAV reader: header fields + amplitude stats, reading ONLY
    the payload bytes (PCM is uncompressed; the parser is real, not a
    fake). Sample math is vectorized with numpy; the int64 accumulator
    keeps sum-of-squares exact."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    rate = struct.unpack_from("<I", payload, 24)[0]
    data_size = struct.unpack_from("<I", payload, 40)[0]
    n = data_size // 2
    s = np.frombuffer(payload, dtype="<i2", count=n, offset=44).astype(np.int64)
    peak = int(np.abs(s).max()) if n else 0
    sum_sq = int((s * s).sum())
    return rate, n, n / rate, peak, sum_sq


def audio_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = [
            _wav_encode(int(n), int(k)) for n, k in zip(pdf["n"], pdf["k"])
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def audio_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [_wav_decode(bytes(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "sample_rate": pd.Series([r[0] for r in rows], dtype="int32"),
                "n_samples": pd.Series([r[1] for r in rows], dtype="int64"),
                "duration_s": pd.Series([r[2] for r in rows], dtype="float64"),
                "peak": pd.Series([r[3] for r in rows], dtype="int64"),
                "sum_sq": pd.Series([r[4] for r in rows], dtype="int64"),
            }
        )


def _audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): one synthetic WAV per doc, its sample count n
    and waveform slope k derived from the text hash — the (doc_id, n, k)
    closed form every audio oracle states."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    h = P.h1(F.col("text"))
    src = docs.select(
        "doc_id",
        (h % 4000 + 100).cast("int").alias("n"),
        (h % 97 + 1).cast("int").alias("k"),
    )
    return src.mapInPandas(audio_encode_batch, _AUDIO_ENCODE_SCHEMA)


# the audio oracles' (doc_id, n, k) source: _audio's closed form
_SQL_AUDIO_SRC = f"""WITH src AS (
  SELECT doc_id,
         {P.sql_h1("text")} % 4000 + 100 AS n,
         {P.sql_h1("text")} % 97 + 1 AS k
  FROM documents)"""


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline over binary payloads: synthesize a real 16-bit
    mono PCM WAV per document (length and waveform slope hash-derived),
    then parse it back reading ONLY the bytes — two Arrow-batched
    mapInPandas stages, the audio analog of q_multimodal_decode.

    The deterministic sample generator makes every decoded property
    (duration, peak amplitude, energy) closed-form, so the oracle
    recomputes them with integer list arithmetic — the decode stage is
    checked end-to-end, not just for shape. Real codecs (mp3/flac)
    would slot into the decode worker unchanged; PCM keeps the
    container dependency-free."""
    return _audio(spark, sf_dir).mapInPandas(audio_decode_batch, _AUDIO_DECODE_SCHEMA)


ORACLE_MULTIMODAL_AUDIO = f"""
{_SQL_AUDIO_SRC},
s AS (
  SELECT doc_id, n,
         list_transform(range(0, n), i -> (i * k) % 2048 - 1024) AS xs
  FROM src)
SELECT doc_id,
       {_AUDIO_RATE} AS sample_rate,
       n::BIGINT AS n_samples,
       n::DOUBLE / {_AUDIO_RATE} AS duration_s,
       list_max(list_transform(xs, x -> abs(x)))::BIGINT AS peak,
       list_sum(list_transform(xs, x -> x * x))::BIGINT AS sum_sq
FROM s
"""


def q_multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact IMAGE dedup by content digest — the first pass every image
    corpus runs (byte-identical files are the dominant duplicate class):
    synthesize the BMP payloads (same derivation as q_multimodal_decode),
    hash the raw bytes JVM-side with sha2 (the binary column never
    reaches Python again after the encode stage), and group on the
    32-byte digest. Shuffle carries (digest, doc_id) only — never
    payloads — which is what makes this viable when the payload column
    is petabytes.

    Oracle: the payload is a bijection of the (w, h, color) hash triple,
    so DuckDB groups on the closed-form triple — equal group statistics
    without ever building a BMP.
    """
    src = _img_src(spread(load_table(spark, sf_dir, "documents")))
    images = src.mapInPandas(encode_batch, _ENCODE_SCHEMA)
    return (
        images.select(F.sha2("payload", 256).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .where(F.col("n_copies") >= 2)
        .select("keep_doc_id", "n_copies")
    )


ORACLE_MULTIMODAL_IMAGE_DEDUP = f"""
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM (
  SELECT doc_id,
         {P.sql_h1("text")} % 64 AS w,
         {P.sql_h1("text")} % 48 AS h,
         {P.sql_h1("text")} % 256 AS color
  FROM documents)
GROUP BY w, h, color
HAVING count(*) >= 2
"""


MULTIMODAL_QUERIES: list[QuerySpec] = [
    QuerySpec(
        "multimodal_image_dedup",
        q_multimodal_image_dedup,
        ORACLE_MULTIMODAL_IMAGE_DEDUP,
    ),
    QuerySpec(
        "multimodal_audio",
        q_multimodal_audio,
        ORACLE_MULTIMODAL_AUDIO,
    ),
    QuerySpec("multimodal_meta", q_multimodal_meta, ORACLE_MULTIMODAL_META),
    QuerySpec("multimodal_decode", q_multimodal_decode, ORACLE_MULTIMODAL_DECODE),
    QuerySpec("multimodal_frame_sample", q_multimodal_frame_sample, ORACLE_FRAME_SAMPLE),
    QuerySpec("multimodal_resize", q_multimodal_resize, ORACLE_RESIZE),
]


# ---------------------------------------------------------------------------
# perceptual hash (aHash) over decoded pixels -> visual near-dup clusters
# ---------------------------------------------------------------------------
#
# The solid-fill payloads above make a perceptual hash degenerate, so
# this pipeline synthesizes TWO-TONE images (left band color c1, right
# band c2, split at a hash-varying column w*k//8) and computes the classic 8x8 average-hash from
# the DECODED pixels. Every comparison is integer cross-multiplication
# (cell_sum * total_pixels > total_sum * cell_pixels) and the hash is a
# 16-hex-char string, so there is no float or 64-bit-shift seam, and the
# oracle can state the hash closed-form from (w, h, c1, c2) — a pass
# proves the real decoder and the geometry of the downsample grid, not
# just row plumbing.

_AHASH_SCHEMA = "doc_id long, width int, height int, ahash string"


def _bmp_encode_two_tone(w: int, h: int, c1: int, c2: int, k: int) -> bytes:
    split = w * k // 8
    row = bytes([c1, c1, c1]) * split + bytes([c2, c2, c2]) * (w - split)
    pad = b"\x00" * ((4 - (3 * w) % 4) % 4)
    pixels = (row + pad) * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(pixels), 0, 0, 54,
        40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0,
    )
    return header + pixels


def _ahash_from_payload(payload: bytes) -> tuple[int, int, str]:
    """8x8 average-hash from DECODED BMP bytes: integer cell sums, bit =
    cell average > global average via cross-multiplication, hex-encoded
    row-major (bit 0 = top-left nibble-high)."""
    offset, w, h, stride = _bmp_header(payload)
    # gray value = blue byte (B==G==R by construction)
    rows = [
        payload[offset + r * stride : offset + r * stride + 3 * w : 3]
        for r in range(h)
    ]
    col_edges = [c * w // 8 for c in range(9)]
    row_edges = [r * h // 8 for r in range(9)]
    total_sum = sum(sum(row) for row in rows)
    total_pixels = w * h
    bits = []
    for rc in range(8):
        r0, r1 = row_edges[rc], row_edges[rc + 1]
        for cc in range(8):
            c0, c1_ = col_edges[cc], col_edges[cc + 1]
            cell_sum = sum(sum(rows[r][c0:c1_]) for r in range(r0, r1))
            cell_pixels = (r1 - r0) * (c1_ - c0)
            bits.append(
                1 if cell_sum * total_pixels > total_sum * cell_pixels else 0
            )
    hexd = "0123456789abcdef"
    ahash = "".join(
        hexd[bits[i] * 8 + bits[i + 1] * 4 + bits[i + 2] * 2 + bits[i + 3]]
        for i in range(0, 64, 4)
    )
    return w, h, ahash


def encode_two_tone_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = [
            _bmp_encode_two_tone(int(w), int(h), int(a), int(b), int(k))
            for w, h, a, b, k in zip(
                pdf["w"], pdf["h"], pdf["c1"], pdf["c2"], pdf["k"]
            )
        ]
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def ahash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ws, hs, hashes = [], [], []
        for payload in pdf["payload"]:
            w, h, a = _ahash_from_payload(bytes(payload))
            ws.append(w)
            hs.append(h)
            hashes.append(a)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "ahash": hashes,
            }
        )


def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup clustering by perceptual hash: synthesize a real
    two-tone BMP per document, DECODE it, compute the 8x8 integer aHash
    from the pixels, and group documents by hash — images with the same
    visual signature cluster regardless of their byte-level digest
    (multimodal_image_dedup's exact-digest complement).

    Two Arrow-batched mapInPandas stages (per-row, no shuffle) + one
    hash-group; the oracle recomputes every hash closed-form from the
    generating (w, h, c1, c2), so a pass proves decoder + downsample
    geometry + integer bit rule end to end."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hsh = P.h1(F.col("text"))
    src = docs.select(
        "doc_id",
        (hsh % 64 + 9).cast("int").alias("w"),
        (hsh % 48 + 9).cast("int").alias("h"),
        (hsh % 256).cast("int").alias("c1"),
        ((hsh * 7 + 13) % 256).cast("int").alias("c2"),
        (hsh % 5 + 2).cast("int").alias("k"),
    )
    images = src.mapInPandas(encode_two_tone_batch, _ENCODE_SCHEMA)
    hashed = images.mapInPandas(ahash_batch, _AHASH_SCHEMA)
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
            F.min("width").alias("min_w"),
            F.max("width").alias("max_w"),
        )
    )


def _oracle_phash() -> str:
    h1 = P.sql_h1("text")
    return f"""
WITH params AS (
  SELECT doc_id,
         {h1} % 64 + 9 AS w,
         {h1} % 48 + 9 AS h,
         {h1} % 256 AS c1,
         ({h1} * 7 + 13) % 256 AS c2,
         {h1} % 5 + 2 AS k
  FROM documents),
cells AS (
  SELECT doc_id, w, h, c1, c2, k,
         unnest(range(0, 64)) AS bitpos
  FROM params),
bits AS (
  SELECT doc_id, w, h, bitpos,
         -- cell column range [c0, c1e); left band is [0, w//2)
         (bitpos % 8) * w // 8 AS c0,
         ((bitpos % 8) + 1) * w // 8 AS c1e,
         (bitpos // 8) * h // 8 AS r0,
         ((bitpos // 8) + 1) * h // 8 AS r1e,
         w * k // 8 AS split, c1, c2
  FROM cells),
scored AS (
  SELECT doc_id, bitpos,
         -- integer cell sum: rows * (left-overlap*c1 + right-overlap*c2)
         (r1e - r0) * (greatest(least(c1e, split) - c0, 0) * c1
                       + (c1e - c0 - greatest(least(c1e, split) - c0, 0)) * c2)
           AS cell_sum,
         (r1e - r0) * (c1e - c0) AS cell_pixels,
         h * (split * c1 + (w - split) * c2) AS total_sum,
         w * h AS total_pixels
  FROM bits),
bitvals AS (
  SELECT doc_id, bitpos,
         CASE WHEN cell_sum * total_pixels > total_sum * cell_pixels
              THEN 1 ELSE 0 END AS bit
  FROM scored),
nibbles AS (
  SELECT doc_id, bitpos // 4 AS nib,
         sum(bit * (CASE bitpos % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                    WHEN 2 THEN 2 ELSE 1 END)) AS v
  FROM bitvals GROUP BY 1, 2),
hashes AS (
  SELECT doc_id,
         string_agg(substring('0123456789abcdef', CAST(v AS INT) + 1, 1),
                    '' ORDER BY nib) AS ahash
  FROM nibbles GROUP BY doc_id)
SELECT ahash, count(*) AS n_docs,
       min(p.doc_id) AS canonical_doc,
       min(p.w) AS min_w, max(p.w) AS max_w
FROM hashes hh JOIN params p ON p.doc_id = hh.doc_id
GROUP BY ahash
"""


MULTIMODAL_QUERIES.append(
    QuerySpec(
        "multimodal_phash_dedup",
        q_multimodal_phash_dedup,
        _oracle_phash(),
    )
)


# ---------------------------------------------------------------------------
# audio fingerprint (segment-energy signature) -> acoustic near-dup
# ---------------------------------------------------------------------------

_AFP_SCHEMA = "doc_id long, n_samples long, sig int"


def _audio_fingerprint(payload: bytes) -> tuple[int, int]:
    """8-segment energy signature from DECODED PCM: split the waveform
    into 8 windows, bit w = window |amplitude| sum above the global mean
    (integer cross-multiplication — no float), packed little-endian into
    an 8-bit int. The audio analog of the image aHash."""
    import numpy as np

    if payload[:4] != b"RIFF":
        raise ValueError("not a WAV payload")
    n = struct.unpack_from("<I", payload, 40)[0] // 2
    xs = np.frombuffer(payload, dtype="<i2", offset=44, count=n).astype(
        np.int64
    )
    a = np.abs(xs)
    total = int(a.sum())
    sig = 0
    for w in range(8):
        lo, hi = w * n // 8, (w + 1) * n // 8
        seg = int(a[lo:hi].sum())
        if seg * n > total * (hi - lo):
            sig |= 1 << w
    return n, sig


def audio_fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [_audio_fingerprint(bytes(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": pd.Series([r[0] for r in rows], dtype="int64"),
                "sig": pd.Series([r[1] for r in rows], dtype="int32"),
            }
        )


def q_multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-dup clustering: synthesize the real PCM WAVs (same
    derivation as q_multimodal_audio), DECODE them, compute an
    8-segment-energy signature from the samples, and group clips by
    signature — clips with the same coarse energy envelope cluster
    regardless of byte digest or exact length. Every signature bit is an
    integer cross-multiplication, and the oracle recomputes it
    closed-form from the generating (n, k) waveform, so a pass proves
    the PCM decode and the windowing geometry end to end."""
    fp = _audio(spark, sf_dir).mapInPandas(audio_fp_batch, _AFP_SCHEMA)
    return fp.groupBy("sig").agg(
        F.count("*").alias("n_clips"),
        F.min("doc_id").alias("canonical_doc"),
        F.min("n_samples").alias("min_samples"),
        F.max("n_samples").alias("max_samples"),
    )


ORACLE_AUDIO_FINGERPRINT = f"""
{_SQL_AUDIO_SRC},
s AS (
  SELECT doc_id, n,
         list_transform(range(0, n), i -> abs((i * k) % 2048 - 1024)) AS a
  FROM src),
segs AS (
  SELECT doc_id, n, unnest(range(0, 8)) AS w, a,
         list_sum(a) AS total
  FROM s),
bits AS (
  SELECT doc_id, n, w,
         CASE WHEN list_sum(a[(w * n // 8) + 1 : ((w + 1) * n // 8)]) * n
                   > total * (((w + 1) * n // 8) - (w * n // 8))
              THEN 1 ELSE 0 END AS bit
  FROM segs),
sigs AS (
  SELECT doc_id, min(n) AS n,
         CAST(sum(bit * (1 << w)) AS INT) AS sig
  FROM bits GROUP BY doc_id)
SELECT sig, count(*) AS n_clips,
       min(doc_id) AS canonical_doc,
       CAST(min(n) AS BIGINT) AS min_samples,
       CAST(max(n) AS BIGINT) AS max_samples
FROM sigs GROUP BY sig
"""


MULTIMODAL_QUERIES.append(
    QuerySpec(
        "multimodal_audio_fingerprint",
        q_multimodal_audio_fingerprint,
        ORACLE_AUDIO_FINGERPRINT,
    )
)


# ---------------------------------------------------------------------------
# binaryFile-source ingest: how image corpora actually land in a lake
# ---------------------------------------------------------------------------

_INGEST_SCHEMA = (
    "doc_id long, file_len long, width int, height int, mean_pixel double"
)


def _write_files_batch(base: str):
    """mapInPandas worker factory: write each payload as {doc_id}.bmp
    under ``base`` (models the distributed landing-zone write — one
    file per asset on shared storage, no driver involvement)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os

        _os.makedirs(base, exist_ok=True)
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with open(_os.path.join(base, f"{int(doc_id)}.bmp"), "wb") as f:
                    f.write(bytes(payload))
            yield pd.DataFrame({"n": [len(pdf)]})

    return fn


def q_multimodal_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real multimodal INGEST path, end-to-end: one BMP file per
    document written to a landing zone by distributed workers, then
    re-ingested with Spark's built-in ``binaryFile`` source (path,
    length, content), identity recovered from the filename, and the
    payload decoded by the same Arrow decode kernel as
    ``multimodal_decode``. The oracle states every output in closed
    form — including ``file_len``, which pins the exact on-disk BMP
    byte count (54-byte header + 4-byte-aligned rows) through the
    write->read roundtrip.

    Deployment contract: ``base`` must be SHARED storage (S3/HDFS/NFS)
    — the landing write runs on executors and the binaryFile listing on
    the driver, so a node-local path only works in local mode (this
    container). On object stores the per-file write uses the store's
    client the same way; the Spark-side plumbing is unchanged. Stale
    files: filenames are deterministic per doc_id and content
    deterministic per text, and every run lands in a fresh
    ``scratch_dir`` that the session's release deletes, so no run sees
    another run's files.

    100 TB shape: binaryFile parallelizes by file and prunes by glob;
    small-asset corpora want the files coalesced into larger archives
    (or this very ingest run ONCE, landing content into parquet binary
    columns — which is exactly what the other multimodal operators
    then consume). No reference counterpart (SURVEY §2.11 — [EXT])."""
    base = scratch_dir(spark, "binaryfile")
    docs = spread(load_table(spark, sf_dir, "documents"))
    h = P.h1(F.col("text"))
    src = docs.select(
        "doc_id",
        (h % 64 + 8).cast("int").alias("w"),
        (h % 48 + 8).cast("int").alias("h"),
        (h % 256).cast("int").alias("color"),
    )
    images = src.mapInPandas(encode_batch, _ENCODE_SCHEMA)
    # eager write phase (same contract as the *_persisted lake queries)
    images.mapInPandas(_write_files_batch(base), "n long").count()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(base)
    )
    payloads = files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bmp$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("file_len"),
        F.col("content").alias("payload"),
    )
    return payloads.mapInPandas(_decoder(("file_len",)), _INGEST_SCHEMA)


ORACLE_BINARYFILE_INGEST = f"""
SELECT doc_id,
       CAST(54 + ((3 * ({P.sql_h1("text")} % 64 + 8) + 3) // 4 * 4)
                 * ({P.sql_h1("text")} % 48 + 8) AS BIGINT) AS file_len,
       CAST({P.sql_h1("text")} % 64 + 8 AS INTEGER) AS width,
       CAST({P.sql_h1("text")} % 48 + 8 AS INTEGER) AS height,
       CAST({P.sql_h1("text")} % 256 AS DOUBLE) AS mean_pixel
FROM documents
"""

MULTIMODAL_QUERIES.append(
    QuerySpec(
        "multimodal_binaryfile_ingest",
        q_multimodal_binaryfile_ingest,
        ORACLE_BINARYFILE_INGEST,
    )
)
