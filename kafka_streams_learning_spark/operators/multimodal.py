"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side contract is real and tested: a multimodal table is rows of
(id, modality, blob BINARY, meta STRUCT). Metadata extraction and content
hashing are JVM expressions; decode/feature steps are Arrow-batched
`mapInPandas` UDFs with explicit schemas and bounded batch sizes so a
1000-executor run streams blobs through Python in fixed-memory batches
instead of materializing them.

The actual media decoding is STUBBED — the image/audio libraries are not
in this container. `decode_stub` raises NotImplementedError by design;
`fake_decode_features` is the deterministic stand-in used by tests to
exercise the identical plumbing (schema, batching, partitioning).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Output schema of the feature-extraction stage — fixed contract so the
# downstream pipeline is independent of the decoder implementation.
FEATURE_SCHEMA = (
    "id long, modality string, n_bytes long, content_sha string, "
    "width int, height int, n_frames int, feature array<float>"
)


def binary_meta(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """Cheap JVM-side metadata: byte length + content hash. No decode, no
    Python — this is the dedup/integrity pass that should *precede* any
    expensive decoding at scale."""
    return df.select(
        id_col,
        "modality",
        F.octet_length(F.col(blob_col)).alias("n_bytes"),
        F.sha2(F.col(blob_col), 256).alias("content_sha"),
    )


def decode_stub(*_args, **_kwargs):
    """Real media decode — requires image/audio libs not present here."""
    raise NotImplementedError(
        "media decode requires codec libraries not available in this "
        "environment; use fake_decode_features for pipeline testing"
    )


# ---------------------------------------------------------------------------
# REAL container-header parsers — pure JVM expressions, no codec libraries.
#
# Pixel/sample decode needs codecs (stubbed above), but the CONTAINER
# headers of the classic uncompressed formats are fixed-offset
# little-endian integers, and Spark can read those with hex/substring/
# conv alone — so the "triage" pass a 100 TB media crawl runs first
# (what is this blob? is it sane? how big/long is it?) is whole-stage
# codegen over the binary column: no Python, no Arrow transfer, and the
# parse prunes to the first ~64 bytes of each blob. Malformed blobs are
# ROUTED (valid=false + NULL fields), never thrown — the jsonl/csv
# quarantine stance applied to binary.


def _le_uint(blob, offset: int, nbytes: int):
    """Little-endian unsigned int read from a binary column at 1-based
    byte ``offset`` — hex() the slice, reverse its byte pairs, conv() to
    decimal. Constant-folded expression tree, nbytes ≤ 7 (conv returns
    a signed 64-bit; header fields here are ≤ 4 bytes)."""
    h = F.hex(F.substring(blob, offset, nbytes))
    rev = F.concat(*[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))])
    return F.conv(rev, 16, 10).cast("long")


def _le_int32(blob, offset: int):
    """Signed little-endian int32 (BMP height is negative for top-down
    rows)."""
    v = _le_uint(blob, offset, 4)
    return F.when(v >= F.lit(2**31), v - F.lit(2**32)).otherwise(v)


def _tag(blob, offset: int, n: int):
    """ASCII magic/tag at a fixed offset, for format sniffing."""
    return F.substring(blob, offset, n).cast("string")


def _le_hex(value, nbytes: int):
    """Little-endian hex encoding of an integer Column — the write-side
    inverse of :func:`_le_uint`: big-endian lpad'ed hex, byte pairs
    reversed."""
    h = F.lpad(F.hex(value.cast("long")), 2 * nbytes, "0")
    return F.concat(*[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))])


def wav_blob(sample_rate, n_channels, bits_per_sample, data_bytes):
    """A canonical 44-byte WAV header + zeroed PCM payload, synthesized
    as ONE pure expression from integer Columns — `unhex` of the
    concatenated little-endian fields. The write-side inverse of
    :func:`wav_meta` (round-trip property-tested), and the fixture
    generator a catalog row can use to gate the parser against a DuckDB
    oracle that replays the same synthesis.

    The payload is `repeat('\\x00', data_bytes)` — header-exercising
    fixtures, not audio; real encoders obviously write real samples."""
    rate = sample_rate.cast("long")
    ch = n_channels.cast("long")
    bits = bits_per_sample.cast("long")
    data = data_bytes.cast("long")
    block_align = ch * (bits / F.lit(8)).cast("long")
    header_hex = F.concat(
        F.lit("52494646"),                      # 'RIFF'
        _le_hex(data + F.lit(36), 4),           # riff chunk size
        F.lit("57415645"),                      # 'WAVE'
        F.lit("666d7420"),                      # 'fmt '
        _le_hex(F.lit(16), 4),                  # fmt chunk size
        _le_hex(F.lit(1), 2),                   # PCM
        _le_hex(ch, 2),
        _le_hex(rate, 4),
        _le_hex(rate * block_align, 4),         # byte rate
        _le_hex(block_align, 2),
        _le_hex(bits, 2),
        F.lit("64617461"),                      # 'data'
        _le_hex(data, 4),
    )
    return F.concat(
        F.unhex(header_hex),
        F.unhex(F.repeat(F.lit("00"), data.cast("int"))),
    )


def wav_meta(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """Canonical-layout WAV (RIFF/WAVE + 'fmt ' at byte 13 + 'data' at
    byte 37 — what stdlib `wave`, ffmpeg default mux, and virtually every
    PCM exporter write) parsed as pure expressions: audio format code,
    channels, sample rate, bits/sample, data size, duration.

    Non-canonical files (extra chunks before 'fmt '/'data') and
    truncated/foreign blobs get ``valid=false`` with NULL fields — the
    triage row says "route this one through the real demuxer", it never
    kills the scan. ``duration_ms`` floors via exact integer math on the
    header's byte-rate field (guarded > 0)."""
    b = F.col(blob_col)
    ok = (
        (F.octet_length(b) >= 44)
        & (_tag(b, 1, 4) == "RIFF")
        & (_tag(b, 9, 4) == "WAVE")
        & (_tag(b, 13, 4) == "fmt ")
        & (_tag(b, 37, 4) == "data")
    )
    byte_rate = _le_uint(b, 29, 4)
    data_bytes = _le_uint(b, 41, 4)
    fields = {
        "audio_format": _le_uint(b, 21, 2),
        "n_channels": _le_uint(b, 23, 2),
        "sample_rate": _le_uint(b, 25, 4),
        "bits_per_sample": _le_uint(b, 35, 2),
        "data_bytes": data_bytes,
    }
    # Two-stage select so `div` (Spark's IntegralDivide — exact floor for
    # ANY long operands) can name its inputs. The pre-r9 double division
    # was floor-exact only while data_bytes*1000 stayed under 2^53 — an
    # assumption the 4-byte header field happens to satisfy but a wider
    # field wouldn't (ADVICE r8). Catalyst collapses the projections.
    staged = df.select(
        id_col,
        ok.alias("valid"),
        *[F.when(ok, c).alias(name) for name, c in fields.items()],
        F.when(ok, (data_bytes * 1000).cast("long")).alias("_dm_num"),
        F.when(ok, byte_rate.cast("long")).alias("_dm_den"),
    )
    return staged.select(
        id_col,
        "valid",
        *fields.keys(),
        F.when(
            F.col("_dm_den") > 0, F.expr("_dm_num div _dm_den")
        ).otherwise(F.lit(None)).cast("long").alias("duration_ms"),
    )


def bmp_meta(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """BMP (BITMAPINFOHEADER) header triage as pure expressions: pixel
    dimensions, bit depth, top-down flag (negative height). Same routing
    contract as :func:`wav_meta`."""
    b = F.col(blob_col)
    ok = (
        (F.octet_length(b) >= 54)
        & (_tag(b, 1, 2) == "BM")
        & (_le_uint(b, 15, 4) >= 40)  # DIB header size (40 = BITMAPINFOHEADER)
    )
    height = _le_int32(b, 23)
    fields = {
        "width": _le_int32(b, 19),
        "height": F.abs(height),
        "top_down": height < 0,
        "bits_per_pixel": _le_uint(b, 29, 2),
        "file_bytes": _le_uint(b, 3, 4),
    }
    return df.select(
        id_col,
        ok.alias("valid"),
        *[F.when(ok, c).alias(name) for name, c in fields.items()],
    )


def fake_decode_features(df: DataFrame, blob_col: str = "blob", feat_dim: int = 8) -> DataFrame:
    """Deterministic decode stand-in with the production plumbing:
    mapInPandas over Arrow batches, explicit output schema. 'Decodes' a
    blob into fake dimensions (from byte length) and a fake feature vector
    (rolling byte sums) — enough to test partitioning, batch shapes, and
    downstream joins without codecs."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf[blob_col].map(len),
                    "content_sha": pdf[blob_col].map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                    "width": pdf[blob_col].map(lambda b: 1 + len(b) % 64),
                    "height": pdf[blob_col].map(lambda b: 1 + len(b) % 48),
                    "n_frames": pdf["modality"].map(
                        lambda m: 1 if m != "video" else 30
                    ),
                    "feature": pdf[blob_col].map(
                        lambda b: [
                            float(sum(b[i::feat_dim]) % 997) for i in range(feat_dim)
                        ]
                    ),
                }
            )
            yield out

    return df.mapInPandas(_decode, FEATURE_SCHEMA)


# Output schema of the resize stage — like FEATURE_SCHEMA, a fixed
# contract so downstream code is independent of the resizer backend.
RESIZE_SCHEMA = (
    "id long, width int, height int, out_w int, out_h int, resized binary"
)


def aspect_fit(
    df: DataFrame,
    max_w: int,
    max_h: int,
    w_col: str = "width",
    h_col: str = "height",
) -> DataFrame:
    """Aspect-preserving fit-downscale dimensions (never upscales):
    out = floor(dim * min(max_w/w, max_h/h, 1)), floored at 1. Pure JVM
    column math — at scale the dimension planning stays in codegen and
    only the pixel transform pays the Python/Arrow boundary."""
    scale = F.least(
        F.lit(float(max_w)) / F.col(w_col),
        F.lit(float(max_h)) / F.col(h_col),
        F.lit(1.0),
    )
    return df.withColumn(
        "out_w", F.greatest(F.floor(F.col(w_col) * scale), F.lit(1)).cast("int")
    ).withColumn(
        "out_h", F.greatest(F.floor(F.col(h_col) * scale), F.lit(1)).cast("int")
    )


def fake_resize(df: DataFrame, blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """Deterministic resize stand-in with the production plumbing:
    mapInPandas over Arrow batches, explicit output schema, and the REAL
    contract a resizer must honor — the output blob has exactly
    out_w*out_h bytes (one fake 'pixel' per byte, sha256-derived from the
    source blob so it is deterministic and content-addressed). Input rows
    must already carry out_w/out_h from `aspect_fit`."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def mk(b: bytes, k: int) -> bytes:
            seed = hashlib.sha256(b).digest()
            return (seed * (-(-k // len(seed))))[:k]

        for pdf in batches:
            n = (pdf["out_w"] * pdf["out_h"]).astype(int)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "out_w": pdf["out_w"],
                    "out_h": pdf["out_h"],
                    "resized": [
                        mk(b, int(k)) for b, k in zip(pdf[blob_col], n)
                    ],
                }
            )

    return df.mapInPandas(_resize, RESIZE_SCHEMA)


def sample_frames(df: DataFrame, every_n: int, frame_col: str = "n_frames") -> DataFrame:
    """Frame-sampling plan for video rows: explode frame indices 0, n, 2n…
    JVM-side sequence, no decode — the decoder then fetches only sampled
    frames (at scale this is the difference between reading 1/30th and
    reading everything)."""
    return df.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col(frame_col) - 1, F.lit(0)), F.lit(every_n))),
    )
