"""[EXT] Multimodal column plumbing (SURVEY.md §2.11).

Images/audio/video are opaque ``binary`` payload columns with typed
metadata maps.  Feature extraction streams Arrow batches through
``mapInPandas`` once (the only acceptable shape for Python-side media work
at scale — per-row UDFs are 10-100× slower) and decodes **real container
bytes** with the stdlib header codecs in ``functions/media.py`` (PNG IHDR,
JPEG SOF walk, GIF LSD, BMP DIB, WAV RIFF chunks, MP4 box walk).  Pixel /
sample decode beyond header metadata would need PIL/libav, which this
container lacks; swapping those in keeps every signature and plan shape
intact.

No reference counterpart (the reference pipeline is tabular-only,
``process_aspep/assets.py``); this module is part of the [EXT]
training-data-pipeline mandate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.media import (
    make_mp4,
    make_png,
    make_wav,
    parse_media_header,
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)

_FEATURE_COLS = [f.name for f in FEATURE_SCHEMA.fields]


def extract_media_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched header decode over binary payloads.

    Output schema is fixed (``FEATURE_SCHEMA``) so Catalyst prunes upstream
    columns to exactly ``asset_id, modality, payload``.  Corrupt or
    unrecognized payloads yield ``format="unknown"`` with null fields — one
    bad file must never kill a 100 TB scan; quarantine downstream with
    ``WHERE format = 'unknown'``.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            feats = []
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                raw = bytes(payload) if payload is not None else b""
                d = parse_media_header(raw)
                feats.append(
                    {
                        "asset_id": asset_id,
                        "modality": modality,
                        "format": d["format"],
                        "n_bytes": len(raw),
                        "content_hash": hashlib.md5(raw).hexdigest(),
                        "width": d["width"],
                        "height": d["height"],
                        "duration_ms": d["duration_ms"],
                        "sample_rate": d["sample_rate"],
                        "channels": d["channels"],
                    }
                )
            yield pd.DataFrame(feats, columns=_FEATURE_COLS)

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: synthesize real media payloads from the documents table so
    the binary plumbing decodes genuine container bytes on the driver's
    testdata (no media files ship in the container).

    Deterministic per ``doc_id``: ``doc_id % 3`` picks PNG image / WAV
    audio / MP4 video, with dimensions/duration derived from the id and
    text length — so the decoded features are predictable and testable.
    Synthesis runs in the same Arrow-batched shape real ingest would
    (``mapInPandas``), keeping the plan scale-identical.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, source, lang in zip(
                pdf["doc_id"], pdf["text"], pdf["source"], pdf["lang"]
            ):
                did = int(doc_id)
                n = len(text or "")
                kind = did % 3
                if kind == 0:
                    modality = "image"
                    payload = make_png(16 + did % 48, 16 + n % 48, fill=did % 256)
                elif kind == 1:
                    modality = "audio"
                    payload = make_wav(250 + (did * 37) % 4000)
                else:
                    modality = "video"
                    payload = make_mp4(
                        500 + (did * 53) % 8000, 160 + did % 32 * 8, 120 + n % 24 * 8
                    )
                rows.append(
                    {
                        "asset_id": did,
                        "modality": modality,
                        "payload": payload,
                        "media_meta": {"source": source, "lang": lang},
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _MEDIA_SCHEMA.fields])

    return docs.select("doc_id", "text", "source", "lang").mapInPandas(
        run, schema=_MEDIA_SCHEMA
    )


def files_as_media(binary_df: DataFrame) -> DataFrame:
    """Adapter from Spark's ``binaryFile`` source (path, modificationTime,
    length, content) to the media asset frame — the REAL ingest path for a
    media lake: ``spark.read.format("binaryFile").load(dir)`` →
    ``files_as_media`` → ``extract_media_features``.  The asset id is a
    deterministic hash of the path; the modality is resolved from the
    decoded container (sniffed from magic bytes), not the file extension."""
    from ..functions.media import AUDIO_FORMATS, IMAGE_FORMATS, VIDEO_FORMATS, sniff_format

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        modality_of = {f: "image" for f in IMAGE_FORMATS}
        modality_of.update({f: "audio" for f in AUDIO_FORMATS})
        modality_of.update({f: "video" for f in VIDEO_FORMATS})
        import hashlib as _hashlib

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                fmt = sniff_format(raw)
                # 63-bit id from the md5 prefix of the path (16 hex
                # digits = 64 bits, sign bit masked off): birthday
                # collisions at ~3.6e9 assets (vs ~80k for a 31-bit
                # crc32) — safe for a real media lake; the full path
                # stays alongside in media_meta as the exact key.
                path_h = _hashlib.md5(path.encode()).hexdigest()
                rows.append(
                    {
                        "asset_id": int(path_h[:16], 16) & 0x7FFFFFFFFFFFFFFF,
                        "modality": modality_of.get(fmt, "unknown"),
                        "payload": raw,
                        "media_meta": {"path": path, "format": fmt or "unknown"},
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _MEDIA_SCHEMA.fields])

    return binary_df.select("path", "content").mapInPandas(run, schema=_MEDIA_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("phash_hi", T.LongType()),
        T.StructField("phash_lo", T.LongType()),
    ]
)


def perceptual_hash(assets: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) per image asset from a REAL pixel
    decode: stdlib PNG inflate + per-scanline defilter
    (``functions/media.py decode_png_gray`` — all five filter types,
    grayscale profile; other profiles return null, the documented PIL
    swap-in boundary), then 8×8 block means vs the global mean with an
    exact integer comparison (``ahash64``).  One Arrow-batched pass;
    output is two non-negative 32-bit halves so downstream hamming /
    grouping arithmetic never touches a sign bit.  Non-image or
    undecodable payloads yield null hashes (quarantine, never raise)."""
    from ..functions.media import ahash64, decode_png_gray

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                hi = lo = None
                rows = decode_png_gray(bytes(payload)) if payload is not None else None
                if rows:
                    hi, lo = ahash64(rows)
                out.append(
                    {"asset_id": int(asset_id), "phash_hi": hi, "phash_lo": lo}
                )
            yield pd.DataFrame(out, columns=[f.name for f in PHASH_SCHEMA.fields])

    return assets.select("asset_id", "payload").mapInPandas(
        run, schema=PHASH_SCHEMA
    )
