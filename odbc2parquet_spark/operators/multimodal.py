"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded via Arrow-batched Pandas UDFs.

The pattern for image/audio/video at 100 TB: the payload travels as a
``binary`` column next to typed metadata; decode/feature-extract runs as
``mapInPandas`` so each task receives Arrow record batches, and
partitioning/pushdown operate on the metadata columns only — the binary
column is never read unless selected. Inside a batch the decoders loop
over the payloads in Python (numpy does the sample and pixel
arithmetic). Every operator runs through one batch map,
:func:`_map_payloads`, and each format has one decoder
(:func:`_bmp_pixels`, :func:`_pcm16`).

Decode is REAL: ``parse_image_header`` parses actual BMP/PNG/GIF/JPEG
file structure in pure Python, 24-bit BMP and 8-bit RGB PNG pixels and
16-bit PCM samples decode end to end, and the ``encode_*`` operators
round-trip genuine files through the pipeline. Resampling and model
inference would need codec/model libraries the package does not depend
on; those callers (``resize_images``, ``embed_payloads`` and the
non-image fallback of ``decode_features``) use a deterministic stand-in
derived from the byte stream so text stand-in corpora stay
oracle-verifiable end-to-end.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import hex_long
from odbc2parquet_spark.operators.similarity import banded_hamming_pairs

#: what a decoder raises for a payload it cannot decode
_CORRUPT = (ValueError, zlib.error, struct.error)


def _map_payloads(
    df: DataFrame,
    schema: str,
    rows: Callable[[object, object], list[tuple]],
    drop_corrupt: bool = False,
    col: str = "payload",
    read: Callable = bytes,
) -> DataFrame:
    """The one batch map: ``mapInPandas`` over (doc_id, ``col``), where
    ``rows(doc_id, read(value))`` returns the list of output tuples of one
    input row, in ``schema`` order. A payload whose decode raises is
    quarantined instead of failing the stage (at 100 TB a corrupt object
    must not kill the task): one row of NULLs after its doc_id, or no
    rows when ``drop_corrupt``."""
    names = [field.split()[0] for field in schema.split(",")]
    blank = (None,) * (len(names) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            nulls = False
            for doc_id, value in zip(pdf["doc_id"], pdf[col]):
                try:
                    out += rows(doc_id, read(value))
                except _CORRUPT:
                    if not drop_corrupt:
                        out.append((doc_id, *blank))
                        nulls = True
            # a NULL turns an int column float64, which rounds longs above
            # 2^53 (the 56/63-bit image hashes): keep Python ints then
            yield pd.DataFrame(out, columns=names, dtype=object if nulls else None)

    return df.select("doc_id", col).mapInPandas(run, schema)


#: output schema of the encoders: a payload column plus its metadata
PAYLOAD_SCHEMA = "doc_id long, payload binary, mime string, n_bytes long"


def _encode(docs: DataFrame, mime: str, synth: Callable[[bytes, int], bytes]) -> DataFrame:
    """Each document's text becomes one ``mime`` payload,
    ``synth(utf-8 bytes, n_chars)``."""

    def rows(doc_id, text: str) -> list[tuple]:
        out = synth(text.encode("utf-8"), len(text))
        return [(doc_id, bytearray(out), mime, len(out))]

    return _map_payloads(docs, PAYLOAD_SCHEMA, rows, col="text", read=str)


def _cycle(source: bytes, n: int) -> bytes:
    """``n`` bytes repeating ``source`` (a zero byte when it is empty)."""
    source = source or b"\x00"
    return (source * (n // len(source) + 1))[:n]


#: output schema of the decoder — what a real image decode would produce.
FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, fake_width int, fake_height int, "
    "fake_channels int, checksum long"
)


def attach_binary(docs: DataFrame) -> DataFrame:
    """Simulate a multimodal table: payload as opaque binary + metadata.

    On real data this is the ingestion shape: (id, payload binary,
    mime string, n_bytes long).
    """
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )


#: sanity bounds: any 4 printable-ASCII bytes read as an int exceed these,
#: so a text payload that merely *starts* with an image magic ("BM...",
#: "GIF87a...") can never be mistaken for a real header.
_MAX_DIM = 1_000_000
_MAX_DIM_16 = 4_096


def parse_image_header(p: bytes) -> tuple[str, int, int, int]:
    """REAL header decode for BMP/PNG/GIF/JPEG in pure Python (no codec
    library): (format, width, height, channels). Raises ValueError on
    unrecognized or implausible bytes.

    This parses actual file-format structure — BMP's BITMAPINFOHEADER
    little-endian fields, PNG's big-endian IHDR, GIF's logical screen
    descriptor, JPEG's segment walk to the SOF frame header — not a
    simulation. Pixel decoding (huffman/deflate) would need a codec
    library and is out of scope for the metadata-extraction stage.
    """
    if p[:2] == b"BM" and len(p) >= 54:
        w = int.from_bytes(p[18:22], "little", signed=True)
        h = int.from_bytes(p[22:26], "little", signed=True)
        bpp = int.from_bytes(p[28:30], "little")
        if 0 < w <= _MAX_DIM and 0 < abs(h) <= _MAX_DIM and bpp in (1, 4, 8, 16, 24, 32):
            return ("bmp", w, abs(h), max(1, bpp // 8))
    elif p[:8] == b"\x89PNG\r\n\x1a\n" and len(p) >= 33 and p[12:16] == b"IHDR":
        w = int.from_bytes(p[16:20], "big")
        h = int.from_bytes(p[20:24], "big")
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(p[25])
        if 0 < w <= _MAX_DIM and 0 < h <= _MAX_DIM and channels is not None:
            return ("png", w, h, channels)
    elif p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        w = int.from_bytes(p[6:8], "little")
        h = int.from_bytes(p[8:10], "little")
        if 0 < w <= _MAX_DIM_16 and 0 < h <= _MAX_DIM_16:
            return ("gif", w, h, 3)
    elif p[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(p) and p[i] == 0xFF:
            marker = p[i + 1]
            seglen = int.from_bytes(p[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(p[i + 5 : i + 7], "big")
                w = int.from_bytes(p[i + 7 : i + 9], "big")
                if 0 < w <= _MAX_DIM and 0 < h <= _MAX_DIM:
                    return ("jpeg", w, h, p[i + 9])
                break
            i += 2 + seglen
    raise ValueError("unrecognized image payload")


def synth_bmp(pixel_source: bytes, width: int, height: int) -> bytes:
    """Construct a VALID 24-bit BMP file: 54-byte header (BITMAPFILEHEADER
    + BITMAPINFOHEADER, little-endian) + 4-byte-aligned rows whose pixel
    bytes cycle ``pixel_source``. Output opens in any image viewer; used
    to exercise the real parse path without shipping binary fixtures."""
    row = width * 3
    stride = row + (4 - row % 4) % 4
    img_size = stride * height
    header = (
        b"BM"
        + (54 + img_size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return header + _cycle(pixel_source, img_size)


def _bmp_pixels(p: bytes) -> np.ndarray:
    """The (h, w, 3) B,G,R pixel grid of an uncompressed 24-bit BMP, rows
    in file order (bottom-up for a positive height), 4-byte row padding
    stripped. Raises ValueError for a wrong magic, a non-24-bit image,
    non-positive dimensions or a truncated pixel array."""
    if len(p) < 54 or p[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(p[10:14], "little")
    w = int.from_bytes(p[18:22], "little", signed=True)
    h = int.from_bytes(p[22:26], "little", signed=True)
    if int.from_bytes(p[28:30], "little") != 24 or w <= 0 or h <= 0:
        raise ValueError("not an uncompressed 24-bit BMP")
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    data = np.frombuffer(p[off : off + stride * h], np.uint8)
    if len(data) < stride * h:
        raise ValueError("truncated pixel array")
    return data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)


def _decode_fake(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in: 'dimensions' derived from the byte stream.

    Pure arithmetic on length and byte sum, so the oracle can verify the
    full mapInPandas plumbing end-to-end without a codec.
    """
    n = len(payload)
    checksum = sum(payload) % 1_000_000_007
    return n % 640 + 1, (n * 7) % 480 + 1, 3, checksum


def decode_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow batches in, feature columns out. A real
    image header gives its dimensions (checksum -1); any other payload
    falls back to :func:`_decode_fake`, so text stand-in corpora stay
    verifiable.

    Column pruning matters: the plan reads only (doc_id, payload); metadata
    columns not consumed by the UDF are dropped before the Python boundary.
    """

    def rows(doc_id, p: bytes) -> list[tuple]:
        try:
            _, w, h, c = parse_image_header(p)
        except ValueError:
            return [(doc_id, len(p), *_decode_fake(p))]
        return [(doc_id, len(p), w, h, c, -1)]

    return _map_payloads(binary_df, FEATURE_SCHEMA, rows)


def frame_sample(binary_df: DataFrame) -> DataFrame:
    """'Frame sampling' stub: pick every 97th byte as a frame marker.

    Stands in for video frame extraction; shows the explode-to-frames
    shape (one row per sampled frame) with deterministic content.
    """
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an empty
    # array — payloads shorter than the stride must short-circuit.
    frames = F.expr(
        "CASE WHEN n_bytes < 97 THEN array() ELSE "
        "transform(sequence(1, int(n_bytes div 97)), "
        f"i -> struct(CAST(i AS BIGINT) AS frame_no, "
        "ascii(substring(decode(payload, 'utf-8'), (i - 1) * 97 + 1, 1)) AS byte_val)) END"
    )
    return binary_df.select("doc_id", F.explode(frames).alias("f")).select(
        "doc_id", F.col("f.frame_no").alias("frame_no"), F.col("f.byte_val").alias("byte_val")
    )


#: resize output: metadata + the resized payload itself (binary travels on)
RESIZE_SCHEMA = (
    "doc_id long, out_width int, out_height int, out_n_bytes long, "
    "out_checksum long, resized binary"
)


def resize_images(binary_df: DataFrame) -> DataFrame:
    """'Resize' each binary payload to a fixed 16 x 12 RGB buffer.

    Real pipeline shape: mapInPandas over (id, payload) with the resized
    payload returned as a binary column (so downstream stages keep
    operating on columnar binary) plus verifiable metadata. The pixel
    resample itself is a stand-in: every payload, image or text, is
    byte-cycled to the target size, which the oracle recomputes; no
    header is parsed.
    """
    def rows(doc_id, p: bytes) -> list[tuple]:
        resized = _cycle(p, 16 * 12 * 3)
        checksum = sum(resized) % 1_000_000_007
        return [(doc_id, 16, 12, 16 * 12 * 3, checksum, bytearray(resized))]

    return _map_payloads(binary_df, RESIZE_SCHEMA, rows)


HEADER_SCHEMA = "doc_id long, fmt string, width int, height int, channels int"


def encode_bmp(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL image column: each document's text becomes the
    pixel bytes of a valid 24-bit BMP whose dimensions derive from
    n_chars (width = n_chars % 64 + 1, height = n_chars % 48 + 1).

    This is the ingestion-side twin of decode: mapInPandas over Arrow
    batches producing a binary column of genuine image files, so the
    decode stage downstream exercises its real parser, not the fake."""
    return _encode(
        docs, "image/bmp", lambda raw, n: synth_bmp(raw, n % 64 + 1, n % 48 + 1)
    )


def decode_image_headers(binary_df: DataFrame) -> DataFrame:
    """Real-path decode: parse each binary payload's image header
    (BMP/PNG/GIF/JPEG) into typed metadata. Unrecognized payloads yield
    NULL metadata instead of failing the batch — at 100 TB a corrupt
    object must quarantine, not kill the stage."""
    return _map_payloads(
        binary_df, HEADER_SCHEMA, lambda doc_id, p: [(doc_id, *parse_image_header(p))]
    )


EMBED_SCHEMA = "doc_id long, embedding array<double>"


def embed_payloads(binary_df: DataFrame) -> DataFrame:
    """Binary payload -> embedding vector (the encoder step that links the
    multimodal store to the similarity stack: decode -> embed -> ANN).

    The real encoder (CLIP-style model inference) needs libs absent here,
    so the embedding is a deterministic md5 projection of the bytes —
    component j = md5(payload || ':' || j)[:6] / 2^24, rounded to 6
    decimals — which exercises the REAL plumbing: Arrow-batched
    mapInPandas, column pruning to (doc_id, payload), array<double>
    output column ready for operators/similarity.
    """

    def rows(doc_id, p: bytes) -> list[tuple]:
        vec = [
            round(
                int(hashlib.md5(p + b":" + str(j).encode()).hexdigest()[:6], 16)
                / 16777216.0,
                6,
            )
            for j in range(8)
        ]
        return [(doc_id, vec)]

    return _map_payloads(binary_df, EMBED_SCHEMA, rows)


AUDIO_HEADER_SCHEMA = (
    "doc_id long, fmt string, sample_rate int, channels int, bits int, "
    "n_samples long, duration_ms long"
)


def synth_wav(
    sample_source: bytes, sample_rate: int, channels: int, n_samples: int, bits: int = 16
) -> bytes:
    """Construct a VALID RIFF/WAVE PCM file: canonical 44-byte header
    (RIFF size, fmt chunk with rate/channels/bits, data chunk) + sample
    bytes cycling ``sample_source``. Output plays in any audio tool; used
    to exercise the real parse path without shipping binary fixtures."""
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    data_size = n_samples * block_align
    header = (
        b"RIFF"
        + (36 + data_size).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
        + b"data"
        + data_size.to_bytes(4, "little")
    )
    return header + _cycle(sample_source, data_size)


def _riff_chunks(p: bytes) -> Iterator[tuple[bytes, int, int]]:
    """(chunk id, body offset, declared body size) of each chunk of a
    RIFF/WAVE payload, in file order. Raises ValueError for a non-WAV
    payload."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    while i + 8 <= len(p):
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        yield p[i : i + 4], i + 8, size
        i += 8 + size + (size % 2)  # RIFF chunks are word-aligned


def parse_wav_header(p: bytes) -> tuple[str, int, int, int, int, int]:
    """REAL RIFF/WAVE decode in pure Python: walk the chunk list to the
    fmt and data chunks; (fmt, sample_rate, channels, bits, n_samples,
    duration_ms). Raises ValueError on non-WAV or implausible structure.

    This parses actual container structure — the RIFF chunk walk handles
    any chunk order and extra chunks (LIST/INFO etc.), exactly what a
    production audio ingest needs before handing samples to a codec."""
    rate = channels = bits = None
    data_size = None
    for cid, i, size in _riff_chunks(p):
        if cid == b"fmt " and size >= 16:
            audio_format = int.from_bytes(p[i : i + 2], "little")
            if audio_format != 1:  # PCM only; compressed needs a codec lib
                raise ValueError(f"unsupported WAVE format {audio_format}")
            channels = int.from_bytes(p[i + 2 : i + 4], "little")
            rate = int.from_bytes(p[i + 4 : i + 8], "little")
            bits = int.from_bytes(p[i + 14 : i + 16], "little")
        elif cid == b"data":
            data_size = size
    if not rate or not channels or bits not in (8, 16, 24, 32) or data_size is None:
        raise ValueError("incomplete WAVE structure")
    if not (1 <= channels <= 64) or not (1000 <= rate <= 1_000_000):
        raise ValueError("implausible WAVE parameters")
    block_align = channels * bits // 8
    n_samples = data_size // block_align
    return ("wav", rate, channels, bits, n_samples, n_samples * 1000 // rate)


def _pcm16(p: bytes) -> np.ndarray:
    """The data chunk of a RIFF/WAVE payload as little-endian int16
    samples widened to int64 (an odd trailing byte is dropped). Raises
    ValueError for a non-WAV payload, a missing data chunk, or a data
    chunk that runs past the end of the payload."""
    for cid, i, size in _riff_chunks(p):
        if cid == b"data":
            if i + size > len(p):
                raise ValueError("truncated data chunk")
            return np.frombuffer(p, "<i2", size // 2, i).astype(np.int64)
    raise ValueError("no data chunk")


def encode_wav(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL audio column: each document's text bytes become
    PCM sample data in a valid WAV whose rate/channels/length derive from
    n_chars — the ingestion-side twin of :func:`decode_audio_headers`."""
    return _encode(
        docs,
        "audio/wav",
        lambda raw, n: synth_wav(raw, 8000 + (n % 8) * 1000, n % 2 + 1, n % 500 + 1),
    )


def decode_audio_headers(binary_df: DataFrame) -> DataFrame:
    """Real-path audio decode: RIFF chunk-walk each payload into typed
    metadata; corrupt payloads quarantine as NULL rows instead of killing
    the stage (the 100 TB rule)."""
    return _map_payloads(
        binary_df, AUDIO_HEADER_SCHEMA, lambda doc_id, p: [(doc_id, *parse_wav_header(p))]
    )


VIDEO_HEADER_SCHEMA = (
    "doc_id long, brand string, timescale int, duration long, "
    "n_top_boxes int, mdat_bytes long, duration_ms long"
)


def _box(kind: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + kind + body


_FTYP = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")


def _mvhd(timescale: int, duration: int) -> bytes:
    """A version-0 mvhd box carrying ``timescale``/``duration``."""
    return _box(
        b"mvhd",
        (0).to_bytes(4, "big")          # version 0 + flags
        + (0).to_bytes(4, "big")        # creation_time
        + (0).to_bytes(4, "big")        # modification_time
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")      # volume 1.0
        + bytes(10)                        # reserved
        + b"".join((v).to_bytes(4, "big") for v in
                   (0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000))
        + bytes(24)                        # pre_defined
        + (2).to_bytes(4, "big"),          # next_track_ID
    )


def synth_mp4(payload: bytes, timescale: int, duration: int) -> bytes:
    """Construct a VALID minimal ISO BMFF (MP4) file: ftyp (isom brand),
    moov containing an mvhd version-0 box carrying timescale/duration,
    and an mdat holding the payload bytes. Box sizes/ordering follow the
    spec (big-endian 32-bit size + fourcc), so any MP4 tool can walk it;
    used to exercise the real parse path without binary fixtures."""
    return _FTYP + _box(b"moov", _mvhd(timescale, duration)) + _box(b"mdat", payload)


def _walk_children(p: bytes, start: int, end: int):
    i = start
    while i + 8 <= end:
        size = int.from_bytes(p[i : i + 4], "big")
        kind = p[i + 4 : i + 8]
        if size < 8 or i + size > end:
            raise ValueError("corrupt box size")
        yield kind, i + 8, i + size
        i += size


def parse_mp4_header(p: bytes) -> tuple[str, int, int, int, int, int]:
    """REAL ISO BMFF decode in pure Python: walk the top-level box list,
    read the brand from ftyp, descend into moov for the mvhd
    timescale/duration, and size the mdat. Returns (brand, timescale,
    duration, n_top_boxes, mdat_bytes, duration_ms); raises ValueError on
    non-MP4 or implausible structure — the container walk a production
    video ingest performs before handing samples to a demuxer/codec."""
    if len(p) < 12 or p[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")
    brand = timescale = duration = mdat_bytes = None
    n_top = 0
    for kind, start, end in _walk_children(p, 0, len(p)):
        n_top += 1
        if kind == b"ftyp":
            brand = p[start : start + 4].decode("ascii", "replace")
        elif kind == b"moov":
            for child, c, c_end in _walk_children(p, start, end):
                if child == b"mvhd":
                    if c_end - c < 20 or p[c] != 0:
                        raise ValueError("not a whole version-0 mvhd (v1 needs 64-bit fields)")
                    timescale = int.from_bytes(p[c + 12 : c + 16], "big")
                    duration = int.from_bytes(p[c + 16 : c + 20], "big")
        elif kind == b"mdat":
            mdat_bytes = end - start
    if brand is None or not timescale or duration is None or mdat_bytes is None:
        raise ValueError("incomplete MP4 structure")
    return (brand, timescale, duration, n_top, mdat_bytes, duration * 1000 // timescale)


def encode_mp4(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL video-container column: each document's text
    bytes become the mdat of a valid MP4 whose timescale/duration derive
    from n_chars — the ingestion-side twin of :func:`decode_video_headers`."""
    return _encode(
        docs,
        "video/mp4",
        lambda raw, n: synth_mp4(raw, 600 + (n % 5) * 100, (n * 31) % 100_000),
    )


def decode_video_headers(binary_df: DataFrame) -> DataFrame:
    """Real-path video-container decode: box-walk each payload into typed
    metadata; corrupt payloads quarantine as NULL rows instead of killing
    the stage (the 100 TB rule)."""
    return _map_payloads(
        binary_df, VIDEO_HEADER_SCHEMA, lambda doc_id, p: [(doc_id, *parse_mp4_header(p))]
    )


AUDIO_SAMPLE_SCHEMA = (
    "doc_id long, n_int16 long, peak int, sum_sq long, n_at_peak long"
)


def decode_audio_samples(binary_df: DataFrame) -> DataFrame:
    """SAMPLE-level PCM decode — not a header walk: locate the data
    chunk, reinterpret its bytes as little-endian int16, and fold peak +
    sum-of-squares per payload (numpy, Arrow-batched). PCM needs no
    codec library, so unlike the pixel/video stand-ins this path decodes
    REAL samples end-to-end. Emits exact integers (n, peak, sum_sq);
    derive RMS JVM-side so the rounding semantics match a SQL oracle's
    ROUND. Corrupt payloads, and a data chunk that runs past the
    payload, quarantine as NULL rows."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        v = _pcm16(p)
        if not len(v):
            return [(doc_id, 0, 0, 0, 0)]
        av = np.abs(v)
        peak = int(av.max())
        return [(doc_id, len(v), peak, int((v * v).sum()), int((av == peak).sum()))]

    return _map_payloads(binary_df, AUDIO_SAMPLE_SCHEMA, rows)


PIXEL_STATS_SCHEMA = (
    "doc_id long, width int, height int, n_pixels long, "
    "sum_b long, sum_g long, sum_r long"
)


def decode_bmp_pixels(binary_df: DataFrame) -> DataFrame:
    """TRUE pixel decode for uncompressed 24-bit BMP — no codec library
    needed: read width/height and the pixel-array offset from the
    header, reshape the data into 4-byte-aligned rows, strip the row
    padding, and fold per-channel (B, G, R) sums in numpy. Emits exact
    integers; derive channel means JVM-side so rounding matches a SQL
    oracle. Corrupt/non-BMP payloads quarantine as NULL rows."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        px = _bmp_pixels(p)
        h, w, _ = px.shape
        s = px.astype(np.int64).sum(axis=(0, 1))
        return [(doc_id, w, h, w * h, int(s[0]), int(s[1]), int(s[2]))]

    return _map_payloads(binary_df, PIXEL_STATS_SCHEMA, rows)


def _nearest(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbour sample of a pixel grid: output cell (r, c) reads
    source row r*h // out_h and column c*w // out_w."""
    h, w = px.shape[:2]
    return px[np.ix_((np.arange(out_h) * h) // out_h, (np.arange(out_w) * w) // out_w)]


RESIZE_REAL_SCHEMA = "doc_id long, out_w int, out_h int, digest string"


def resize_bmp_nearest(binary_df: DataFrame) -> DataFrame:
    """Nearest-neighbor resize to 4 x 3 on TRUE BMP pixels (no codec needed):
    decode the padded pixel grid, sample src_y = r*h // 3,
    src_x = c*w // 4 per output cell, and emit an order-sensitive
    digest of the sampled B,G,R bytes (md5 over the comma-joined byte
    values in (r, c, ch) order) — scalar and hashable, so a SQL oracle
    that reconstructs the same sampled bytes can pin every pixel the
    resize touched. Corrupt payloads quarantine as NULL rows."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        sampled = _nearest(_bmp_pixels(p), 3, 4)
        joined = ",".join(map(str, sampled.reshape(-1).tolist()))
        return [(doc_id, 4, 3, hashlib.md5(joined.encode()).hexdigest())]

    return _map_payloads(binary_df, RESIZE_REAL_SCHEMA, rows)


def synth_mp4_samples(
    sample_source: bytes, timescale: int, duration: int, n_samples: int
) -> bytes:
    """ISO BMFF file WITH a real sample table: ftyp + moov(mvhd +
    trak(mdia(minf(stbl(stts, stsc, stsz, stco))))) + mdat. Sample i has
    size (i % 7) + 1; all samples live consecutively in one chunk whose
    stco offset points into the mdat — the exact structures a production
    demuxer walks to find frame boundaries before any codec runs."""
    sizes = [(i % 7) + 1 for i in range(n_samples)]
    data = _cycle(sample_source, sum(sizes))

    stts = _box(
        b"stts",
        (0).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + n_samples.to_bytes(4, "big") + (1).to_bytes(4, "big"),
    )
    stsc = _box(
        b"stsc",
        (0).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big") + n_samples.to_bytes(4, "big")
        + (1).to_bytes(4, "big"),
    )
    stsz = _box(
        b"stsz",
        (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
        + n_samples.to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in sizes),
    )
    # stco needs the absolute mdat-data offset, which depends on the moov
    # size — build once with a placeholder to measure, then for real
    for chunk_off in (0, None):
        if chunk_off is None:
            chunk_off = len(_FTYP) + len(moov) + 8
        stco = _box(
            b"stco",
            (0).to_bytes(4, "big") + (1).to_bytes(4, "big")
            + chunk_off.to_bytes(4, "big"),
        )
        stbl = _box(b"stbl", stts + stsc + stsz + stco)
        trak = _box(b"trak", _box(b"mdia", _box(b"minf", stbl)))
        moov = _box(b"moov", _mvhd(timescale, duration) + trak)
    return _FTYP + moov + _box(b"mdat", data)


def parse_mp4_samples(p: bytes) -> list[tuple[int, int]]:
    """(file_offset, size) per sample, recovered from the REAL sample
    table: descend ftyp/moov/trak/mdia/minf/stbl, read stsz sizes and
    the stco chunk offset, lay samples consecutively from it. Validates
    every sample lands inside the mdat. This is the codec-free half of
    frame extraction — what remains after it is pure codec work."""
    if len(p) < 12 or p[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")
    sizes: list[int] | None = None
    chunk_off: int | None = None
    mdat_span: tuple[int, int] | None = None

    def descend(start: int, end: int, path: tuple[bytes, ...]) -> None:
        nonlocal sizes, chunk_off
        for kind, body_s, body_e in _walk_children(p, start, end):
            if kind in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                descend(body_s, body_e, path + (kind,))
            elif kind == b"stsz" and path and path[-1] == b"stbl":
                count = int.from_bytes(p[body_s + 8 : body_s + 12], "big")
                if body_s + 12 + 4 * count > body_e:
                    raise ValueError("stsz sample count runs past its box")
                sizes = [
                    int.from_bytes(p[body_s + 12 + 4 * k : body_s + 16 + 4 * k], "big")
                    for k in range(count)
                ]
            elif kind == b"stco" and path and path[-1] == b"stbl":
                chunk_off = int.from_bytes(p[body_s + 8 : body_s + 12], "big")

    for kind, body_s, body_e in _walk_children(p, 0, len(p)):
        if kind == b"moov":
            descend(body_s, body_e, (b"moov",))
        elif kind == b"mdat":
            mdat_span = (body_s, body_e)
    if sizes is None or chunk_off is None or mdat_span is None:
        raise ValueError("missing sample table or mdat")
    out = []
    off = chunk_off
    for s in sizes:
        if off < mdat_span[0] or off + s > mdat_span[1]:
            raise ValueError("sample outside mdat")
        out.append((off, s))
        off += s
    return out


FRAME_INDEX_SCHEMA = "doc_id long, sample_idx int, size int, digest string"


def video_frame_index(binary_df: DataFrame, every_k: int = 3) -> DataFrame:
    """Frame sampling on the REAL sample table: every k-th sample's
    bytes are located via stsz/stco (never by byte stride) and digested
    (md5 over comma-joined byte values). Corrupt payloads quarantine as
    NULL rows. The per-sample bytes would feed a codec at 100 TB; the
    indexing shown here is the distributable, codec-free part."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        out = []
        for i, (off, size) in enumerate(parse_mp4_samples(p)):
            if i % every_k == 0:
                joined = ",".join(str(b) for b in p[off : off + size])
                out.append((doc_id, i, size, hashlib.md5(joined.encode()).hexdigest()))
        return out

    return _map_payloads(binary_df, FRAME_INDEX_SCHEMA, rows)


def encode_mp4_samples(docs: DataFrame) -> DataFrame:
    """Synthesize MP4s WITH sample tables: n % 24 + 1 samples whose data
    cycles the document's text bytes — the ingestion twin of
    :func:`video_frame_index`."""
    return _encode(
        docs,
        "video/mp4",
        lambda raw, n: synth_mp4_samples(raw, 600 + (n % 5) * 100, (n * 31) % 100_000, n % 24 + 1),
    )


def _bits_to_long(bits: np.ndarray) -> int:
    """The flattened boolean array as an integer: element k sets bit k."""
    return sum(1 << int(k) for k in np.flatnonzero(bits))


DHASH_SCHEMA = "doc_id long, dhash long"


def dhash_bmp(binary_df: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) on TRUE BMP pixels: decode the
    padded pixel grid, nearest-sample a 7 x 9 grayscale
    thumbnail (gray = (B+G+R) // 3, integer), and set one bit per
    horizontal neighbor pair (right > left), bit position
    ``r * 8 + c``. 7x9 gives 56 bits — always below the int64
    sign bit, so an external engine's shift arithmetic agrees.

    dHash survives re-encoding/resize, which byte-level hashing does not
    — this is the image twin of SimHash for near-dup detection. Runs as
    Arrow-batched mapInPandas (one numpy pass per image); emits one long
    per image, so the downstream banding join shuffles 8 bytes per image
    regardless of resolution. Corrupt payloads quarantine as NULL.
    """

    def hash_rows(doc_id, p: bytes) -> list[tuple]:
        # positive-height BMPs store scanlines bottom-up; flip so
        # thumbnail row 0 is the IMAGE's top row and the hash matches a
        # standard dHash fed the same image
        px = _bmp_pixels(p)[::-1]
        gray = _nearest(px, 7, 9).astype(np.int64).sum(axis=2) // 3
        return [(doc_id, _bits_to_long(gray[:, 1:] > gray[:, :-1]))]

    return _map_payloads(binary_df, DHASH_SCHEMA, hash_rows)


def dhash_near_pairs(
    hashes: DataFrame,
    bands: int = 4,
    band_bits: int = 14,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate image pairs (id_a, id_b, hamming) from dHash values:
    :func:`similarity.banded_hamming_pairs` pairs hashes that agree on one
    of ``bands`` ``band_bits``-bit slices (buckets above ``max_bucket``
    dropped, as in the text LSH paths; NULL hashes never paired) and keeps
    those within 6 bits. Finding every such pair is
    guaranteed only when 6 < bands (pigeonhole) and the slices
    cover the hash; at the default 4 bands a pair whose
    differing bits touch all four bands is missed.
    """
    return banded_hamming_pairs(
        hashes, "doc_id", "dhash", bands, band_bits, 6, max_bucket
    )


def _png_predict(ft: int, a: int, b: int, c: int) -> int:
    """The prediction of PNG filter type ``ft`` (1 Sub, 2 Up, 3 Average,
    4 Paeth) for a byte from its left (``a``), upper (``b``) and
    upper-left (``c``) neighbours."""
    if ft == 1:
        return a
    if ft == 2:
        return b
    if ft == 3:
        return (a + b) >> 1
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else b if pb <= pc else c


def synth_png(
    pixel_source: bytes, width: int, height: int, filter_type: int = 0
) -> bytes:
    """Construct a VALID 8-bit RGB PNG: signature, IHDR, one zlib IDAT,
    IEND — correct CRCs throughout, decodable by any viewer. Pixel bytes
    cycle ``pixel_source`` in scanline order; every scanline carries
    ``filter_type`` (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth), so each of
    the decoder's unfilter paths can be exercised."""
    row_bytes = width * 3
    raw = _cycle(pixel_source, row_bytes * height)
    if filter_type not in range(5):
        raise ValueError(f"unknown PNG filter type {filter_type}")
    lines = []
    prev = bytes(row_bytes)
    for r in range(height):
        line = raw[r * row_bytes : (r + 1) * row_bytes]
        out = bytearray([filter_type]) + line
        if filter_type:
            for i in range(row_bytes):
                a, c = (line[i - 3], prev[i - 3]) if i >= 3 else (0, 0)
                out[i + 1] = (line[i] - _png_predict(filter_type, a, prev[i], c)) & 0xFF
        lines.append(bytes(out))
        prev = line
    idat = zlib.compress(b"".join(lines))

    def chunk(kind: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + kind
            + body
            + struct.pack(">I", zlib.crc32(kind + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int):
    """Reverse PNG scanline filtering (types 0-4) for 8-bit RGB.

    Returns an (h, w, 3) uint8 array. None and Up are one numpy add, Sub
    a per-channel cumulative sum mod 256; Average and Paeth depend on the
    byte just decoded, so they loop over Python ints (not numpy scalars).
    No imaging library."""
    row_bytes = width * 3
    out = np.zeros((height + 1, row_bytes), dtype=np.uint8)  # row 0: the zero row above
    for r in range(1, height + 1):
        start = (r - 1) * (row_bytes + 1)
        ft = raw[start]
        line = np.frombuffer(raw, np.uint8, row_bytes, start + 1)
        if ft == 0:
            out[r] = line
        elif ft == 1:  # Sub
            out[r] = line.reshape(width, 3).cumsum(axis=0).reshape(-1) & 0xFF
        elif ft == 2:  # Up (uint8 addition wraps mod 256)
            out[r] = line + out[r - 1]
        elif ft in (3, 4):  # Average / Paeth
            cur = bytearray(line.tobytes())
            prev = out[r - 1].tobytes()
            for i in range(row_bytes):
                a, c = (cur[i - 3], prev[i - 3]) if i >= 3 else (0, 0)
                cur[i] = (cur[i] + _png_predict(ft, a, prev[i], c)) & 0xFF
            out[r] = np.frombuffer(cur, np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
    return out[1:].reshape(height, width, 3)


def decode_png_pixels(binary_df: DataFrame) -> DataFrame:
    """TRUE pixel decode for 8-bit RGB PNG using only the standard
    library's zlib: walk the chunk stream (validating each CRC),
    concatenate IDAT, inflate, reverse scanline filters (all five spec
    types), and fold per-channel (R, G, B) sums in numpy. This is a real
    COMPRESSED-codec decode — the entropy-coded step BMP/WAV never
    exercised — with no imaging dependency. Corrupt payloads quarantine
    as NULL rows. Emits the same stats schema as decode_bmp_pixels
    (channel order documented per format)."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        if p[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG")
        pos, w, h, idat = 8, None, None, b""
        while pos + 8 <= len(p):
            (ln,) = struct.unpack(">I", p[pos : pos + 4])
            kind = p[pos + 4 : pos + 8]
            body = p[pos + 8 : pos + 8 + ln]
            crc = struct.unpack(">I", p[pos + 8 + ln : pos + 12 + ln])[0]
            if zlib.crc32(kind + body) & 0xFFFFFFFF != crc:
                raise ValueError("bad chunk CRC")
            if kind == b"IHDR":
                w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
                if depth != 8 or ctype != 2:
                    raise ValueError("not 8-bit RGB")
            elif kind == b"IDAT":
                idat += body
            elif kind == b"IEND":
                break
            pos += 12 + ln
        if w is None or not idat:
            raise ValueError("missing IHDR/IDAT")
        raw = zlib.decompress(idat)
        if len(raw) != h * (w * 3 + 1):
            raise ValueError("bad inflated length")
        s = _png_unfilter(raw, w, h).astype(np.int64).sum(axis=(0, 1))
        # PNG stores R,G,B — map into the shared stats schema's
        # (sum_b, sum_g, sum_r) slots by channel NAME
        return [(doc_id, w, h, w * h, int(s[2]), int(s[1]), int(s[0]))]

    return _map_payloads(binary_df, PIXEL_STATS_SCHEMA, rows)


def encode_png(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL PNG column: each document's text becomes the
    pixel bytes of a valid zlib-compressed 8-bit RGB PNG (width/height
    derived from n_chars like encode_bmp)."""
    return _encode(
        docs, "image/png", lambda raw, n: synth_png(raw, n % 48 + 1, n % 32 + 1)
    )


def _digest_jumps(binary_df: DataFrame) -> tuple[DataFrame, Window]:
    """Every sample of every valid video with ``dist``, the Hamming
    distance of its 60-bit digest prefix to the previous sample's (NULL
    for the first), plus the per-document sample-order window it used.
    Corrupt payloads (NULL sample rows) are quarantined before the
    window."""
    idx = video_frame_index(binary_df, every_k=1).filter(
        F.col("sample_idx").isNotNull()
    )
    sig = hex_long("digest")
    w = Window.partitionBy("doc_id").orderBy("sample_idx")
    jumps = idx.withColumn("sig", sig).withColumn(
        "dist", F.bit_count(F.col("sig").bitwiseXOR(F.lag("sig").over(w)))
    )
    return jumps, w


def video_scene_cuts(binary_df: DataFrame) -> DataFrame:
    """Scene-cut detection plumbing on the REAL sample table: every
    sample's bytes are located via stsz/stco (:func:`video_frame_index`
    with ``every_k=1``), digested, and consecutive samples compared by
    the Hamming distance of their 60-bit digest prefixes — a jump above
    32 bits marks a content discontinuity (the shot-boundary
    heuristic production pipelines run before any codec; with a codec
    present the same shape compares per-frame perceptual hashes, see
    :func:`dhash_bmp`).

    Scale shape: the demuxer walk is the Arrow-batched frame index; the
    jump test is ONE keyed lag window per document (frames of one video
    never shuffle apart); the report aggregates map-side to a row per
    document. Corrupt payloads (NULL sample rows) are quarantined before
    the window. All integer arithmetic — engine-reproducible.

    Emits (doc_id, n_samples, n_cuts, max_jump).
    """
    jumps, _ = _digest_jumps(binary_df)
    return jumps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_samples"),
        F.sum(
            F.when(F.col("dist") >= 32, 1).otherwise(0)
        ).cast("long").alias("n_cuts"),
        F.coalesce(F.max("dist"), F.lit(0)).cast("int").alias("max_jump"),
    )


def video_keyframes(binary_df: DataFrame) -> DataFrame:
    """Scene segmentation + keyframe selection on the REAL sample table:
    samples partition into scenes at every digest jump >= 32 bits
    (the :func:`video_scene_cuts` boundary rule), and each scene's FIRST
    sample is its keyframe — the representative-frame pick a video
    curation pipeline extracts per shot before any embedding spend
    (frame-sampling by content boundaries instead of fixed stride).

    Emits (doc_id, scene_id, start_idx, n_samples, entry_jump) — one row
    per scene; entry_jump is the Hamming jump that OPENED the scene (0
    for the first). Same integer digest arithmetic as video_scene_cuts;
    one keyed window per document (cumulative cut count), then a
    (doc, scene) groupBy — frames of one video never shuffle apart.
    """
    jumps, w = _digest_jumps(binary_df)
    jumps = jumps.withColumn(
        "scene_id",
        F.sum(
            F.when(F.col("dist") >= 32, 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sw = Window.partitionBy("doc_id", "scene_id").orderBy("sample_idx")
    flagged = jumps.withColumn("rn_in_scene", F.row_number().over(sw))
    return flagged.groupBy("doc_id", "scene_id").agg(
        F.min("sample_idx").cast("long").alias("start_idx"),
        F.count("*").cast("long").alias("n_samples"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("rn_in_scene") == 1, F.coalesce(F.col("dist"), F.lit(0))
                )
            ),
            F.lit(0),
        ).cast("int").alias("entry_jump"),
    )


def _frame_energies(v: np.ndarray) -> list[int]:
    """Exact int64 sum of squares of each 64-sample frame of ``v``;
    the last frame may be partial."""
    return np.add.reduceat(v * v, np.arange(0, len(v), 64)).tolist() if len(v) else []


ENERGY_SHINGLE_SCHEMA = "doc_id long, g string"


def audio_energy_shingles(binary_df: DataFrame) -> DataFrame:
    """(doc_id, g): per-window energy shingles of a PCM stream — the
    audio counterpart of the video sample digests (video_frame_index):
    the int16 stream splits into fixed 64-sample windows, each window's EXACT
    int64 energy (sum of squares) quantizes to its TOP-6-BIT bucket
    ((energy+1) >> (bit_length-6) — a ~1.5%-tolerance loudness level in
    pure integer arithmetic any engine reproduces), and the shingle is
    "window_idx:bit_length:bucket" with bit_length that of energy+1.
    Feed the set into prefix_jaccard_pairs for exact audio near-dup
    detection; only (long, short-string) rows leave the Arrow decode —
    PCM bytes never shuffle. Corrupt payloads drop.
    """

    def rows(doc_id, p: bytes) -> list[tuple]:
        out = []
        for widx, energy in enumerate(_frame_energies(_pcm16(p))):
            b = (energy + 1).bit_length()
            out.append((doc_id, f"{widx}:{b}:{(energy + 1) >> max(b - 6, 0)}"))
        return out

    return _map_payloads(binary_df, ENERGY_SHINGLE_SCHEMA, rows, drop_corrupt=True)


AUDIO_FRAME_SCHEMA = "doc_id long, frame_idx long, n int, sum_sq long"


def decode_audio_frame_energy(binary_df: DataFrame) -> DataFrame:
    """Frame-level PCM energy decode: locate each WAV's data chunk,
    reinterpret it as little-endian int16, slice the flat sample stream
    into 64-sample frames (last frame may be partial), and
    emit exact integers (frame_idx, n, sum_sq) per frame — the substrate
    for energy-threshold voice-activity detection. Arrow-batched
    mapInPandas with numpy int64 arithmetic, same decode core as
    :func:`decode_audio_samples`; corrupt payloads contribute no frames
    (quarantine-by-absence, the 100 TB rule)."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        v = _pcm16(p)
        return [
            (doc_id, f, min(64, len(v) - f * 64), energy)
            for f, energy in enumerate(_frame_energies(v))
        ]

    return _map_payloads(binary_df, AUDIO_FRAME_SCHEMA, rows, drop_corrupt=True)


BYTE_HIST_SCHEMA = "doc_id long, val int, c long"


def decode_bmp_byte_histogram(binary_df: DataFrame) -> DataFrame:
    """Per-image byte-value histogram over the TRUE decoded pixel array
    (same header/stride/padding walk as :func:`decode_bmp_pixels`):
    (doc_id, val, c) for every byte value present — the substrate for
    entropy/uniformity image-quality signals. numpy bincount per
    payload, Arrow-batched; corrupt payloads contribute no rows."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        cnt = np.bincount(_bmp_pixels(p).reshape(-1), minlength=256)
        nz = np.flatnonzero(cnt)
        return list(zip([doc_id] * len(nz), nz.tolist(), cnt[nz].tolist()))

    return _map_payloads(binary_df, BYTE_HIST_SCHEMA, rows, drop_corrupt=True)


LAPLACIAN_SCHEMA = (
    "doc_id long, width int, height int, n_interior long, "
    "sum_lap long, sum_lap2 long"
)


def bmp_laplacian_stats(binary_df: DataFrame) -> DataFrame:
    """Per-image discrete-Laplacian moments over the TRUE decoded pixel
    array — the variance-of-Laplacian blur/flatness detector (Pech-Pacheco
    et al.): a sharp image has high-variance second derivative, a blurred
    or synthetic-flat frame collapses toward 0. Gray level is the exact
    integer channel sum b+g+r (no /3 — scale-free for a variance ratio);
    lap(x,y) = 4*g(x,y) - g(x-1,y) - g(x+1,y) - g(x,y-1) - g(x,y+1) over
    interior pixels. Emits exact int64 (n, sum, sum of squares); the
    caller derives variance with ONE division so rounding matches a SQL
    oracle. Images with no interior (w or h < 3) emit n_interior = 0.
    Bounds: |lap| <= 4*765, so sum_lap2 <= n * 9.4e6 — int64-safe for
    any image under ~10^12 pixels. Corrupt payloads quarantine as NULLs."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        px = _bmp_pixels(p)
        h, w, _ = px.shape
        if h < 3 or w < 3:
            return [(doc_id, w, h, 0, 0, 0)]
        g = px.astype(np.int64).sum(axis=2)
        lap = (
            4 * g[1:-1, 1:-1]
            - g[:-2, 1:-1]
            - g[2:, 1:-1]
            - g[1:-1, :-2]
            - g[1:-1, 2:]
        )
        return [(doc_id, w, h, int(lap.size), int(lap.sum()), int((lap * lap).sum()))]

    return _map_payloads(binary_df, LAPLACIAN_SCHEMA, rows)


#: Q15 fixed-point DFT tables for the probe-tone detector: 64-sample
#: frame, probe bins 1/2/3/5 cycles-per-frame. The SAME integers are
#: embedded as literals in the SQL oracle, so trig never crosses an
#: engine boundary — this is the classic fixed-point DSP trick (Q15
#: twiddle factors), used here for bit-exactness rather than for lack
#: of an FPU.
TONE_FRAME = 64
TONE_BINS = (1, 2, 3, 5)


def _tone_table() -> list[tuple[int, int, int, int]]:
    return [
        (
            k,
            n,
            round(math.cos(2 * math.pi * k * n / TONE_FRAME) * 32768),
            round(-math.sin(2 * math.pi * k * n / TONE_FRAME) * 32768),
        )
        for k in TONE_BINS
        for n in range(TONE_FRAME)
    ]


#: the cos_q15 and -sin_q15 columns of _tone_table, one row per probe bin
_TONE_C, _TONE_S = (
    np.array(_tone_table(), np.int64)[:, 2:].T.reshape(2, len(TONE_BINS), TONE_FRAME)
)


def _q15_powers(v: np.ndarray) -> np.ndarray:
    """(n_frames, len(TONE_BINS)) probe-bin DFT power of each complete
    TONE_FRAME-sample frame of ``v``, in exact int64: re = sum(x *
    cos_q15), im = sum(x * -sin_q15) (|x| <= 2^15, twiddle <= 2^15, 64
    terms -> |re| <= 2^36), each quantized by an arithmetic >> 15
    (floor), power = re_q^2 + im_q^2 (<= 2^43)."""
    nf = len(v) // TONE_FRAME
    frames = v[: nf * TONE_FRAME].reshape(nf, TONE_FRAME)
    req = (frames @ _TONE_C.T) >> 15  # arithmetic shift = floor
    imq = (frames @ _TONE_S.T) >> 15
    return req * req + imq * imq


TONE_SCHEMA = "doc_id long, n_frames long, bin int, power long"


def audio_tone_power_q15(binary_df: DataFrame) -> DataFrame:
    """Per-payload probe-frequency DFT power over REAL decoded PCM in
    Q15 fixed point — the tone/hum detector audio curation runs to flag
    test signals, dial tones and mains hum before transcription spend.
    Per complete 64-sample frame and probe bin k the :func:`_q15_powers`
    power, summed over frames (int64-safe to ~2 million frames). Emits
    one row per (payload, bin); payloads with fewer than 64 samples emit
    nothing (no complete frame). Corrupt payloads quarantine silently."""

    def rows(doc_id, p: bytes) -> list[tuple]:
        pw = _q15_powers(_pcm16(p))
        if not len(pw):
            return []
        return [(doc_id, len(pw), kk, q) for kk, q in zip(TONE_BINS, pw.sum(axis=0).tolist())]

    return _map_payloads(binary_df, TONE_SCHEMA, rows, drop_corrupt=True)


PEAK_SCHEMA = "doc_id long, fi long, peak_bin int, peak_power long"


def audio_frame_peaks_q15(binary_df: DataFrame) -> DataFrame:
    """(doc_id, fi, peak_bin, peak_power): per-FRAME dominant probe bin
    over real decoded PCM — the spectral-peak stream a constellation
    fingerprint is built from (audio_tone_power_q15 sums the same Q15
    powers across frames; fingerprinting needs them per frame). Same
    exact-int64 DFT (shared twiddle literals, arithmetic >>15 = floor),
    argmax per frame packed as power*8 + (7-bin) so ties break to the
    LOWEST bin on any engine. Zero-shuffle: one Arrow-batched pass,
    emitting nf rows per payload."""
    binval = np.array([7 - kk for kk in TONE_BINS], np.int64)

    def rows(doc_id, p: bytes) -> list[tuple]:
        enc = (_q15_powers(_pcm16(p)) * 8 + binval).max(axis=1).tolist()
        return [(doc_id, fi, 7 - e % 8, e // 8) for fi, e in enumerate(enc)]

    return _map_payloads(binary_df, PEAK_SCHEMA, rows, drop_corrupt=True)


def audio_landmarks(peaks: DataFrame) -> DataFrame:
    """(doc_id, fi, l): constellation landmarks from a per-frame peak
    stream — each anchor frame hashed with the NEXT TWO peaks plus the
    bit-length of its own peak power: l = ((p0*8 + p1)*8 + p2)*64 +
    min(bitlen(power0), 63). The triple-peak trajectory is the classic
    landmark construction (pairs of spectral peaks + their time gap);
    the bit-length term is a coarse loudness octave that widens the hash
    space without any float. One per-doc window (LEAD x2) — zero
    shuffle beyond the doc partition."""
    w = Window.partitionBy("doc_id").orderBy("fi")
    lm = peaks.select(
        "doc_id",
        "fi",
        F.col("peak_bin").alias("p0"),
        F.lead("peak_bin", 1).over(w).alias("p1"),
        F.lead("peak_bin", 2).over(w).alias("p2"),
        F.least(F.length(F.expr("bin(peak_power)")), F.lit(63)).alias("oct"),
    )
    return lm.filter(F.col("p2").isNotNull()).select(
        "doc_id",
        "fi",
        (
            ((F.col("p0") * 8 + F.col("p1")) * 8 + F.col("p2")) * 64
            + F.col("oct")
        ).cast("long").alias("l"),
    )


def audio_fingerprint_match(corpus_landmarks: DataFrame, probe_landmarks: DataFrame) -> DataFrame:
    """(probe_doc, matched_doc, offset, votes, rank): Shazam-style
    constellation matching — probes join the corpus landmark INDEX on
    the landmark hash, votes accumulate per (probe, candidate, time
    offset), and a genuine match shows as a vote spike at ONE offset
    (random collisions smear across offsets). The landmark-frequency cap
    drops stop-landmarks appearing in more than 64
    distinct docs — the same bounded-bucket discipline as every LSH join
    here: a degenerate common landmark cannot explode the candidate
    join, and dropped mass only costs votes a true match has in excess.

    Shuffles: the cap count (one groupBy on l), the hash join on l, the
    vote groupBy, the per-probe top-3 window — all keyed; nothing
    all-pairs.
    """
    freq = corpus_landmarks.groupBy("l").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    idx = corpus_landmarks.join(
        freq.filter(F.col("nd") <= 64).select("l"), "l"
    )
    votes = (
        probe_landmarks.select(
            F.col("doc_id").alias("probe_doc"),
            F.col("fi").alias("pfi"),
            "l",
        )
        .join(
            idx.select(
                F.col("doc_id").alias("matched_doc"),
                F.col("fi").alias("cfi"),
                "l",
            ),
            "l",
        )
        .groupBy(
            "probe_doc",
            "matched_doc",
            (F.col("cfi") - F.col("pfi")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("probe_doc").orderBy(
        F.desc("votes"), F.asc("matched_doc"), F.asc("offset")
    )
    return (
        votes.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("probe_doc", "matched_doc", "offset", "votes", "rank")
    )


def _dct8_table() -> list[tuple[int, int, int]]:
    """(u, x, q15) DCT-II basis literals: round(cos(pi*(2x+1)*u/16) *
    32768) — shared verbatim between the numpy kernel and the SQL
    oracle, the same fixed-point-literal convention as _tone_table."""
    return [
        (u, x, round(math.cos(math.pi * (2 * x + 1) * u / 16) * 32768))
        for u in range(8)
        for x in range(8)
    ]


PHASH_SCHEMA = "doc_id long, phash long, n_above int"


def phash_dct_bmp(binary_df: DataFrame) -> DataFrame:
    """(doc_id, phash, n_above): DCT perceptual hash (pHash) on TRUE BMP
    pixels, exact int64 end to end — the re-encode/resize-robust image
    fingerprint one notch stronger than dHash (dhash_bmp compares
    neighbor luma; pHash thresholds the image's own low-frequency
    SPECTRUM, so global gradients and local noise wash out).

    Pipeline per image, all integer: decode the padded 24-bit grid
    (top-down like dhash_bmp), per-pixel gray = (B+G+R)//3, block-average
    onto an 8x8 grid (cell = sum // count; images narrower/shorter than
    8 leave empty cells at 0), then the 2D DCT-II as TWO exact integer
    matmuls with the Q15 basis literals of :func:`_dct8_table` — NO
    intermediate shift: |T·P·Tᵀ| <= 8·32768·8·32768·255 ~ 1.8e13, far
    inside int64, so the coefficients are exact scaled integers both
    engines reproduce. The hash sets bit u*8+v-1 when AC coefficient
    (u,v) exceeds the lower median of all 63 AC coefficients (DC
    excluded, the classic construction) — 63 bits, below the sign bit.

    Arrow-batched mapInPandas; one long per image leaves the pass, so
    downstream banding joins shuffle 8 bytes per image at any
    resolution. Corrupt payloads quarantine as NULL.
    """
    T = np.array([q for _, _, q in _dct8_table()], np.int64).reshape(8, 8)

    def rows(doc_id, p: bytes) -> list[tuple]:
        px = _bmp_pixels(p)[::-1]  # bottom-up scanlines -> image order
        h, w, _ = px.shape
        gray = px.astype(np.int64).sum(axis=2) // 3
        cell = (((np.arange(h) * 8) // h)[:, None], ((np.arange(w) * 8) // w)[None, :])
        sums = np.zeros((8, 8), np.int64)
        cnts = np.zeros((8, 8), np.int64)
        np.add.at(sums, cell, gray)
        np.add.at(cnts, cell, 1)
        # empty cells have sum 0, so they stay 0
        C = T @ (sums // np.maximum(cnts, 1)) @ T.T  # exact int64
        ac = np.delete(C.reshape(-1), 0)  # drop DC
        bits = ac > np.sort(ac)[31]  # lower median of 63
        return [(doc_id, _bits_to_long(bits), int(bits.sum()))]

    return _map_payloads(binary_df, PHASH_SCHEMA, rows)
