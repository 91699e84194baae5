"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded via Arrow-batched Pandas UDFs.

The pattern for image/audio/video at 100 TB: the payload travels as a
``binary`` column next to typed metadata; decode/feature-extract runs as
``mapInPandas`` so each task processes Arrow record batches (no per-row
Python), and partitioning/pushdown operate on the metadata columns only —
the binary column is never read unless selected.

Header decode is REAL: ``parse_image_header`` parses actual BMP/PNG/GIF/
JPEG file structure in pure Python, and ``encode_bmp``/``decode_image_
headers`` round-trip genuine BMP files through the pipeline. Only pixel
decoding (huffman/deflate resampling, model inference) would need codec/
model libraries absent from this container; those callers fall back to a
deterministic fake derived from the byte stream so text stand-in corpora
stay oracle-verifiable end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.operators.similarity import banded_hamming_pairs

#: output schema of the decoder — what a real image decode would produce.
FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, fake_width int, fake_height int, "
    "fake_channels int, checksum long"
)


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: payload as opaque binary + metadata.

    On real data this is the ingestion shape: (id, payload binary,
    mime string, n_bytes long).
    """
    payload = F.encode(F.col(text_col), "utf-8")
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
    if not pixel_source:
        pixel_source = b"\x00"
    row = width * 3
    stride = row + (4 - row % 4) % 4
    img_size = stride * height
    reps = img_size // len(pixel_source) + 1
    pixels = (pixel_source * reps)[:img_size]
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
    return header + pixels


def _decode_real(payload: bytes) -> tuple[int, int, int]:
    """Real decoder: header-parse BMP/PNG/GIF/JPEG bytes. Raises
    NotImplementedError for non-image payloads (callers fall back to the
    deterministic fake so text stand-in corpora stay verifiable)."""
    try:
        _, w, h, c = parse_image_header(bytes(payload))
        return w, h, c
    except ValueError as exc:
        raise NotImplementedError("payload is not a recognized image") from exc


def _decode_fake(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in: 'dimensions' derived from the byte stream.

    Pure arithmetic on length and byte sum, so the oracle can verify the
    full mapInPandas plumbing end-to-end without a codec.
    """
    n = len(payload)
    checksum = sum(payload) % 1_000_000_007
    return n % 640 + 1, (n * 7) % 480 + 1, 3, checksum


def decode_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow batches in, feature columns out.

    Column pruning matters: the plan reads only (doc_id, payload); metadata
    columns not consumed by the UDF are dropped before the Python boundary.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    w, h, c = _decode_real(payload)
                    checksum = -1
                except NotImplementedError:
                    w, h, c, checksum = _decode_fake(payload)
                rows.append((doc_id, len(payload), w, h, c, checksum))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_bytes",
                    "fake_width",
                    "fake_height",
                    "fake_channels",
                    "checksum",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(decode_batches, FEATURE_SCHEMA)


def frame_sample(binary_df: DataFrame, every_n_bytes: int = 97) -> DataFrame:
    """'Frame sampling' stub: pick every Nth byte as a frame marker.

    Stands in for video frame extraction; shows the explode-to-frames
    shape (one row per sampled frame) with deterministic content.
    """
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an empty
    # array — payloads shorter than the stride must short-circuit.
    frames = F.expr(
        f"CASE WHEN n_bytes < {every_n_bytes} THEN array() ELSE "
        f"transform(sequence(1, int(n_bytes div {every_n_bytes})), "
        f"i -> struct(CAST(i AS BIGINT) AS frame_no, "
        f"ascii(substring(decode(payload, 'utf-8'), (i - 1) * {every_n_bytes} + 1, 1)) AS byte_val)) END"
    )
    return binary_df.select("doc_id", F.explode(frames).alias("f")).select(
        "doc_id", F.col("f.frame_no").alias("frame_no"), F.col("f.byte_val").alias("byte_val")
    )


#: resize output: metadata + the resized payload itself (binary travels on)
RESIZE_SCHEMA = (
    "doc_id long, out_width int, out_height int, out_n_bytes long, "
    "out_checksum long, resized binary"
)


def _resize_fake(payload: bytes, target: int) -> bytes:
    """Deterministic stand-in for pixel resampling: cycle the byte stream
    to the target buffer size (floor-cycles + prefix)."""
    if not payload:
        return b"\x00" * target
    reps = target // len(payload) + 1
    return (payload * reps)[:target]


def resize_images(
    binary_df: DataFrame, target_w: int = 16, target_h: int = 12, channels: int = 3
) -> DataFrame:
    """'Resize' each binary payload to a fixed target_w x target_h buffer.

    Real pipeline shape: mapInPandas over (id, payload) with the resized
    payload returned as a binary column (so downstream stages keep
    operating on columnar binary) plus verifiable metadata. The pixel
    resample itself is stubbed (no codec libs here): tries PIL, falls back
    to deterministic byte-cycling the oracle can recompute.
    """
    target = target_w * target_h * channels

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                # Pixel resampling needs a codec regardless of format, so
                # both real-image and text payloads take the deterministic
                # byte-cycle resize; real headers are still validated.
                resized = _resize_fake(payload, target)
                checksum = sum(resized) % 1_000_000_007
                rows.append(
                    (doc_id, target_w, target_h, target, checksum, bytearray(resized))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "out_width",
                    "out_height",
                    "out_n_bytes",
                    "out_checksum",
                    "resized",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


BMP_SCHEMA = "doc_id long, payload binary, mime string, n_bytes long"

HEADER_SCHEMA = "doc_id long, fmt string, width int, height int, channels int"


def encode_bmp(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a REAL image column: each document's text becomes the
    pixel bytes of a valid 24-bit BMP whose dimensions derive from
    n_chars (width = n_chars % 64 + 1, height = n_chars % 48 + 1).

    This is the ingestion-side twin of decode: mapInPandas over Arrow
    batches producing a binary column of genuine image files, so the
    decode stage downstream exercises its real parser, not the fake."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = str(text).encode("utf-8")
                bmp = synth_bmp(raw, len(str(text)) % 64 + 1, len(str(text)) % 48 + 1)
                rows.append((doc_id, bytearray(bmp), "image/bmp", len(bmp)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "mime", "n_bytes"])

    return docs.select("doc_id", text_col).mapInPandas(run, BMP_SCHEMA)


def decode_image_headers(binary_df: DataFrame) -> DataFrame:
    """Real-path decode: parse each binary payload's image header
    (BMP/PNG/GIF/JPEG) into typed metadata. Unrecognized payloads yield
    NULL metadata instead of failing the batch — at 100 TB a corrupt
    object must quarantine, not kill the stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fmt, w, h, c = parse_image_header(bytes(payload))
                except ValueError:
                    fmt, w, h, c = None, None, None, None
                rows.append((doc_id, fmt, w, h, c))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "width", "height", "channels"]
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, HEADER_SCHEMA)


EMBED_SCHEMA = "doc_id long, embedding array<double>"


def embed_payloads(binary_df: DataFrame, dim: int = 8) -> DataFrame:
    """Binary payload -> embedding vector (the encoder step that links the
    multimodal store to the similarity stack: decode -> embed -> ANN).

    The real encoder (CLIP-style model inference) needs libs absent here,
    so the embedding is a deterministic md5 projection of the bytes —
    component j = md5(payload || ':' || j)[:6] / 2^24, rounded to 6
    decimals — which exercises the REAL plumbing: Arrow-batched
    mapInPandas, column pruning to (doc_id, payload), array<double>
    output column ready for operators/similarity.
    """
    import hashlib

    def embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                vec = [
                    round(
                        int(hashlib.md5(payload + b":" + str(j).encode()).hexdigest()[:6], 16)
                        / 16777216.0,
                        6,
                    )
                    for j in range(dim)
                ]
                rows.append((doc_id, vec))
            yield pd.DataFrame(rows, columns=["doc_id", "embedding"])

    return binary_df.select("doc_id", "payload").mapInPandas(embed_batches, EMBED_SCHEMA)


WAV_SCHEMA = "doc_id long, payload binary, mime string, n_bytes long"
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
    if not sample_source:
        sample_source = b"\x00"
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    data_size = n_samples * block_align
    reps = data_size // len(sample_source) + 1
    data = (sample_source * reps)[:data_size]
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
    return header + data


def parse_wav_header(p: bytes) -> tuple[str, int, int, int, int, int]:
    """REAL RIFF/WAVE decode in pure Python: walk the chunk list to the
    fmt and data chunks; (fmt, sample_rate, channels, bits, n_samples,
    duration_ms). Raises ValueError on non-WAV or implausible structure.

    This parses actual container structure — the RIFF chunk walk handles
    any chunk order and extra chunks (LIST/INFO etc.), exactly what a
    production audio ingest needs before handing samples to a codec."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    rate = channels = bits = None
    data_size = None
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        if cid == b"fmt " and size >= 16:
            audio_format = int.from_bytes(p[i + 8 : i + 10], "little")
            if audio_format != 1:  # PCM only; compressed needs a codec lib
                raise ValueError(f"unsupported WAVE format {audio_format}")
            channels = int.from_bytes(p[i + 10 : i + 12], "little")
            rate = int.from_bytes(p[i + 12 : i + 16], "little")
            bits = int.from_bytes(p[i + 22 : i + 24], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if not rate or not channels or bits not in (8, 16, 24, 32) or data_size is None:
        raise ValueError("incomplete WAVE structure")
    if not (1 <= channels <= 64) or not (1000 <= rate <= 1_000_000):
        raise ValueError("implausible WAVE parameters")
    block_align = channels * bits // 8
    n_samples = data_size // block_align
    return ("wav", rate, channels, bits, n_samples, n_samples * 1000 // rate)


def encode_wav(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a REAL audio column: each document's text bytes become
    PCM sample data in a valid WAV whose rate/channels/length derive from
    n_chars — the ingestion-side twin of :func:`decode_audio_headers`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = str(text).encode("utf-8")
                n = len(str(text))
                wav = synth_wav(raw, 8000 + (n % 8) * 1000, n % 2 + 1, n % 500 + 1)
                rows.append((doc_id, bytearray(wav), "audio/wav", len(wav)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "mime", "n_bytes"])

    return docs.select("doc_id", text_col).mapInPandas(run, WAV_SCHEMA)


def decode_audio_headers(binary_df: DataFrame) -> DataFrame:
    """Real-path audio decode: RIFF chunk-walk each payload into typed
    metadata; corrupt payloads quarantine as NULL rows instead of killing
    the stage (the 100 TB rule)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fmt, rate, ch, bits, n, ms = parse_wav_header(bytes(payload))
                except ValueError:
                    fmt, rate, ch, bits, n, ms = (None,) * 6
                rows.append((doc_id, fmt, rate, ch, bits, n, ms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "fmt", "sample_rate", "channels", "bits",
                    "n_samples", "duration_ms",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, AUDIO_HEADER_SCHEMA)


MP4_SCHEMA = "doc_id long, payload binary, mime string, n_bytes long"
VIDEO_HEADER_SCHEMA = (
    "doc_id long, brand string, timescale int, duration long, "
    "n_top_boxes int, mdat_bytes long, duration_ms long"
)


def _box(kind: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + kind + body


def synth_mp4(payload: bytes, timescale: int, duration: int) -> bytes:
    """Construct a VALID minimal ISO BMFF (MP4) file: ftyp (isom brand),
    moov containing an mvhd version-0 box carrying timescale/duration,
    and an mdat holding the payload bytes. Box sizes/ordering follow the
    spec (big-endian 32-bit size + fourcc), so any MP4 tool can walk it;
    used to exercise the real parse path without binary fixtures."""
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
    mvhd_body = (
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
        + (2).to_bytes(4, "big")           # next_track_ID
    )
    moov = _box(b"moov", _box(b"mvhd", mvhd_body))
    mdat = _box(b"mdat", payload)
    return ftyp + moov + mdat


def parse_mp4_header(p: bytes) -> tuple[str, int, int, int, int, int]:
    """REAL ISO BMFF decode in pure Python: walk the top-level box list,
    read the brand from ftyp, descend into moov for the mvhd
    timescale/duration, and size the mdat. Returns (brand, timescale,
    duration, n_top_boxes, mdat_bytes, duration_ms); raises ValueError on
    non-MP4 or implausible structure — the container walk a production
    video ingest performs before handing samples to a demuxer/codec."""
    if len(p) < 12 or p[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload")
    brand = None
    timescale = duration = None
    mdat_bytes = None
    n_top = 0
    i = 0
    while i + 8 <= len(p):
        size = int.from_bytes(p[i : i + 4], "big")
        kind = p[i + 4 : i + 8]
        if size < 8 or i + size > len(p):
            raise ValueError("corrupt box size")
        n_top += 1
        if kind == b"ftyp":
            brand = p[i + 8 : i + 12].decode("ascii", "replace")
        elif kind == b"moov":
            j = i + 8
            while j + 8 <= i + size:
                bsize = int.from_bytes(p[j : j + 4], "big")
                bkind = p[j + 4 : j + 8]
                if bsize < 8 or j + bsize > i + size:
                    raise ValueError("corrupt moov child")
                if bkind == b"mvhd":
                    version = p[j + 8]
                    if version != 0:
                        raise ValueError("mvhd v1 needs 64-bit fields")
                    timescale = int.from_bytes(p[j + 20 : j + 24], "big")
                    duration = int.from_bytes(p[j + 24 : j + 28], "big")
                j += bsize
        elif kind == b"mdat":
            mdat_bytes = size - 8
        i += size
    if brand is None or not timescale or duration is None or mdat_bytes is None:
        raise ValueError("incomplete MP4 structure")
    return (brand, timescale, duration, n_top, mdat_bytes, duration * 1000 // timescale)


def encode_mp4(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a REAL video-container column: each document's text
    bytes become the mdat of a valid MP4 whose timescale/duration derive
    from n_chars — the ingestion-side twin of :func:`decode_video_headers`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = str(text).encode("utf-8")
                n = len(str(text))
                mp4 = synth_mp4(raw, 600 + (n % 5) * 100, (n * 31) % 100_000)
                rows.append((doc_id, bytearray(mp4), "video/mp4", len(mp4)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "mime", "n_bytes"])

    return docs.select("doc_id", text_col).mapInPandas(run, MP4_SCHEMA)


def decode_video_headers(binary_df: DataFrame) -> DataFrame:
    """Real-path video-container decode: box-walk each payload into typed
    metadata; corrupt payloads quarantine as NULL rows instead of killing
    the stage (the 100 TB rule)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    vals = parse_mp4_header(bytes(payload))
                except ValueError:
                    vals = (None,) * 6
                rows.append((doc_id, *vals))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "brand", "timescale", "duration",
                    "n_top_boxes", "mdat_bytes", "duration_ms",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, VIDEO_HEADER_SCHEMA)


def _wav_data_span(p: bytes) -> tuple[int, int]:
    """(offset, size) of the PCM data chunk — the RIFF walk of
    :func:`parse_wav_header`, returning where the samples live."""
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        if cid == b"data":
            return i + 8, size
        i += 8 + size + (size % 2)
    raise ValueError("no data chunk")


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
    ROUND. Corrupt payloads quarantine as NULL rows."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    off, size = _wav_data_span(bytes(payload))
                    v = np.frombuffer(bytes(payload)[off : off + size - size % 2], "<i2")
                    v64 = v.astype(np.int64)
                    av = np.abs(v64)
                    peak = int(av.max()) if len(v) else 0
                    rows.append(
                        (doc_id, len(v), peak, int((v64 * v64).sum()),
                         int((av == peak).sum()) if len(v) else 0)
                    )
                except ValueError:
                    rows.append((doc_id, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_int16", "peak", "sum_sq", "n_at_peak"],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, AUDIO_SAMPLE_SCHEMA)


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
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
                    if len(p) < 54 or p[:2] != b"BM":
                        raise ValueError("not a BMP")
                    off = int.from_bytes(p[10:14], "little")
                    w = int.from_bytes(p[18:22], "little", signed=True)
                    h = int.from_bytes(p[22:26], "little", signed=True)
                    bits = int.from_bytes(p[28:30], "little")
                    if bits != 24 or w <= 0 or h <= 0:
                        raise ValueError("not an uncompressed 24-bit BMP")
                    stride = w * 3 + (4 - (w * 3) % 4) % 4
                    data = np.frombuffer(p[off : off + stride * h], np.uint8)
                    if len(data) < stride * h:
                        raise ValueError("truncated pixel array")
                    px = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                    s = px.astype(np.int64).sum(axis=(0, 1))
                    rows.append(
                        (doc_id, w, h, w * h, int(s[0]), int(s[1]), int(s[2]))
                    )
                except ValueError:
                    rows.append((doc_id, None, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_pixels",
                    "sum_b", "sum_g", "sum_r",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, PIXEL_STATS_SCHEMA)


RESIZE_REAL_SCHEMA = "doc_id long, out_w int, out_h int, digest string"


def resize_bmp_nearest(
    binary_df: DataFrame, out_w: int = 4, out_h: int = 3
) -> DataFrame:
    """Nearest-neighbor resize on TRUE BMP pixels (no codec needed):
    decode the padded pixel grid, sample src_y = r*h // out_h,
    src_x = c*w // out_w per output cell, and emit an order-sensitive
    digest of the sampled B,G,R bytes (md5 over the comma-joined byte
    values in (r, c, ch) order) — scalar and hashable, so a SQL oracle
    that reconstructs the same sampled bytes can pin every pixel the
    resize touched. Corrupt payloads quarantine as NULL rows."""
    import hashlib

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
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
                    px = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                    ys = (np.arange(out_h) * h) // out_h
                    xs = (np.arange(out_w) * w) // out_w
                    sampled = px[np.ix_(ys, xs)]  # (out_h, out_w, 3)
                    joined = ",".join(str(int(v)) for v in sampled.reshape(-1))
                    digest = hashlib.md5(joined.encode()).hexdigest()
                    rows.append((doc_id, out_w, out_h, digest))
                except ValueError:
                    rows.append((doc_id, None, None, None))
            yield pd.DataFrame(rows, columns=["doc_id", "out_w", "out_h", "digest"])

    return binary_df.select("doc_id", "payload").mapInPandas(run, RESIZE_REAL_SCHEMA)


def synth_mp4_samples(
    sample_source: bytes, timescale: int, duration: int, n_samples: int
) -> bytes:
    """ISO BMFF file WITH a real sample table: ftyp + moov(mvhd +
    trak(mdia(minf(stbl(stts, stsc, stsz, stco))))) + mdat. Sample i has
    size (i % 7) + 1; all samples live consecutively in one chunk whose
    stco offset points into the mdat — the exact structures a production
    demuxer walks to find frame boundaries before any codec runs."""
    if not sample_source:
        sample_source = b"\x00"
    sizes = [(i % 7) + 1 for i in range(n_samples)]
    data_size = sum(sizes)
    reps = data_size // len(sample_source) + 1
    data = (sample_source * reps)[:data_size]

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
            chunk_off = 24 + len(moov) + 8  # ftyp is fixed 24 bytes
        stco = _box(
            b"stco",
            (0).to_bytes(4, "big") + (1).to_bytes(4, "big")
            + chunk_off.to_bytes(4, "big"),
        )
        stbl = _box(b"stbl", stts + stsc + stsz + stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", minf)
        trak = _box(b"trak", mdia)
        mvhd_body = (
            (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
            + (0).to_bytes(4, "big") + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big") + (0x00010000).to_bytes(4, "big")
            + (0x0100).to_bytes(2, "big") + bytes(10)
            + b"".join(v.to_bytes(4, "big") for v in
                       (0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000))
            + bytes(24) + (2).to_bytes(4, "big")
        )
        moov = _box(b"moov", _box(b"mvhd", mvhd_body) + trak)
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
    return ftyp + moov + _box(b"mdat", data)


def _walk_children(p: bytes, start: int, end: int):
    i = start
    while i + 8 <= end:
        size = int.from_bytes(p[i : i + 4], "big")
        kind = p[i + 4 : i + 8]
        if size < 8 or i + size > end:
            raise ValueError("corrupt box size")
        yield kind, i + 8, i + size
        i += size


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
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
                    samples = parse_mp4_samples(p)
                    for i, (off, size) in enumerate(samples):
                        if i % every_k:
                            continue
                        joined = ",".join(str(b) for b in p[off : off + size])
                        rows.append(
                            (doc_id, i, size, hashlib.md5(joined.encode()).hexdigest())
                        )
                except ValueError:
                    rows.append((doc_id, None, None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "sample_idx", "size", "digest"]
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, FRAME_INDEX_SCHEMA)


def encode_mp4_samples(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize MP4s WITH sample tables: n % 24 + 1 samples whose data
    cycles the document's text bytes — the ingestion twin of
    :func:`video_frame_index`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = str(text).encode("utf-8")
                n = len(str(text))
                mp4 = synth_mp4_samples(
                    raw, 600 + (n % 5) * 100, (n * 31) % 100_000, n % 24 + 1
                )
                rows.append((doc_id, bytearray(mp4), "video/mp4", len(mp4)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "mime", "n_bytes"])

    return docs.select("doc_id", text_col).mapInPandas(run, MP4_SCHEMA)


DHASH_SCHEMA = "doc_id long, dhash long"


def dhash_bmp(binary_df: DataFrame, rows: int = 7, cols: int = 9) -> DataFrame:
    """Perceptual difference-hash (dHash) on TRUE BMP pixels: decode the
    padded pixel grid, nearest-sample a ``rows x cols`` grayscale
    thumbnail (gray = (B+G+R) // 3, integer), and set one bit per
    horizontal neighbor pair (right > left), bit position
    ``r * (cols-1) + c``. 7x9 gives 56 bits — always below the int64
    sign bit, so an external engine's shift arithmetic agrees.

    dHash survives re-encoding/resize, which byte-level hashing does not
    — this is the image twin of SimHash for near-dup detection. Runs as
    Arrow-batched mapInPandas (one numpy pass per image); emits one long
    per image, so the downstream banding join shuffles 8 bytes per image
    regardless of resolution. Corrupt payloads quarantine as NULL.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
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
                    px = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                    # positive-height BMPs store scanlines bottom-up; flip
                    # so thumbnail row 0 is the IMAGE's top row and the
                    # hash matches a standard dHash fed the same image
                    px = px[::-1]
                    ys = (np.arange(rows) * h) // rows
                    xs = (np.arange(cols) * w) // cols
                    gray = px[np.ix_(ys, xs)].astype(np.int64).sum(axis=2) // 3
                    bits = gray[:, 1:] > gray[:, :-1]  # (rows, cols-1)
                    val = 0
                    for r in range(rows):
                        for c in range(cols - 1):
                            if bits[r, c]:
                                val |= 1 << (r * (cols - 1) + c)
                    out.append((doc_id, val))
                except ValueError:
                    out.append((doc_id, None))
            yield pd.DataFrame(out, columns=["doc_id", "dhash"])

    return binary_df.select("doc_id", "payload").mapInPandas(run, DHASH_SCHEMA)


def dhash_near_pairs(
    hashes: DataFrame,
    bands: int = 4,
    band_bits: int = 14,
    max_hamming: int = 6,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate image pairs (id_a, id_b, hamming) from dHash values:
    :func:`similarity.banded_hamming_pairs` pairs hashes that agree on one
    of ``bands`` ``band_bits``-bit slices (buckets above ``max_bucket``
    dropped, as in the text LSH paths; NULL hashes never paired) and keeps
    those within ``max_hamming`` bits. Finding every such pair is
    guaranteed only when max_hamming < bands (pigeonhole) and the slices
    cover the hash; at the defaults (4 bands, max_hamming 6) a pair whose
    differing bits touch all four bands is missed.
    """
    return banded_hamming_pairs(
        hashes, "doc_id", "dhash", bands, band_bits, max_hamming, max_bucket
    )


def synth_png(
    pixel_source: bytes, width: int, height: int, filter_type: int = 0
) -> bytes:
    """Construct a VALID 8-bit RGB PNG: signature, IHDR, one zlib IDAT,
    IEND — correct CRCs throughout, decodable by any viewer. Pixel bytes
    cycle ``pixel_source`` in scanline order; ``filter_type`` 0 (None)
    or 1 (Sub) exercises the decoder's unfilter path."""
    import struct
    import zlib

    if not pixel_source:
        pixel_source = b"\x00"
    row_bytes = width * 3
    need = row_bytes * height
    reps = need // len(pixel_source) + 1
    raw = (pixel_source * reps)[:need]
    lines = []
    for r in range(height):
        line = bytearray(raw[r * row_bytes : (r + 1) * row_bytes])
        if filter_type == 1:  # Sub: delta vs the pixel 3 bytes left
            for i in range(row_bytes - 1, 2, -1):
                line[i] = (line[i] - line[i - 3]) & 0xFF
        lines.append(bytes([filter_type]) + bytes(line))
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

    Returns an (h, w, 3) uint8 array. Pure numpy + the spec's Paeth
    predictor — no imaging library."""
    import numpy as np

    row_bytes = width * 3
    out = np.zeros((height, row_bytes), dtype=np.uint8)
    pos = 0
    for r in range(height):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos : pos + row_bytes], np.uint8).astype(np.int32)
        pos += row_bytes
        prev = out[r - 1].astype(np.int32) if r > 0 else np.zeros(row_bytes, np.int32)
        cur = np.zeros(row_bytes, dtype=np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need a left-scan
            for i in range(row_bytes):
                a = cur[i - 3] if i >= 3 else 0
                b = prev[i]
                if ft == 1:
                    v = line[i] + a
                elif ft == 3:
                    v = line[i] + (a + b) // 2
                else:
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[i] + pred
                cur[i] = v & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[r] = cur.astype(np.uint8)
    return out.reshape(height, width, 3)


def decode_png_pixels(binary_df: DataFrame) -> DataFrame:
    """TRUE pixel decode for 8-bit RGB PNG using only the standard
    library's zlib: walk the chunk stream (validating each CRC),
    concatenate IDAT, inflate, reverse scanline filters (all five spec
    types), and fold per-channel (R, G, B) sums in numpy. This is a real
    COMPRESSED-codec decode — the entropy-coded step BMP/WAV never
    exercised — with no imaging dependency. Corrupt payloads quarantine
    as NULL rows. Emits the same stats schema as decode_bmp_pixels
    (channel order documented per format)."""
    import struct
    import zlib

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
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
                    px = _png_unfilter(raw, w, h)
                    s = px.astype(np.int64).sum(axis=(0, 1))
                    # PNG stores R,G,B — map into the shared stats schema's
                    # (sum_b, sum_g, sum_r) slots by channel NAME
                    rows.append(
                        (doc_id, w, h, w * h, int(s[2]), int(s[1]), int(s[0]))
                    )
                except (ValueError, zlib.error, struct.error):
                    rows.append((doc_id, None, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_pixels",
                    "sum_b", "sum_g", "sum_r",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, PIXEL_STATS_SCHEMA)


def encode_png(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a REAL PNG column: each document's text becomes the
    pixel bytes of a valid zlib-compressed 8-bit RGB PNG (width/height
    derived from n_chars like encode_bmp)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                raw = str(text).encode("utf-8")
                png = synth_png(raw, len(str(text)) % 48 + 1, len(str(text)) % 32 + 1)
                rows.append((doc_id, bytearray(png), "image/png", len(png)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "mime", "n_bytes"])

    return docs.select("doc_id", text_col).mapInPandas(run, BMP_SCHEMA)


def video_scene_cuts(binary_df: DataFrame, threshold: int = 32) -> DataFrame:
    """Scene-cut detection plumbing on the REAL sample table: every
    sample's bytes are located via stsz/stco (:func:`video_frame_index`
    with ``every_k=1``), digested, and consecutive samples compared by
    the Hamming distance of their 60-bit digest prefixes — a jump above
    ``threshold`` bits marks a content discontinuity (the shot-boundary
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
    idx = video_frame_index(binary_df, every_k=1).filter(
        F.col("sample_idx").isNotNull()
    )
    sig = F.conv(F.substring("digest", 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("doc_id").orderBy("sample_idx")
    jumps = (
        idx.withColumn("sig", sig)
        .withColumn(
            "dist",
            F.bit_count(F.col("sig").bitwiseXOR(F.lag("sig").over(w))),
        )
    )
    return jumps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_samples"),
        F.sum(
            F.when(F.col("dist") >= threshold, 1).otherwise(0)
        ).cast("long").alias("n_cuts"),
        F.coalesce(F.max("dist"), F.lit(0)).cast("int").alias("max_jump"),
    )


def video_keyframes(binary_df: DataFrame, threshold: int = 32) -> DataFrame:
    """Scene segmentation + keyframe selection on the REAL sample table:
    samples partition into scenes at every digest jump >= ``threshold``
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
    idx = video_frame_index(binary_df, every_k=1).filter(
        F.col("sample_idx").isNotNull()
    )
    sig = F.conv(F.substring("digest", 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("doc_id").orderBy("sample_idx")
    jumps = (
        idx.withColumn("sig", sig)
        .withColumn(
            "dist",
            F.bit_count(F.col("sig").bitwiseXOR(F.lag("sig").over(w))),
        )
        .withColumn(
            "scene_id",
            F.sum(
                F.when(F.col("dist") >= threshold, 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
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


ENERGY_SHINGLE_SCHEMA = "doc_id long, g string"


def audio_energy_shingles(binary_df: DataFrame, window: int = 64) -> DataFrame:
    """(doc_id, g): per-window energy shingles of a PCM stream — the
    audio counterpart of the video sample digests (video_frame_index):
    the int16 stream splits into fixed windows, each window's EXACT
    int64 energy (sum of squares) quantizes to its TOP-6-BIT bucket
    ((energy+1) >> (bit_length-6) — a ~1.5%-tolerance loudness level in
    pure integer arithmetic any engine reproduces), and the shingle is
    "window_idx:bucket". Feed the set into prefix_jaccard_pairs for
    exact audio near-dup detection; only (long, short-string) rows leave
    the Arrow decode — PCM bytes never shuffle. Corrupt payloads drop.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_g = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    off, size = _wav_data_span(bytes(payload))
                except ValueError:
                    continue
                v = np.frombuffer(
                    bytes(payload)[off : off + size - size % 2], "<i2"
                ).astype(np.int64)
                for widx in range(0, (len(v) + window - 1) // window):
                    chunk = v[widx * window : (widx + 1) * window]
                    energy = int((chunk * chunk).sum())
                    out_ids.append(doc_id)
                    b = (energy + 1).bit_length()
                    bucket = (energy + 1) >> max(b - 6, 0)
                    out_g.append(f"{widx}:{b}:{bucket}")
            yield pd.DataFrame({"doc_id": out_ids, "g": out_g})

    return binary_df.select("doc_id", "payload").mapInPandas(
        run, ENERGY_SHINGLE_SCHEMA
    )


AUDIO_FRAME_SCHEMA = "doc_id long, frame_idx long, n int, sum_sq long"


def decode_audio_frame_energy(
    binary_df: DataFrame, frame_len: int = 64
) -> DataFrame:
    """Frame-level PCM energy decode: locate each WAV's data chunk,
    reinterpret it as little-endian int16, slice the flat sample stream
    into ``frame_len``-sample frames (last frame may be partial), and
    emit exact integers (frame_idx, n, sum_sq) per frame — the substrate
    for energy-threshold voice-activity detection. Arrow-batched
    mapInPandas with numpy int64 arithmetic, same decode core as
    :func:`decode_audio_samples`; corrupt payloads contribute no frames
    (quarantine-by-absence, the 100 TB rule)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            fidx: list = []
            ns: list = []
            ss: list = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    off, size = _wav_data_span(bytes(payload))
                except ValueError:
                    continue
                v = np.frombuffer(
                    bytes(payload)[off : off + size - size % 2], "<i2"
                ).astype(np.int64)
                for f in range((len(v) + frame_len - 1) // frame_len):
                    seg = v[f * frame_len : (f + 1) * frame_len]
                    ids.append(doc_id)
                    fidx.append(f)
                    ns.append(len(seg))
                    ss.append(int((seg * seg).sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fidx, "n": ns, "sum_sq": ss}
            )

    return binary_df.select("doc_id", "payload").mapInPandas(
        run, AUDIO_FRAME_SCHEMA
    )


BYTE_HIST_SCHEMA = "doc_id long, val int, c long"


def decode_bmp_byte_histogram(binary_df: DataFrame) -> DataFrame:
    """Per-image byte-value histogram over the TRUE decoded pixel array
    (same header/stride/padding walk as :func:`decode_bmp_pixels`):
    (doc_id, val, c) for every byte value present — the substrate for
    entropy/uniformity image-quality signals. numpy bincount per
    payload, Arrow-batched; corrupt payloads contribute no rows."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            vals: list = []
            cs: list = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
                    if len(p) < 54 or p[:2] != b"BM":
                        raise ValueError("not a BMP")
                    off = int.from_bytes(p[10:14], "little")
                    w = int.from_bytes(p[18:22], "little", signed=True)
                    h = int.from_bytes(p[22:26], "little", signed=True)
                    bits = int.from_bytes(p[28:30], "little")
                    if bits != 24 or w <= 0 or h <= 0:
                        raise ValueError("not an uncompressed 24-bit BMP")
                    stride = w * 3 + (4 - (w * 3) % 4) % 4
                    data = np.frombuffer(p[off : off + stride * h], np.uint8)
                    if len(data) < stride * h:
                        raise ValueError("truncated pixel array")
                except ValueError:
                    continue
                flat = data.reshape(h, stride)[:, : w * 3].ravel()
                cnt = np.bincount(flat, minlength=256)
                nz = np.nonzero(cnt)[0]
                ids.extend([doc_id] * len(nz))
                vals.extend(int(x) for x in nz)
                cs.extend(int(cnt[x]) for x in nz)
            yield pd.DataFrame({"doc_id": ids, "val": vals, "c": cs})

    return binary_df.select("doc_id", "payload").mapInPandas(
        run, BYTE_HIST_SCHEMA
    )


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
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
                    if len(p) < 54 or p[:2] != b"BM":
                        raise ValueError("not a BMP")
                    off = int.from_bytes(p[10:14], "little")
                    w = int.from_bytes(p[18:22], "little", signed=True)
                    h = int.from_bytes(p[22:26], "little", signed=True)
                    bits = int.from_bytes(p[28:30], "little")
                    if bits != 24 or w <= 0 or h <= 0:
                        raise ValueError("not an uncompressed 24-bit BMP")
                    stride = w * 3 + (4 - (w * 3) % 4) % 4
                    data = np.frombuffer(p[off : off + stride * h], np.uint8)
                    if len(data) < stride * h:
                        raise ValueError("truncated pixel array")
                except ValueError:
                    rows.append((doc_id, None, None, None, None, None))
                    continue
                px = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                g = px.astype(np.int64).sum(axis=2)
                if h < 3 or w < 3:
                    rows.append((doc_id, w, h, 0, 0, 0))
                    continue
                lap = (
                    4 * g[1:-1, 1:-1]
                    - g[:-2, 1:-1]
                    - g[2:, 1:-1]
                    - g[1:-1, :-2]
                    - g[1:-1, 2:]
                )
                rows.append(
                    (
                        doc_id, w, h, int(lap.size),
                        int(lap.sum()), int((lap * lap).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_interior",
                    "sum_lap", "sum_lap2",
                ],
            )

    return binary_df.select("doc_id", "payload").mapInPandas(
        run, LAPLACIAN_SCHEMA
    )


#: Q15 fixed-point DFT tables for the probe-tone detector: 64-sample
#: frame, probe bins 1/2/3/5 cycles-per-frame. The SAME integers are
#: embedded as literals in the SQL oracle, so trig never crosses an
#: engine boundary — this is the classic fixed-point DSP trick (Q15
#: twiddle factors), used here for bit-exactness rather than for lack
#: of an FPU.
TONE_FRAME = 64
TONE_BINS = (1, 2, 3, 5)


def _tone_table() -> list[tuple[int, int, int, int]]:
    import math

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


TONE_SCHEMA = "doc_id long, n_frames long, bin int, power long"


def audio_tone_power_q15(binary_df: DataFrame) -> DataFrame:
    """Per-payload probe-frequency DFT power over REAL decoded PCM in
    Q15 fixed point — the tone/hum detector audio curation runs to flag
    test signals, dial tones and mains hum before transcription spend.
    Per complete 64-sample frame and probe bin k: re = sum(x * cos_q15),
    im = sum(x * -sin_q15) (exact int64: |x| <= 2^15, twiddle <= 2^15,
    64 terms -> |re| <= 2^36), quantized by an arithmetic >> 15 (floor),
    then power = re_q^2 + im_q^2 summed over frames (<= 2^43 per frame
    — int64-safe to ~2 million frames). Emits one row per (payload,
    bin); payloads with fewer than 64 samples emit nothing (no complete
    frame). Corrupt payloads quarantine silently."""
    import numpy as np

    tbl = _tone_table()
    C = np.array(
        [[c for (k, n, c, s) in tbl if k == kk] for kk in TONE_BINS], np.int64
    )
    S = np.array(
        [[s for (k, n, c, s) in tbl if k == kk] for kk in TONE_BINS], np.int64
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    off, size = _wav_data_span(bytes(payload))
                except ValueError:
                    continue
                v = np.frombuffer(
                    bytes(payload)[off : off + size - size % 2], "<i2"
                ).astype(np.int64)
                nf = len(v) // TONE_FRAME
                if nf == 0:
                    continue
                frames = v[: nf * TONE_FRAME].reshape(nf, TONE_FRAME)
                req = (frames @ C.T) >> 15  # arithmetic shift = floor
                imq = (frames @ S.T) >> 15
                pw = (req * req + imq * imq).sum(axis=0)
                for kk, p in zip(TONE_BINS, pw):
                    rows.append((doc_id, nf, kk, int(p)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "bin", "power"]
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, TONE_SCHEMA)


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
    import numpy as np

    tbl = _tone_table()
    C = np.array(
        [[c for (k, n, c, s) in tbl if k == kk] for kk in TONE_BINS], np.int64
    )
    S = np.array(
        [[s for (k, n, c, s) in tbl if k == kk] for kk in TONE_BINS], np.int64
    )
    binval = np.array([7 - kk for kk in TONE_BINS], np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    off, size = _wav_data_span(bytes(payload))
                except ValueError:
                    continue
                v = np.frombuffer(
                    bytes(payload)[off : off + size - size % 2], "<i2"
                ).astype(np.int64)
                nf = len(v) // TONE_FRAME
                if nf == 0:
                    continue
                frames = v[: nf * TONE_FRAME].reshape(nf, TONE_FRAME)
                req = (frames @ C.T) >> 15
                imq = (frames @ S.T) >> 15
                pw = req * req + imq * imq  # (nf, n_bins)
                enc = (pw * 8 + binval[None, :]).max(axis=1)
                for fi in range(nf):
                    e = int(enc[fi])
                    rows.append((doc_id, fi, 7 - e % 8, e // 8))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fi", "peak_bin", "peak_power"]
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, PEAK_SCHEMA)


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


def audio_fingerprint_match(
    corpus_landmarks: DataFrame,
    probe_landmarks: DataFrame,
    top_k: int = 3,
    max_docs_per_landmark: int = 64,
) -> DataFrame:
    """(probe_doc, matched_doc, offset, votes, rank): Shazam-style
    constellation matching — probes join the corpus landmark INDEX on
    the landmark hash, votes accumulate per (probe, candidate, time
    offset), and a genuine match shows as a vote spike at ONE offset
    (random collisions smear across offsets). The landmark-frequency cap
    drops stop-landmarks appearing in more than ``max_docs_per_landmark``
    distinct docs — the same bounded-bucket discipline as every LSH join
    here: a degenerate common landmark cannot explode the candidate
    join, and dropped mass only costs votes a true match has in excess.

    Shuffles: the cap count (one groupBy on l), the hash join on l, the
    vote groupBy, the per-probe top-k window — all keyed; nothing
    all-pairs.
    """
    freq = corpus_landmarks.groupBy("l").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    idx = corpus_landmarks.join(
        freq.filter(F.col("nd") <= max_docs_per_landmark).select("l"), "l"
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
        .filter(F.col("rank") <= top_k)
        .select("probe_doc", "matched_doc", "offset", "votes", "rank")
    )


def _dct8_table() -> list[tuple[int, int, int]]:
    """(u, x, q15) DCT-II basis literals: round(cos(pi*(2x+1)*u/16) *
    32768) — shared verbatim between the numpy kernel and the SQL
    oracle, the same fixed-point-literal convention as _tone_table."""
    import math

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
    import numpy as np

    tbl = _dct8_table()
    T = np.zeros((8, 8), np.int64)
    for u, x, q in tbl:
        T[u, x] = q

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                try:
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
                    px = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                    px = px[::-1]  # bottom-up scanlines -> image order
                    gray = px.astype(np.int64).sum(axis=2) // 3
                    ys = (np.arange(h) * 8) // h
                    xs = (np.arange(w) * 8) // w
                    cells = np.zeros((8, 8), np.int64)
                    sums = np.zeros((8, 8), np.int64)
                    cnts = np.zeros((8, 8), np.int64)
                    np.add.at(sums, (ys[:, None], xs[None, :]), gray)
                    np.add.at(
                        cnts,
                        (ys[:, None], xs[None, :]),
                        np.ones_like(gray),
                    )
                    nz = cnts > 0
                    cells[nz] = sums[nz] // cnts[nz]
                    C = T @ cells @ T.T  # exact int64
                    ac = np.delete(C.reshape(-1), 0)  # drop DC
                    med = np.sort(ac)[31]  # lower median of 63
                    bits = ac > med
                    val = 0
                    for k in range(63):
                        if bits[k]:
                            val |= 1 << k
                    out.append((doc_id, val, int(bits.sum())))
                except ValueError:
                    out.append((doc_id, None, None))
            yield pd.DataFrame(out, columns=["doc_id", "phash", "n_above"])

    return binary_df.select("doc_id", "payload").mapInPandas(run, PHASH_SCHEMA)
