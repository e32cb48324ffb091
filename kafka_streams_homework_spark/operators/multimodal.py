"""Multimodal-column plumbing (north-star §7).

Image/audio/video payloads are opaque `binary` columns with typed
metadata alongside. The Spark-side contract is real and tested:

- schema: (id, media_type, payload binary, meta struct)
- decode/feature-extract runs as `mapInPandas` — Arrow-batched, one
  Python worker per partition, never a Python call per Spark row. Every
  per-row body (codec, synthesizer, per-document feature) goes through
  `per_row`, the one batch loop; only whole-column pandas bodies
  (`decode_stub`, `resize_thumbs`, `decode_and_resize`) keep their own;
- every media class the engine models now has a REAL byte-level codec
  (rounds 5-6, no third-party libraries): audio = stdlib `wave`
  RIFF/PCM, image = zlib/CRC32 PNG + a general ITU T.81 baseline JPEG
  (float DCT, Annex-K tables, canonical Huffman), video = MJPEG in a
  spec-conformant RIFF/AVI container demuxed chunk-by-chunk.
  `decode_stub` remains as the cheap deterministic stand-in for
  plumbing-only queries. Inter-frame video codecs (H.264/VP9: motion
  compensation + CABAC need a codec library) are out of scope.

Scale design: binary payloads dominate the bytes — the pipeline keeps
them in place (no shuffle touches `payload`; metadata extraction is a
narrow map), and any groupBy downstream operates on the extracted
metadata columns only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def per_row(df: DataFrame, cols: list[str], fn, schema) -> DataFrame:
    """Run a per-row Python body over Arrow batches: the one
    `mapInPandas` loop for row-at-a-time work.

    Selects ``cols`` and calls ``fn(*row)`` on each row of each Arrow
    batch. ``fn`` is a generator yielding zero or more output tuples in
    ``schema``'s field order. A batch's tuples go back as one frame with
    positional column labels: Spark assigns them to ``schema``'s fields
    by position and casts each to its declared type, so callers write
    neither column names nor dtypes. A batch that yields nothing is a
    frame with no columns, which Spark reads as zero rows of ``schema``.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = zip(*(pdf[c] for c in cols))
            yield pd.DataFrame([out for row in rows for out in fn(*row)])

    return df.select(*cols).mapInPandas(run, schema)


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def to_media(documents: DataFrame) -> DataFrame:
    """Wrap documents as a media table: payload = utf-8 bytes of text.

    Stand-in for reading real blobs; the binary column plumbing
    (schema, Arrow transfer, partition shape) is identical.
    """
    return documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/png"))
        .otherwise(F.lit("audio/wav"))
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def decode_stub(media: DataFrame) -> DataFrame:
    """'Decode' payloads via mapInPandas with a deterministic fake codec.

    The fake derives (width, height) from payload length only, so the
    result is oracle-checkable in SQL (octet_length arithmetic) while
    exercising the real Arrow batch path a true decoder would use.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n.astype("int64"),
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                }
            )

    return media.mapInPandas(decode, DECODED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("byte_offset", LongType()),
        StructField("frame_bytes", LongType()),
    ]
)

FRAME_SIZE = 256
MAX_FRAMES = 8


def frame_sample(media: DataFrame) -> DataFrame:
    """Sample fixed-stride 'frames' from each payload via mapInPandas.

    The variable-fanout shape of real video frame sampling (one input
    row → N output rows) with a deterministic stand-in codec: frames
    are FRAME_SIZE-byte strides, capped at MAX_FRAMES per payload. A
    real implementation swaps the stride arithmetic for
    cv2.VideoCapture frame grabs — the Spark plumbing (Arrow batches
    in, exploded frame rows out, payload never shuffled) is identical.

    Scale: output rows carry only metadata (offsets), never the frame
    bytes themselves — at 100 TB the frames would be written as their
    own binary column partitioned by doc_id, keeping the fanout narrow.
    """

    def sample(doc_id, mtype, payload):
        n = len(payload)
        for i in range(min(max(n // FRAME_SIZE, 1), MAX_FRAMES)):
            off = i * FRAME_SIZE
            yield doc_id, mtype, i, off, min(FRAME_SIZE, n - off)

    return per_row(
        media, ["doc_id", "media_type", "payload"], sample, FRAME_SCHEMA
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("thumb_w", IntegerType()),
        StructField("thumb_h", IntegerType()),
    ]
)

THUMB_MAX = 64


def resize_thumbs(decoded: DataFrame) -> DataFrame:
    """Aspect-preserving thumbnail dims via mapInPandas.

    Consumes decode output (width/height), emits the fit-into-
    THUMB_MAX box: scale = THUMB_MAX / max(w, h) when larger, else 1.
    A real implementation replaces the arithmetic with
    PIL.Image.thumbnail over the payload — batch shape identical; the
    dims math is the oracle-checkable stand-in.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].clip(lower=1)
            h = pdf["height"].clip(lower=1)
            m = pd.concat([w, h], axis=1).max(axis=1)
            scale = (THUMB_MAX / m).clip(upper=1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "thumb_w": (w * scale).astype("int32"),
                    "thumb_h": (h * scale).astype("int32"),
                }
            )

    return decoded.mapInPandas(resize, RESIZE_SCHEMA)


def decode_and_resize(media: DataFrame) -> DataFrame:
    """Fused decode∘resize: ONE mapInPandas (one Python crossing).

    Chaining decode_stub → resize_thumbs costs two Arrow
    serialize/deserialize round-trips per batch; since resize consumes
    only decode's output columns, both steps fuse into a single Python
    worker pass (in a real pipeline: PIL decode + thumbnail in the same
    function, payload read once). The separate operators remain for
    composability; this is what the pipeline query runs.
    """

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            w = (n % 640).clip(lower=1)
            h = (n % 480).clip(lower=1)
            m = pd.concat([w, h], axis=1).max(axis=1)
            scale = (THUMB_MAX / m).clip(upper=1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "thumb_w": (w * scale).astype("int32"),
                    "thumb_h": (h * scale).astype("int32"),
                }
            )

    return media.mapInPandas(fused, RESIZE_SCHEMA)


CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("chunk", BinaryType()),
    ]
)

CHUNK_SIZE = 256
MIN_CHUNK = 64


def audio_chunks(media: DataFrame) -> DataFrame:
    """Fixed-size audio chunking: slice each audio payload into
    CHUNK_SIZE-byte frames (trailing fragment kept only when >=
    MIN_CHUNK bytes) — the segmentation step every ASR/audio-embedding
    pipeline runs before batching into a model, expressed as the
    standard Arrow hatch: payload bytes cross into Python ONCE per
    batch, chunks come back as a binary column, and nothing else about
    the corpus shuffles.

    Unlike the decode stub, nothing here is faked: the byte slicing IS
    the real operation (a PCM chunker is exactly this arithmetic; a
    real pipeline would only add sample-rate-aware stride math). The
    emitted chunk bytes make the op oracle-checkable end-to-end —
    base64(chunk) is compared against the oracle's char-sliced
    reconstruction, exact because the fixture corpus is pure ASCII
    (byte == char; asserted per-SF in the repo, documented in the
    query registration).

    Scale: output bytes ~= input bytes (a repartition of the payload
    column, not a blowup); chunk rows inherit the input partitioning,
    so downstream per-chunk feature extraction is embarrassingly
    parallel. MIN_CHUNK mirrors the real-world drop of sub-frame
    tails.
    """

    def chunk(doc_id, payload):
        b = bytes(payload)
        for i in range(0, len(b), CHUNK_SIZE):
            c = b[i : i + CHUNK_SIZE]
            if len(c) < MIN_CHUNK:
                break
            yield doc_id, i // CHUNK_SIZE, len(c), c

    return per_row(
        media.filter(F.col("media_type") == "audio/wav"),
        ["doc_id", "payload"],
        chunk,
        CHUNK_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Real WAV codec path (round 5): the engine takes no third-party codec
# library (PIL, cv2, soundfile, av), but Python's STDLIB `wave` module
# is a real RIFF/PCM codec — so the "media decode" gap closes for audio/wav
# with genuine bytes and a genuine parser, no fake codec involved.
# ---------------------------------------------------------------------------

WAV_SR = 8000
WAV_PERIOD = 8  # samples per sine period -> peak lands ON a sample

WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", DoubleType()),
        StructField("peak", IntegerType()),
        StructField("rms", DoubleType()),
    ]
)


def _wav_bytes(signal) -> bytes:
    """A PCM16 mono WAV at WAV_SR of a float ``signal``, quantized
    round-half-up (floor(x + 0.5)) so every byte is closed-form."""
    import io
    import wave as wavmod

    import numpy as np

    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SR)
        w.writeframes(np.floor(signal + 0.5).astype("<i2").tobytes())
    return buf.getvalue()


def synth_wav(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL PCM16 mono WAV per document (stdlib `wave`).

    Deterministic per doc_id: amplitude A = 1000 + (doc_id % 20)*1000,
    n_frames = 8 * (1 + doc_id % 50) (whole sine periods at 8
    samples/period, sr 8000). Samples quantize with round-half-up
    (floor(x + 0.5)) so every byte is reproducible arithmetic — which
    is what lets the downstream features be ORACLE-HASH-CHECKED in
    SQL even though DuckDB cannot parse RIFF. The payloads are true
    WAV files (RIFF header, fmt/data chunks) playable by any reader.
    """
    import numpy as np

    def gen(doc_id):
        amp = 1000 + (doc_id % 20) * 1000
        k = np.arange(WAV_PERIOD * (1 + doc_id % 50), dtype="float64")
        yield doc_id, _wav_bytes(amp * np.sin(2.0 * np.pi * k / WAV_PERIOD))

    return per_row(documents, ["doc_id"], gen, "doc_id long, payload binary")


def wav_decode(media: DataFrame) -> DataFrame:
    """REAL decode: parse the RIFF container with stdlib `wave` and
    compute signal features from the PCM samples themselves.

    Same Arrow-batched mapInPandas shape as decode_stub, but nothing
    is faked: header fields (channels / rate / frames) come from the
    parser, peak and RMS from the decoded int16 waveform. Sample
    sums stay < 2^53 (A <= 20000, <= 400 frames), so the float64 RMS
    is exact arithmetic — reproducible down to the hash.
    """
    import io
    import wave as wavmod

    import numpy as np

    def dec(doc_id, payload):
        w = wavmod.open(io.BytesIO(bytes(payload)))
        nch, sr, nf = w.getnchannels(), w.getframerate(), w.getnframes()
        data = np.frombuffer(w.readframes(nf), dtype="<i2").astype("float64")
        yield (
            doc_id, nch, sr, nf, nf * 1000.0 / sr,
            int(np.max(np.abs(data))), float(np.sqrt(np.mean(data * data))),
        )

    return per_row(media, ["doc_id", "payload"], dec, WAV_FEATURES_SCHEMA)


def synth_wav_bursty(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL PCM16 WAV with speech-like loud/quiet bursts.

    Same deterministic discipline as `synth_wav` (round-half-up
    quantization, whole 8-sample sine periods, sr 8000), but the
    amplitude is gated per frame so the clip alternates "speech"
    bursts with low-level background: frame j (one sine period) is
    LOUD (A = 1000 + (doc_id % 20)*1000) iff (j % P) < D with
    P = 3 + doc_id % 3 and D = 1 + doc_id % 2, else QUIET at
    A // 16. Frame 0 is always loud, so the clip peak equals A and a
    downstream detector can derive its threshold from the signal
    itself. Every byte stays closed-form arithmetic (verified: frame
    energy == 4r² + 2a² exactly for all amp/quiet-amp pairs), which
    is what lets `audio_vad`'s segments be oracle-hash-checked.
    """
    import numpy as np

    def gen(doc_id):
        n_fr = 1 + doc_id % 50
        amp = 1000 + (doc_id % 20) * 1000
        per, duty = 3 + doc_id % 3, 1 + doc_id % 2
        j = np.arange(n_fr)
        amps = np.where((j % per) < duty, amp, amp // 16)
        k = np.arange(WAV_PERIOD * n_fr, dtype="float64")
        gain = np.repeat(amps, WAV_PERIOD).astype("float64")
        yield doc_id, _wav_bytes(gain * np.sin(2.0 * np.pi * k / WAV_PERIOD))

    return per_row(documents, ["doc_id"], gen, "doc_id long, payload binary")


WAV_FRAME_SCHEMA = (
    "doc_id long, frame_idx long, energy long, peak long"
)


def wav_frame_energy(media: DataFrame) -> DataFrame:
    """REAL framed energy analysis: parse the RIFF payload, window the
    decoded int16 PCM into 8-sample frames, and emit one row per frame
    with its exact integer energy (sum of squared samples — int64 is
    exact: |x| <= 20000, 8 samples) plus the clip peak for
    self-referential thresholding. The frames come from one numpy
    reshape per payload inside the Arrow batch, and the payload bytes
    never shuffle — only the small (doc, frame, energy) rows leave the
    stage.
    """
    import io
    import wave as wavmod

    import numpy as np

    def dec(doc_id, payload):
        w = wavmod.open(io.BytesIO(bytes(payload)))
        nf = w.getnframes()
        data = np.frombuffer(w.readframes(nf), dtype="<i2").astype("int64")
        frames = data[: (nf // WAV_PERIOD) * WAV_PERIOD].reshape(-1, WAV_PERIOD)
        peak = int(np.max(np.abs(data))) if nf else 0
        for i, energy in enumerate((frames * frames).sum(axis=1).tolist()):
            yield doc_id, i, energy, peak

    return per_row(media, ["doc_id", "payload"], dec, WAV_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real PNG codec path (round 5): zlib — the actual compression layer
# of PNG — is stdlib too, and the PNG container (chunks + CRC32 +
# scanline filters) is pure struct arithmetic. A minimal but genuine
# grayscale-8 PNG encoder/decoder closes the IMAGE leg of real media
# decoding the same way `wave` closed the audio leg: real
# bytes, real inflate, real unfiltering, real CRC integrity checks.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

PNG_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("color_type", IntegerType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib as z

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", z.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_gray8(pixels) -> bytes:
    """Spec-conformant grayscale-8 PNG encoder (stdlib only).

    ``pixels`` is an H x W uint8 array. Scanline filters rotate
    through all five spec filter types (None/Sub/Up/Average/Paeth,
    filter = y % 5) so a decoder must implement real unfiltering —
    no shortcut survives the round-trip test.
    """
    import struct
    import zlib as z

    h, w = len(pixels), len(pixels[0])
    raw = bytearray()
    zero = [0] * w
    for y in range(h):
        row = [int(v) for v in pixels[y]]
        prev = [int(v) for v in pixels[y - 1]] if y else zero
        t = y % 5
        raw.append(t)
        for x in range(w):
            a = row[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if t == 0:
                f = row[x]
            elif t == 1:
                f = row[x] - a
            elif t == 2:
                f = row[x] - b
            elif t == 3:
                f = row[x] - (a + b) // 2
            else:
                f = row[x] - _paeth(a, b, c)
            raw.append(f & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", z.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_gray8(data: bytes):
    """Real PNG decode: chunk walk with CRC32 verification, zlib
    inflate, and full 5-filter scanline reconstruction. Returns
    (width, height, bit_depth, color_type, pixels as list of rows).
    """
    import struct
    import zlib as z

    if bytes(data[:8]) != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, idat, meta = 8, bytearray(), None
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        body = bytes(data[pos + 8 : pos + 8 + ln])
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + ln : pos + 12 + ln]
        )
        if z.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            meta = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if meta is None:
        raise ValueError("no IHDR chunk")
    w, h, depth, ctype = meta[0], meta[1], meta[2], meta[3]
    if (depth, ctype) != (8, 0):
        raise ValueError("minimal decoder: grayscale-8 only")
    raw = z.decompress(bytes(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("bad scanline payload length")
    out, prev = [], [0] * w
    for y in range(h):
        t = raw[y * (w + 1)]
        line = raw[y * (w + 1) + 1 : (y + 1) * (w + 1)]
        row: list[int] = []
        for x in range(w):
            a = row[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            f = line[x]
            if t == 0:
                v = f
            elif t == 1:
                v = f + a
            elif t == 2:
                v = f + b
            elif t == 3:
                v = f + (a + b) // 2
            elif t == 4:
                v = f + _paeth(a, b, c)
            else:
                raise ValueError(f"unknown filter type {t}")
            row.append(v & 0xFF)
        out.append(row)
        prev = row
    return w, h, depth, ctype, out


def synth_png(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL grayscale PNG per document.

    Deterministic per doc_id: W = 16 + doc_id % 16, H = 16 + doc_id
    % 8, pixel(x, y) = (7x + 13y + doc_id) % 256 — closed-form, so
    the decoded mean pixel is ORACLE-recomputable in SQL via a
    lateral range() grid, even though DuckDB cannot inflate PNGs.
    """

    def gen(doc_id):
        w, h = 16 + doc_id % 16, 16 + doc_id % 8
        px = [[(7 * x + 13 * y + doc_id) % 256 for x in range(w)] for y in range(h)]
        yield doc_id, encode_png_gray8(px)

    return per_row(documents, ["doc_id"], gen, "doc_id long, payload binary")


def png_decode(media: DataFrame) -> DataFrame:
    """Arrow-batched real PNG decode: CRC-checked chunk walk, zlib
    inflate, 5-filter unfiltering; mean pixel from the reconstructed
    bitmap (integer-exact float64 sum / (W*H) — bit-identical to the
    oracle's integer avg)."""

    def dec(doc_id, payload):
        w, h, depth, ctype, px = decode_png_gray8(bytes(payload))
        yield doc_id, w, h, depth, ctype, sum(sum(r) for r in px) / (w * h)

    return per_row(media, ["doc_id", "payload"], dec, PNG_FEATURES_SCHEMA)


def _block_pool(px, w: int, h: int):
    """8x8 block sums and pixel counts of a decoded bitmap: pixel (x, y)
    joins block (x*8//w, y*8//h) — an exact integer partition, no
    resampler. Returns (bsum, npix), each 8 rows of 8."""
    bsum = [[0] * 8 for _ in range(8)]
    npix = [[0] * 8 for _ in range(8)]
    for y in range(h):
        row = px[y]
        by = y * 8 // h
        for x in range(w):
            bx = x * 8 // w
            bsum[by][bx] += row[x]
            npix[by][bx] += 1
    return bsum, npix


def png_ahash(media: DataFrame) -> DataFrame:
    """8x8 average-hash (aHash) over REALLY decoded PNG bitmaps.

    Classic perceptual fingerprint: pool the image into an 8x8 grid
    (pixel x joins block x*8//W — exact integer partition, no
    resampler), set bit (by*8+bx) when the block mean >= the global
    mean, compare via integer cross-multiplication
    (bsum*(W*H) >= total*npix) so no float division ever happens.
    The 64 bits are emitted as four 16-bit band ints (b0..b3) — the
    pigeonhole keys for the Hamming<=3 candidate join AND sign-safe
    (a packed int64 with bit 63 set would go negative; four small
    ints sidestep the unsigned-shift asymmetry between engines).
    Everything is integer arithmetic on decoded pixel values, so an
    ANSI-SQL oracle recomputes the hash bit-for-bit from the
    closed-form synth formula without inflating a byte.
    """

    def ah(doc_id, payload):
        w, h, _depth, _ctype, px = decode_png_gray8(bytes(payload))
        bsum, npix = _block_pool(px, w, h)
        total = sum(map(sum, bsum))
        bands = [0, 0, 0, 0]
        for by in range(8):
            for bx in range(8):
                if bsum[by][bx] * (w * h) >= total * npix[by][bx]:
                    bit = by * 8 + bx
                    bands[bit // 16] |= 1 << (bit % 16)
        yield doc_id, w, h, *bands

    return per_row(
        media,
        ["doc_id", "payload"],
        ah,
        "doc_id long, width int, height int, b0 long, b1 long, b2 long, b3 long",
    )


# ---------------------------------------------------------------------------
# Real baseline JPEG codec (round 6): the WAV/PNG rounds proved stdlib
# codecs close decode gates for real; baseline JPEG needs no codec
# library at all — the entropy layer is canonical Huffman (pure
# Python) and the transform is an 8x8 DCT (numpy matmul). This is a
# GENERAL spec-conformant baseline encoder/decoder pair (ITU T.81):
# Annex-K luminance quantization + Huffman tables written to and
# parsed back from the bitstream (DQT/DHT/SOF0/SOS marker walk, byte
# un-stuffing, DC prediction, run-length AC, ZRL/EOB) — not a
# shortcut tuned to the fixture. After this, only VIDEO lacks a real
# decoder. Reference analogue: none (north-star multimodal extension).
# ---------------------------------------------------------------------------

JPEG_QTABLE = [  # ITU T.81 Annex K.1 luminance, natural (row-major) order
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

_ZIGZAG = [  # natural index visited at each zigzag position
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 Huffman specs: (BITS[1..16], HUFFVAL)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
assert sum(_AC_BITS) == len(_AC_VALS) == 162


def _huff_codes(bits, vals):
    """Canonical Huffman (T.81 C.2): symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix():
    import numpy as np

    c = np.zeros((8, 8))
    for u in range(8):
        a = (1 / (2 * np.sqrt(2))) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended-bits value for v."""
    if v == 0:
        return 0, 0
    cat = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return cat, v if v >= 0 else v + (1 << cat) - 1


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.buf)


def _seg(marker: int, body: bytes) -> bytes:
    import struct

    return struct.pack(">HH", marker, len(body) + 2) + body


def encode_jpeg_gray_baseline(pixels) -> bytes:
    """Spec-conformant baseline JFIF grayscale encoder (T.81).

    General path: level shift, float 8x8 DCT, Annex-K quantization
    (round-half-away), zigzag, DC prediction, (run,size) AC Huffman
    with ZRL/EOB, byte stuffing. Works for ANY uint8 image whose
    dims are multiples of 8 (padding is the caller's concern).
    """
    import numpy as np
    import struct

    img = np.asarray(pixels, dtype=np.int64)
    h, w = img.shape
    assert h % 8 == 0 and w % 8 == 0, "pad to 8x8 blocks first"
    C = _dct_matrix()
    Q = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    pred = 0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            blk = img[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            coef = C @ blk @ C.T
            qz = coef / Q
            quant = np.sign(qz) * np.floor(np.abs(qz) + 0.5)  # half away
            zz = [int(quant.flat[_ZIGZAG[i]]) for i in range(64)]
            cat, extra = _magnitude(zz[0] - pred)
            pred = zz[0]
            bw.write(*dc_codes[cat])
            if cat:
                bw.write(extra, cat)
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.write(*ac_codes[0xF0])
                    run -= 16
                c2, e2 = _magnitude(zz[k])
                bw.write(*ac_codes[(run << 4) | c2])
                bw.write(e2, c2)
                run = 0
            if run:
                bw.write(*ac_codes[0x00])  # EOB
    qt_zz = bytes([0]) + bytes(JPEG_QTABLE[_ZIGZAG[i]] for i in range(64))
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _seg(0xFFDB, qt_zz)
        + _seg(0xFFC0, sof)
        + _seg(0xFFC4, dht)
        + _seg(0xFFDA, sos)
        + bw.flush()
        + b"\xff\xd9"
    )


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # un-stuff
            else:
                raise ValueError("marker inside entropy data")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        return v


def _huff_decode(br: _BitReader, table: dict) -> int:
    code, ln = 0, 0
    while True:
        code = (code << 1) | br.bits(1)
        ln += 1
        if ln > 16:
            raise ValueError("invalid Huffman code")
        sym = table.get((code, ln))
        if sym is not None:
            return sym


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg_gray_baseline(data: bytes):
    """Real baseline JPEG decode: marker walk, DQT/DHT/SOF0/SOS parse,
    canonical-Huffman entropy decode with byte un-stuffing, DC
    prediction, dequantize, inverse zigzag, float IDCT, level shift,
    clamp. Tables come FROM THE FILE, not from module constants.
    Returns (width, height, pixels as list of rows)."""
    import numpy as np
    import struct

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    w = h = None
    comp_q = 0
    while pos < len(data):
        assert data[pos] == 0xFF, "marker expected"
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        pos += 2
        if marker == 0xFFD9:  # EOI
            break
        ln = struct.unpack(">H", data[pos : pos + 2])[0]
        body = data[pos + 2 : pos + ln]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq_tq = body[i]
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                tq = pq_tq & 0x0F
                zz = list(body[i + 1 : i + 65])
                nat = [0] * 64
                for k in range(64):
                    nat[_ZIGZAG[k]] = zz[k]
                qtables[tq] = nat
                i += 65
        elif marker == 0xFFC0:
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc != 1:
                raise ValueError("baseline grayscale only")
            comp_q = body[8]
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("baseline (SOF0) only")
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                codes = _huff_codes(bits, vals)
                htables[(tc_th >> 4, tc_th & 0x0F)] = {
                    (c, l): sym for sym, (c, l) in codes.items()
                }
                i += 17 + nv
        elif marker == 0xFFDA:
            dc_t = htables[(0, body[2] >> 4)]
            ac_t = htables[(1, body[2] & 0x0F)]
            q = np.array(qtables[comp_q], dtype=np.float64).reshape(8, 8)
            C = _dct_matrix()
            bh, bw_ = (h + 7) // 8, (w + 7) // 8
            img = np.zeros((bh * 8, bw_ * 8), dtype=np.float64)
            br = _BitReader(data[pos + ln :])
            pred = 0
            for byi in range(bh):
                for bxi in range(bw_):
                    zz = [0] * 64
                    cat = _huff_decode(br, dc_t)
                    pred += _extend(br.bits(cat), cat) if cat else 0
                    zz[0] = pred
                    k = 1
                    while k < 64:
                        sym = _huff_decode(br, ac_t)
                        if sym == 0x00:  # EOB
                            break
                        run, size = sym >> 4, sym & 0x0F
                        if size == 0:
                            if run != 15:
                                raise ValueError("bad AC symbol")
                            k += 16  # ZRL
                            continue
                        k += run
                        zz[k] = _extend(br.bits(size), size)
                        k += 1
                    coef = np.zeros(64)
                    for i64 in range(64):
                        coef[_ZIGZAG[i64]] = zz[i64]
                    blk = C.T @ (coef.reshape(8, 8) * q) @ C
                    img[byi * 8 : byi * 8 + 8, bxi * 8 : bxi * 8 + 8] = blk
            pix = np.clip(np.rint(img + 128.0), 0, 255).astype(np.int64)
            return w, h, [list(map(int, row)) for row in pix[:h, :w]]
        pos += ln
    raise ValueError("no scan data found")


JPEG_BLOCKS_W = 3
JPEG_BLOCKS_H = 2

JPEG_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_pixel", DoubleType()),
        StructField("min_pixel", IntegerType()),
        StructField("max_pixel", IntegerType()),
    ]
)


def _block_image(d: int, f: int) -> list[list[int]]:
    """Frame ``f`` of doc ``d``'s block-constant even-valued image
    (JPEG_BLOCKS_W x JPEG_BLOCKS_H blocks of 8x8): block (by, bx) holds
    2 * ((d*31 + f*11 + by*7 + bx*13) % 128)."""
    return [
        [
            2 * ((d * 31 + f * 11 + (y // 8) * 7 + (x // 8) * 13) % 128)
            for x in range(JPEG_BLOCKS_W * 8)
        ]
        for y in range(JPEG_BLOCKS_H * 8)
    ]


def synth_jpeg(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL baseline JPEG per document.

    Deterministic block-constant image (24x16, 3x2 blocks of 8x8):
    block (by,bx) value = 2 * ((doc_id*31 + by*7 + bx*13) % 128).
    Constant blocks make the LOSSY codec arithmetically exact: the DCT
    of a constant block is DC-only (AC float residue ~1e-13 quantizes
    to exactly 0) and with q00 = 16 the DC quantizer divides 8*(v-128)
    by 16 — an EVEN v-128 makes that an exact integer, so the decoded
    block reproduces v losslessly and a SQL oracle recomputes every
    pixel in integers (odd values would land on the .5 rounding
    boundary where float-ulp noise in the DCT flips the quantizer).
    The ENCODER stays the general float-DCT path, nothing is
    special-cased; the lossy general path is pinned in pytest with
    gradient/noise images instead.
    """

    def gen(doc_id):
        yield doc_id, encode_jpeg_gray_baseline(_block_image(doc_id, 0))

    return per_row(documents, ["doc_id"], gen, "doc_id long, payload binary")


def jpeg_decode(media: DataFrame) -> DataFrame:
    """Decode real JPEG payloads (Arrow-batched; linear per-byte CPU)."""

    def dec(doc_id, payload):
        w, h, pix = decode_jpeg_gray_baseline(bytes(payload))
        flat = [v for row in pix for v in row]
        yield doc_id, w, h, sum(flat) / len(flat), min(flat), max(flat)

    return per_row(media, ["doc_id", "payload"], dec, JPEG_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Real video codec path (round 6): with a real JPEG codec in hand, the
# VIDEO leg closes too — Motion-JPEG in an AVI (RIFF) container is a
# genuine, spec-conformant video format (every frame an independent
# baseline JPEG; AVI per the Microsoft RIFF/AVI spec: hdrl with
# avih/strh/strf headers, movi LIST of 00dc chunks, idx1 index).
# Muxer and demuxer below are stdlib struct only; frame decode is the
# general T.81 decoder above. After this, every media class the
# engine models (audio/WAV, image/PNG+JPEG, video/MJPEG-AVI) has a
# real byte-level codec. Inter-frame codecs (H.264 etc.) remain out of
# scope — a codec-library boundary, stated in the module docstring.
# ---------------------------------------------------------------------------

AVI_FPS = 10

VIDEO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", IntegerType()),
        StructField("duration_ms", DoubleType()),
        StructField("mean_first", DoubleType()),
        StructField("mean_last", DoubleType()),
    ]
)


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff_list(kind: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", kind + body)


def encode_mjpeg_avi(frames: list[bytes], width: int, height: int,
                     fps: int = AVI_FPS) -> bytes:
    """Mux independent JPEG frames into a spec-conformant AVI.

    RIFF('AVI ') with hdrl (avih main header, strl/strh/strf video
    stream header declaring MJPG fourcc), movi LIST of '00dc' chunks
    (one per frame, even-padded), and an idx1 index — the layout any
    standards-following AVI demuxer (ffmpeg, VLC) accepts.
    """
    import struct

    n = len(frames)
    uspf = 1_000_000 // fps
    max_size = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I", uspf, max_size * fps, 0, 0x10, n, 0, 1, max_size,
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"MJPG", 0, 0, 0, 0, 1, fps,
        0, n, max_size, 0xFFFFFFFF, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                     + _riff_chunk(b"strf", strf)),
    )
    movi_body = b"".join(_riff_chunk(b"00dc", f) for f in frames)
    movi = _riff_list(b"movi", movi_body)
    idx, off = b"", 4
    for f in frames:
        idx += struct.pack("<4sII I", b"00dc", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = _riff_chunk(b"idx1", idx)
    riff_body = b"AVI " + hdrl + movi + idx1
    return _riff_chunk(b"RIFF", riff_body)


def decode_mjpeg_avi(data: bytes):
    """Real AVI demux: RIFF walk, avih header parse, movi scan.

    Returns (width, height, fps, [decoded frame pixel matrices]) with
    each frame decoded by the general baseline-JPEG decoder. Verifies
    the RIFF/AVI signatures and the idx1 frame count.
    """
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (bad RIFF signature)")
    pos, end = 12, 8 + struct.unpack("<I", data[4:8])[0]
    uspf = width = height = n_declared = None
    frames = []
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"LIST":
            kind, inner = body[:4], body[4:]
            if kind == b"hdrl":
                ipos = 0
                while ipos + 8 <= len(inner):
                    itag = inner[ipos : ipos + 4]
                    isize = struct.unpack(
                        "<I", inner[ipos + 4 : ipos + 8]
                    )[0]
                    if itag == b"avih":
                        a = struct.unpack(
                            "<14I", inner[ipos + 8 : ipos + 8 + 56]
                        )
                        uspf, n_declared = a[0], a[4]
                        width, height = a[8], a[9]
                    ipos += 8 + isize + (isize % 2)
            elif kind == b"movi":
                ipos = 0
                while ipos + 8 <= len(inner):
                    itag = inner[ipos : ipos + 4]
                    isize = struct.unpack(
                        "<I", inner[ipos + 4 : ipos + 8]
                    )[0]
                    if itag[2:] == b"dc":
                        w, h, pix = decode_jpeg_gray_baseline(
                            inner[ipos + 8 : ipos + 8 + isize]
                        )
                        if (w, h) != (width, height):
                            raise ValueError("frame/header size mismatch")
                        frames.append(pix)
                    ipos += 8 + isize + (isize % 2)
        pos += 8 + size + (size % 2)
    if uspf is None:
        raise ValueError("missing avih header")
    if n_declared != len(frames):
        raise ValueError("idx/header frame count mismatch")
    return width, height, 1_000_000 // uspf, frames


VIDEO_N_FRAMES = 5


def synth_video(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL MJPEG AVI per document: VIDEO_N_FRAMES
    block-constant even-valued JPEG frames (frame f shifts the block
    pattern by 11*f), muxed by the RIFF writer. Frame pixels stay
    closed-form, so the decoded per-frame means are SQL-recomputable
    (the jpeg_pipeline losslessness argument, per frame)."""

    def gen(doc_id):
        frames = [
            encode_jpeg_gray_baseline(_block_image(doc_id, f))
            for f in range(VIDEO_N_FRAMES)
        ]
        yield doc_id, encode_mjpeg_avi(frames, JPEG_BLOCKS_W * 8, JPEG_BLOCKS_H * 8)

    return per_row(documents, ["doc_id"], gen, "doc_id long, payload binary")


def video_decode(media: DataFrame) -> DataFrame:
    """Demux + decode real MJPEG AVIs (Arrow-batched)."""

    def dec(doc_id, payload):
        w, h, fps, frames = decode_mjpeg_avi(bytes(payload))
        flat0 = [v for row in frames[0] for v in row]
        flatn = [v for row in frames[-1] for v in row]
        yield (
            doc_id, w, h, len(frames), fps, 1000.0 * len(frames) / fps,
            sum(flat0) / len(flat0), sum(flatn) / len(flatn),
        )

    return per_row(media, ["doc_id", "payload"], dec, VIDEO_FEATURES_SCHEMA)


# Fixed-point DCT-II basis shared with the oracle SQL: c[u][x] =
# round(cos(pi*(2x+1)*u/16) * 1e6). Quantizing the basis to integers
# makes the ENTIRE pHash integer arithmetic — no float ever enters the
# hash, so Spark (real PNG decode) and the SQL oracle (closed-form
# pixels) agree bit-for-bit with zero trig-ULP risk across libm
# implementations.
import math as _math

DCT_BASIS_SCALE = 1_000_000
DCT_BASIS = [
    [
        round(_math.cos(_math.pi * (2 * x + 1) * u / 16) * DCT_BASIS_SCALE)
        for x in range(8)
    ]
    for u in range(8)
]


def png_phash(media: DataFrame) -> DataFrame:
    """Perceptual DCT hash (pHash) over REALLY decoded PNG bitmaps.

    Classic pHash recipe, integer-exact variant: pool the bitmap into
    an 8x8 grid of block means (floor division — stays integer), take
    the 2-D DCT-II with the fixed-point integer basis above, keep the
    35 low-frequency coefficients ((u,v) in [0,6)^2 minus DC), and set
    bit i when coefficient i exceeds the median (18th-smallest of 35).
    Robust to brightness scaling and high-frequency noise where aHash
    is not. The 35 bits are emitted as three ~12-bit band ints
    (b0..b2) — pigeonhole keys guaranteeing every Hamming<=2 pair
    shares an exact band, so the candidate join is banded, never
    O(n^2).
    """

    def ph(doc_id, payload):
        w, h, _depth, _ctype, px = decode_png_gray8(bytes(payload))
        bsum, npix = _block_pool(px, w, h)
        bmean = [
            [bsum[by][bx] // npix[by][bx] for bx in range(8)] for by in range(8)
        ]
        coefs = []
        for u in range(6):
            bu = DCT_BASIS[u]
            for v in range(6):
                if u == 0 and v == 0:
                    continue
                bv = DCT_BASIS[v]
                c = 0
                for y in range(8):
                    row_m = bmean[y]
                    cy = bu[y]
                    for x in range(8):
                        c += row_m[x] * cy * bv[x]
                coefs.append(c)
        med = sorted(coefs)[17]
        bands = [0, 0, 0]
        for idx, c in enumerate(coefs):
            if c > med:
                bands[idx // 12] |= 1 << (idx % 12)
        yield doc_id, *bands

    return per_row(
        media, ["doc_id", "payload"], ph, "doc_id long, b0 long, b1 long, b2 long"
    )


# ---------------------------------------------------------------------------
# Real GIF87a codec path (round 11): LZW — GIF's actual compression
# layer — is pure bit arithmetic, so like the PNG (zlib) and JPEG
# (T.81 Huffman/DCT) legs a minimal-but-genuine grayscale GIF
# encoder/decoder needs no third-party library: real variable-width
# LSB-first code stream, real dictionary rebuild, real sub-block
# framing. Width bump convention: both sides grow the code width when
# next_code reaches 1 << width (the standard non-deferred rule; the
# dictionary never fills at these image sizes so no mid-stream clear).
# ---------------------------------------------------------------------------

GIF_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def _lzw_encode_gif(indices, min_code_size: int = 8) -> bytes:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    next_code = eoi + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for k in indices:
        wc = w + bytes([k])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        w = bytes([k])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int = 8) -> list[int]:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    next_code = eoi + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    acc = 0
    nbits = 0
    pos = 0
    out = bytearray()
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return list(out)
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None:
            table[next_code] = prev + entry[:1]
            next_code += 1
            # the decoder's dictionary lags the encoder's by one
            # entry at each read, so it grows the width one entry
            # EARLY relative to the encoder's next_code == 1<<width
            # rule — the standard GIF reader off-by-one
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry


def encode_gif_gray8(pixels) -> bytes:
    """Spec-conformant GIF87a: header, logical screen descriptor, a
    256-entry grayscale global color table (index i -> (i,i,i)), one
    image descriptor, LZW image data in <=255-byte sub-blocks, and
    the trailer."""
    import struct

    h = len(pixels)
    w = len(pixels[0])
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", w, h)
    out.append(0xF7)  # GCT present, 8 bits/channel, 256 entries
    out.append(0)  # background index
    out.append(0)  # aspect
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(8)  # LZW minimum code size
    flat = [p for row in pixels for p in row]
    comp = _lzw_encode_gif(flat)
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif_gray8(data: bytes):
    """Genuine chunk-walking GIF decoder: validates the signature and
    trailer, reads the screen/image descriptors, requires the
    grayscale identity palette, de-frames the sub-blocks, and runs
    the real LZW dictionary rebuild. Returns (w, h, flat_pixels)."""
    import struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", data[6:10])
    flags = data[10]
    pos = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = data[pos : pos + 3 * n]
        pos += 3 * n
    if data[pos] != 0x2C:
        raise ValueError("expected image descriptor")
    ix, iy, iw, ih = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
    if (ix, iy, iw, ih) != (0, 0, w, h):
        raise ValueError("sub-rectangle images not supported")
    if data[pos + 9] & 0x80:
        raise ValueError("local color table not supported")
    pos += 10
    min_code_size = data[pos]
    pos += 1
    comp = bytearray()
    while True:
        bl = data[pos]
        pos += 1
        if bl == 0:
            break
        comp += data[pos : pos + bl]
        pos += bl
    if data[pos] != 0x3B:
        raise ValueError("missing trailer")
    indices = _lzw_decode_gif(bytes(comp), min_code_size)
    if len(indices) != w * h:
        raise ValueError(f"decoded {len(indices)} pixels, want {w * h}")
    if palette is not None:
        # grayscale identity palette -> index IS the luma value
        for i in indices[:4]:
            if palette[3 * i] != i:
                raise ValueError("non-grayscale palette")
    return w, h, indices


def synth_gif(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL grayscale GIF87a per document.

    Deterministic per doc_id: W = 8 + doc_id % 24, H = 8 + doc_id %
    16, pixel(x, y) = (11x + 5y + 3*doc_id) % 256 — closed-form, so
    the decoded mean pixel is ORACLE-recomputable in SQL via a
    lateral range() grid even though DuckDB cannot run LZW.
    """

    def gen(doc_id):
        w, h = 8 + doc_id % 24, 8 + doc_id % 16
        px = [[(11 * x + 5 * y + 3 * doc_id) % 256 for x in range(w)] for y in range(h)]
        yield doc_id, encode_gif_gray8(px)

    return per_row(documents, ["doc_id"], gen, "doc_id long, payload binary")


def gif_decode(media: DataFrame) -> DataFrame:
    """REAL decode via the chunk-walking GIF reader; features come
    from the reconstructed bitmap itself (Arrow-batched, payload
    never shuffles)."""

    def dec(doc_id, payload):
        w, h, px = decode_gif_gray8(bytes(payload))
        yield doc_id, w, h, w * h, sum(px) / (w * h)

    return per_row(media, ["doc_id", "payload"], dec, GIF_FEATURES_SCHEMA)
