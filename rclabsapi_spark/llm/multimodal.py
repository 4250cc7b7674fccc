"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no imaging libraries, but two image codecs are REAL
anyway: the uncompressed netpbm path (``decode_ppm``/``resize_ppm`` —
numpy pixel work; ``attach_ppm_payload`` makes valid P6 images) and,
since r16, PNG (``encode_png``/``png_pixels``/``decode_png`` — stdlib
zlib is the actual codec; chunk framing, CRCs, and all five scanline
filters implemented against RFC 2083). ``decode_image`` dispatches
across both; only formats whose entropy/DCT decoders are a genuine
library dependency (JPEG et al.) remain behind the clearly-marked
``decode_image_stub`` (tests/test_multimodal.py verifies decode,
resize, and the PNG filter paths at the pixel level). The Spark-side plumbing (schema,
partitioning, UDF signature, batch shape) is real and tested:

- ``attach_binary``      — materialize a binary payload column + metadata
- ``extract_binary_meta``— pure-Column metadata (lengths, magic bytes)
- ``map_binary_batches`` — the mapInPandas harness a real decoder plugs
  into: batched bytes→features with a declared output schema

At scale, binary payloads dominate row size: keep them in their own
column, set ``spark.sql.files.maxPartitionBytes`` low enough that a batch
of payloads fits executor memory, and never groupBy a payload column —
aggregate on the metadata, join back by key.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rclabsapi_spark.layout import spread_by


def attach_binary(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Fixture adapter: deterministic fake payload (UTF-8 bytes of the
    text) standing in for image/audio bytes, plus typed metadata."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit("application/octet-stream")
    )


def extract_binary_meta(df: DataFrame, *, key_col: str = "doc_id") -> DataFrame:
    """Metadata extraction without touching Python: byte length and a
    magic-prefix hex — the pattern for content-type sniffing at scale."""
    return df.select(
        F.col(key_col),
        F.octet_length("payload").cast("long").alias("byte_len"),
        F.lower(F.substring(F.hex(F.col("payload")), 1, 8)).alias("magic_hex"),
        "media_type",
    )


def decode_image_stub(payload: bytes) -> dict:
    """STUB — the residue of formats whose decoders are a genuine
    library dependency (JPEG/WebP entropy+DCT, plus the PNG variants
    png_pixels rejects: palette/16-bit/interlace). PIL/cv2/soundfile
    are absent in this container (re-checked each round); P6 PPM and
    common-case PNG decode FOR REAL upstream of this stub. A real
    deployment replaces this with PIL.Image.open(BytesIO(payload));
    the harness around it (batching, schema, partitioning) is
    unchanged and is what the mm_* queries and tests exercise via
    ``fake_decode``."""
    raise NotImplementedError(
        "image decode stubbed: no imaging libraries in this environment"
    )


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for the decoder so the plumbing is testable:
    'dimensions' derived from payload bytes."""
    return {
        "width": len(payload) % 640,
        "height": (payload[0] if payload else 0) * 4,
        "n_bytes": len(payload),
    }


def map_binary_batches(
    df: DataFrame,
    out_schema: StructType | str,
    decoder: Callable[[bytes], dict] = fake_decode,
    *,
    key_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """The real harness: Arrow-batched bytes→features. ``decoder`` runs
    per payload inside a pandas batch (vectorized transfer, amortized
    Python cost); output schema is declared so Catalyst plans downstream
    ops normally."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(p) for p in pdf[payload_col]]
            out = pd.DataFrame(feats)
            out.insert(0, key_col, pdf[key_col].values)
            yield out

    return df.select(key_col, payload_col).mapInPandas(process, schema=out_schema)


def frame_sample(
    df: DataFrame,
    *,
    frame_bytes: int = 64,
    every_n: int = 2,
    key_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling over an opaque binary "video": chunk the payload
    into fixed-size frames, keep every ``every_n``-th (the keyframe-sample
    pattern). One input row fans out to multiple frame rows — mapInPandas
    is the right shape (generator of output batches, no 1:1 constraint).

    Real video decode (container demux, codec) is stubbed behind the same
    harness: a production decoder replaces the byte-chunking with actual
    frame extraction; schema, batching and partitioning are unchanged.
    Frames are emitted as hex so the oracle compares them portably."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, frames = [], [], []
            for key, payload in zip(pdf[key_col], pdf[payload_col]):
                b = bytes(payload)
                for i in range(0, (len(b) + frame_bytes - 1) // frame_bytes, every_n):
                    keys.append(key)
                    idxs.append(i)
                    frames.append(
                        b[i * frame_bytes : (i + 1) * frame_bytes].hex().upper()
                    )
            yield pd.DataFrame(
                {key_col: keys, "frame_idx": idxs, "frame_hex": frames}
            )

    # NOT spread before the Python stage: unlike the phash/heatmap
    # harnesses (heavy per-row decode/render), the chunk/hex fan-out is
    # trivial per byte, and an exchange that ships every PAYLOAD costs
    # more than the serial stage it parallelizes — measured +71% on
    # mm_frame_dedup at sf0.1 (interleaved A/B). At real scale the scan
    # itself parallelizes (many files); a deployment swapping in an
    # expensive decoder should spread first (see attach_token_heatmap_frames).
    return df.select(key_col, payload_col).mapInPandas(
        process, schema=f"{key_col} long, frame_idx int, frame_hex string"
    )


def resize_meta(
    df: DataFrame,
    *,
    target_w: int = 32,
    target_h: int = 32,
    key_col: str = "doc_id",
) -> DataFrame:
    """Resize harness: computes the output geometry + a deterministic
    content digest of what a resizer would produce. The pixel resample
    itself needs an imaging library (stubbed, see decode_image_stub); the
    engine-side contract — one row in, one row out, declared schema,
    payload never leaves the executor — is exercised for real."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for key, payload in zip(pdf[key_col], pdf["payload"]):
                b = bytes(payload)
                # deterministic fake: digest of the bytes a real resizer
                # would consume (truncated "thumbnail"), hashed via its
                # hex form — blob slicing isn't portable to every oracle
                thumb_hex = b[: target_w * target_h].hex().upper()
                rows.append(
                    (
                        key,
                        target_w,
                        target_h,
                        hashlib.md5(thumb_hex.encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[key_col, "width", "height", "thumb_md5"]
            )

    return df.select(key_col, "payload").mapInPandas(
        process,
        schema=f"{key_col} long, width int, height int, thumb_md5 string",
    )


# ---------------------------------------------------------------------------
# Real decode path: netpbm P6 (PPM) — pure numpy, no imaging libraries
# ---------------------------------------------------------------------------
#
# The container has no PIL/libjpeg, so COMPRESSED formats stay behind
# decode_image_stub. PPM is an uncompressed image format with a 3-line
# ASCII header + raw RGB bytes — decodable with numpy alone — so the
# decode/resize path below is REAL pixel work end-to-end: the fixture
# adapter writes valid P6 payloads, the decoder parses them, the resizer
# resamples actual pixels. A production deployment adds PIL for JPEG/PNG
# behind the same mapInPandas harness.


def encode_ppm(width: int, height: int, rgb: "bytes") -> bytes:
    """Serialize raw RGB bytes (len = w·h·3) as a netpbm P6 payload."""
    assert len(rgb) == width * height * 3
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(payload: bytes) -> dict:
    """REAL image decode for P6 PPM: parse the header, view the pixel
    block as an (h, w, 3) array, return geometry + per-channel means.
    Raises ValueError on a non-P6 payload (route those to the PIL-gated
    stub)."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, "w h", maxval, then raw bytes
    parts = payload.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    px = np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3).reshape(
        h, w, 3
    )
    means = px.astype("float64").mean(axis=(0, 1))
    return {
        "width": w,
        "height": h,
        "maxval": maxval,
        "mean_r": float(means[0]),
        "mean_g": float(means[1]),
        "mean_b": float(means[2]),
    }


def resize_ppm(payload: bytes, *, target_w: int, target_h: int) -> bytes:
    """REAL nearest-neighbor resize of a P6 payload: index the source
    array at the scaled coordinates, re-serialize. Deterministic —
    floor-scaled source indices, the standard NN convention."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = payload.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    px = np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3).reshape(
        h, w, 3
    )
    ys = (np.arange(target_h) * h) // target_h
    xs = (np.arange(target_w) * w) // target_w
    out = px[ys][:, xs]
    return encode_ppm(target_w, target_h, out.tobytes())


def attach_ppm_payload(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    height: int = 8,
) -> DataFrame:
    """Fixture adapter producing VALID P6 images: pixels derive
    deterministically from repeated md5 bytes of the text, so every
    payload is a real decodable image with reproducible statistics."""
    n = width * height * 3

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                seed = hashlib.md5(t.encode()).digest()
                reps = (n + len(seed) - 1) // len(seed)
                payloads.append(
                    encode_ppm(width, height, (seed * reps)[:n])
                )
            yield pd.DataFrame(
                {key_col: pdf[key_col].values, "payload": payloads}
            )

    return docs.select(key_col, text_col).mapInPandas(
        gen, schema=f"{key_col} long, payload binary"
    ).withColumn("media_type", F.lit("image/x-portable-pixmap"))


def decode_image(payload: bytes) -> dict:
    """Dispatching decoder: P6 PPM and PNG decode FOR REAL (numpy;
    stdlib zlib is PNG's actual codec — see ``png_pixels``); remaining
    compressed formats (JPEG et al., whose entropy/DCT decoders are a
    genuine library dependency) fall through to the PIL-gated stub."""
    b = bytes(payload)
    if b.startswith(b"P6"):
        return decode_ppm(b)
    if b.startswith(_PNG_SIG):
        return decode_png(b)
    return decode_image_stub(b)


# ---------------------------------------------------------------------------
# Real decode path: RIFF/WAVE PCM16 — pure numpy, no audio libraries
# ---------------------------------------------------------------------------


def encode_wav_pcm16(sample_rate: int, samples: "bytes") -> bytes:
    """Serialize little-endian PCM16 mono samples as a minimal RIFF/WAVE
    payload (the 44-byte canonical header)."""
    import struct

    n = len(samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + n)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", n)
        + samples
    )


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode for PCM16 RIFF/WAVE: parse the header, view the
    sample block as int16, return duration and signal statistics (RMS,
    peak) — the audio-quality features a speech-data pipeline filters
    on. Raises ValueError on non-RIFF payloads (route to a codec-gated
    stub, as decode_image does for compressed images)."""
    import struct

    import numpy as np

    b = bytes(payload)
    if not (b.startswith(b"RIFF") and b[8:12] == b"WAVE"):
        raise ValueError("not a RIFF/WAVE payload")
    _, channels, rate = struct.unpack("<HHI", b[20:28])
    n = struct.unpack("<I", b[40:44])[0]
    x = np.frombuffer(b, dtype="<i2", count=n // 2, offset=44).astype(
        "float64"
    )
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_samples": len(x),
        "duration_s": len(x) / float(rate * channels),
        "rms": float(np.sqrt((x * x).mean())) if len(x) else 0.0,
        "peak": float(np.abs(x).max()) if len(x) else 0.0,
    }


def attach_wav_payload(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    sample_rate: int = 8000,
    n_samples: int = 256,
) -> DataFrame:
    """Fixture adapter producing VALID PCM16 WAV payloads: samples derive
    deterministically from repeated md5 bytes of the text — every
    payload is a real decodable waveform with reproducible RMS/peak."""
    n_bytes = n_samples * 2

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                seed = hashlib.md5(t.encode()).digest()
                reps = (n_bytes + len(seed) - 1) // len(seed)
                payloads.append(
                    encode_wav_pcm16(sample_rate, (seed * reps)[:n_bytes])
                )
            yield pd.DataFrame(
                {key_col: pdf[key_col].values, "payload": payloads}
            )

    return docs.select(key_col, text_col).mapInPandas(
        gen, schema=f"{key_col} long, payload binary"
    ).withColumn("media_type", F.lit("audio/wav"))


def wav_frames(
    df: DataFrame,
    *,
    frame: int = 64,
    hop: int = 32,
    key_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Spectrogram-prep framing over decoded PCM16 audio: slice each
    payload's samples into overlapping windows (``frame`` samples every
    ``hop``) and emit per-frame energy (RMS) and zero-crossing counts —
    the feature frames a speech-quality filter or VAD consumes. REAL
    signal math (numpy strided views), same mapInPandas harness as the
    decoders; one input row fans out to its frame rows."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            keys, idxs, energy, zc = [], [], [], []
            for key, payload in zip(pdf[key_col], pdf[payload_col]):
                b = bytes(payload)
                if not (b.startswith(b"RIFF") and b[8:12] == b"WAVE"):
                    continue
                n = int.from_bytes(b[40:44], "little")
                x = np.frombuffer(
                    b, dtype="<i2", count=n // 2, offset=44
                ).astype("float64")
                for i, start in enumerate(range(0, len(x) - frame + 1, hop)):
                    w = x[start : start + frame]
                    keys.append(key)
                    idxs.append(i)
                    energy.append(float(np.sqrt((w * w).mean())))
                    zc.append(int(((w[:-1] * w[1:]) < 0).sum()))
            yield pd.DataFrame(
                {
                    key_col: keys,
                    "frame_idx": idxs,
                    "rms": energy,
                    "zero_crossings": zc,
                }
            )

    return df.select(key_col, payload_col).mapInPandas(
        process,
        schema=f"{key_col} long, frame_idx int, rms double, zero_crossings int",
    )


# ---------------------------------------------------------------------------
# Perceptual frame near-dup: average-hash over the REAL PPM decode path
# ---------------------------------------------------------------------------
#
# mm_frame_dedup catches only byte-identical frames (exact 32-byte
# digests). Re-encoded or slightly-retouched frames need a PERCEPTUAL
# hash: decode pixels, reduce to a small grayscale grid, threshold each
# cell against the grid mean — 64 bits whose Hamming distance tracks
# visual similarity (the classic average-hash; DCT-free, so it runs on
# numpy alone). Near-dup pairs then come from the same pigeonhole
# band-blocking as dedup_simhash_near_dup: split the 64 bits into
# max_hamming+1 bands — any pair within the distance shares an exact
# band — compare only within band buckets, verify exact Hamming.
#
# All integer math end-to-end (byte sums, an integer cross-multiply for
# the mean threshold), so the DuckDB oracle mirrors the hash exactly.


def attach_token_heatmap_frames(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    grid: int = 8,
    n_frames: int = 2,
) -> DataFrame:
    """Fixture adapter rendering each doc as ``n_frames`` REAL P6
    images (the video-frame shape: one key fans out to its frames):
    a token-histogram heatmap. Tokens (split on single spaces — the
    ``string_split(text, ' ')`` spec the oracle mirrors, empties
    included) are dealt round-robin to frames by position; each
    frame's tokens hash into a ``grid×grid`` cell (first two md5 hex
    digits mod n_cells), and the cell's count — clipped at the pixel
    ceiling 255 — becomes its gray intensity (r=g=b).

    Why a histogram and not digest noise: the corpus has NO exact
    duplicate texts, so an adapter seeding pixels from md5(text) gives
    every near-dup pair a maximal hash distance and the perceptual
    query degenerates to 0 rows. Rendering token statistics makes
    image similarity TRACK text similarity — near-dup docs share most
    tokens → most cells equal → small average-hash distance — i.e. the
    graded-similarity regime a perceptual hash exists for, while every
    payload stays a valid decodable image through the same P6 path.

    Physical shape: repartition by key first — the simhash16 pattern: a
    fixture parquet is one file with one row group, i.e. ONE scan task,
    and the tokenize/render work would otherwise run serially in a
    single Python worker (guide §2.5 input skew; measured 0.82 → 0.31 s
    at sf0.1). The exchange carries (key, text) once; downstream Python
    stages inherit the spread."""
    n_cells = grid * grid

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        # token -> cell memo, task-lifetime: the md5 is a pure function
        # of the token and real corpora repeat tokens at the vocabulary
        # rate, so this cuts the hash count from O(tokens) to O(vocab)
        # (~50× at sf0.1) at vocab-sized memory per task
        cell_of: dict[str, int] = {}

        def cell(tok: str) -> int:
            c = cell_of.get(tok)
            if c is None:
                c = (
                    int(hashlib.md5(tok.encode()).hexdigest()[:2], 16)
                    % n_cells
                )
                cell_of[tok] = c
            return c

        for pdf in batches:
            keys, idxs, payloads = [], [], []
            for key, t in zip(pdf[key_col], pdf[text_col]):
                counts = [[0] * n_cells for _ in range(n_frames)]
                for pos, tok in enumerate(t.split(" ")):
                    counts[pos % n_frames][cell(tok)] += 1
                for f in range(n_frames):
                    rgb = bytes(
                        min(c, 255)
                        for c in counts[f]
                        for _ in range(3)
                    )
                    keys.append(key)
                    idxs.append(f)
                    payloads.append(encode_ppm(grid, grid, rgb))
            yield pd.DataFrame(
                {key_col: keys, "frame_idx": idxs, "payload": payloads}
            )

    return (
        docs.select(key_col, text_col)
        .transform(lambda d: spread_by(d, key_col))
        .mapInPandas(
            gen, schema=f"{key_col} long, frame_idx int, payload binary"
        )
    )


def average_hash_bands(
    df: DataFrame,
    *,
    grid: int = 8,
    n_bands: int = 4,
    key_cols: tuple[str, ...] = ("doc_id", "frame_idx"),
    payload_col: str = "payload",
) -> DataFrame:
    """Average-hash of each P6 payload, emitted as ``n_bands`` integer
    band columns (``b0..b{n-1}``) instead of one packed 64-bit word —
    the bands ARE the blocking keys downstream, and an unsigned 64-bit
    hash would not fit a signed long anyway.

    REAL pixel work per payload: decode to pixels (P6 header parse, or
    the real zlib PNG path — the hash is FORMAT-agnostic, so the same
    picture stored as PPM and as PNG hashes identically),
    nearest-neighbor sample to ``grid×grid`` (floor-scaled indices —
    the resize_ppm convention, so an NN re-encode of the same image
    hashes IDENTICALLY), per-cell gray = r+g+b (integer, no luma
    weights to round), bit = (n_cells·gray > total) — the integer
    cross-multiply form of gray > mean. Bits pack row-major, band b
    holding bits [b·w, (b+1)·w)."""
    import numpy as np

    n_cells = grid * grid
    assert n_cells % n_bands == 0, "bands must divide the bit count"
    w_band = n_cells // n_bands
    assert w_band <= 31, "band must fit a signed int"

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_keys: list[list] = [[] for _ in key_cols]
            bands: list[list[int]] = [[] for _ in range(n_bands)]
            for row in pdf.itertuples(index=False):
                payload = bytes(getattr(row, payload_col))
                if payload.startswith(b"P6"):
                    parts = payload.split(b"\n", 3)
                    w, h = (int(x) for x in parts[1].split())
                    px = np.frombuffer(
                        parts[3], dtype=np.uint8, count=w * h * 3
                    ).reshape(h, w, 3)
                elif payload.startswith(_PNG_SIG):
                    w, h, ch, raw = png_pixels(payload)
                    px = np.frombuffer(raw, dtype=np.uint8).reshape(
                        h, w, ch
                    )
                    px = (
                        px[..., :3]
                        if ch >= 3
                        else np.repeat(px, 3, axis=2)
                    )
                else:
                    continue
                ys = (np.arange(grid) * h) // grid
                xs = (np.arange(grid) * w) // grid
                g = px[ys][:, xs].astype(np.int64).sum(axis=2).ravel()
                total = int(g.sum())
                bits = (n_cells * g) > total
                for b in range(n_bands):
                    seg = bits[b * w_band : (b + 1) * w_band]
                    bands[b].append(int((seg << np.arange(w_band)).sum()))
                for i, k in enumerate(key_cols):
                    out_keys[i].append(getattr(row, k))
            cols = {k: out_keys[i] for i, k in enumerate(key_cols)}
            cols.update({f"b{b}": bands[b] for b in range(n_bands)})
            yield pd.DataFrame(cols)

    key_schema = ", ".join(
        f"{k} {t}"
        for k, t in zip(
            key_cols,
            [dict(df.dtypes)[k] for k in key_cols],
        )
    )
    band_schema = ", ".join(f"b{b} int" for b in range(n_bands))
    return df.select(*key_cols, payload_col).mapInPandas(
        process, schema=f"{key_schema}, {band_schema}"
    )


def phash_near_dup_pairs(
    hashed: DataFrame,
    *,
    max_hamming: int = 3,
    n_bands: int = 4,
    key_cols: tuple[str, ...] = ("doc_id", "frame_idx"),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Perceptual near-dup pairs: units whose average-hashes are within
    ``max_hamming`` bits. Pigeonhole blocking on the band columns
    (``n_bands`` must exceed ``max_hamming`` for 100% recall: a pair
    within k bit flips cannot differ in all k+1 bands), in-bucket pair
    generation from a sorted members array (the simhash_near_dup_pairs
    shape — one shuffle on the band key, no self-join), exact Hamming
    over all bands verifying candidates. ``max_bucket_size`` caps
    pathological buckets at scale (a cap is a recall trade the caller
    opts into; the registered query leaves it off so the oracle's
    O(n²) spec matches exactly)."""
    assert n_bands > max_hamming, "pigeonhole needs max_hamming < n_bands"
    # the packed probe below allocates 16 bits per band in one 64-bit
    # long; a 5th band would shift past bit 63 and silently corrupt
    # every Hamming distance — fail loudly instead
    assert n_bands <= 4, "band packing holds at most 4 16-bit bands"
    band_names = [f"b{b}" for b in range(n_bands)]
    # Pack the band columns into ONE 64-bit word (band b at bits
    # [16b, 16b+16)): bands are bit-disjoint, so the pair Hamming
    # distance collapses from n_bands xor+bit_count terms to a single
    # bit_count(xor) — the probe below runs O(bucket²) times, so its
    # size directly multiplies the in-bucket compare cost. (The top
    # band may set bit 63 and wrap the long negative; xor/bit_count
    # operate on the bit pattern, so the distance is unaffected, and
    # member ordering never reaches the packed word — the key columns
    # are unique per unit and sort first.)
    packed = None
    for b in range(n_bands):
        t = F.shiftleft(F.col(f"b{b}").cast("long"), 16 * b)
        packed = t if packed is None else packed.bitwiseOR(t)
    member = F.struct(
        *[F.col(c) for c in key_cols], packed.alias("fp")
    )
    banded = hashed.select(
        *key_cols,
        *band_names,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"b{b}").alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(member.alias("m"), "band.band_id", "band.band_key")

    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_list("m")).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("members") <= max_bucket_size)
    m = F.col("members")

    # Verify Hamming INSIDE the in-bucket comprehension, before any pair
    # struct is materialized: perceptual hashes of one corpus concentrate
    # on few band keys (measured at sf0.1: top bucket 1,420 members ⇒
    # ~1M candidate structs in ONE array value; 6.5M candidates corpus-
    # wide for 112k true pairs), so building the candidate array and
    # filtering after explode materializes a ~60× larger intermediate
    # than the answer — a per-bucket memory spike that scales with the
    # square of the hottest bucket. The filter keeps the generated array
    # output-sized; the O(B²) probes still run, but each is one
    # xor+bit_count with no struct allocation behind it. The cross-band
    # dropDuplicates then sees ≤ n_bands copies per TRUE pair.
    pair_structs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(m, i + F.lit(2), F.size(m) - i - F.lit(1)),
                    lambda y: F.bit_count(x["fp"].bitwiseXOR(y["fp"]))
                    <= F.lit(max_hamming),
                ),
                lambda y: F.struct(x.alias("ua"), y.alias("ub")),
            ),
        )
    )
    a_cols = [
        F.col("p.ua")[k].alias(f"{k}_a") for k in key_cols
    ] + [F.col("p.ua")["fp"].alias("fpa")]
    b_cols = [
        F.col("p.ub")[k].alias(f"{k}_b") for k in key_cols
    ] + [F.col("p.ub")["fp"].alias("fpb")]
    hamming = F.bit_count(F.col("fpa").bitwiseXOR(F.col("fpb")))
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(*a_cols, *b_cols)
        .withColumn("hamming", hamming.cast("int"))
        .dropDuplicates(
            [f"{k}_a" for k in key_cols] + [f"{k}_b" for k in key_cols]
        )
    )
    return pairs.select(
        *[F.col(f"{k}_a") for k in key_cols],
        *[F.col(f"{k}_b") for k in key_cols],
        "hamming",
    )


# ---------------------------------------------------------------------------
# Perceptual AUDIO fingerprint: energy-envelope hash over the REAL WAV
# decode path
# ---------------------------------------------------------------------------
#
# The audio analog of average_hash_bands, closing the same gap on the
# audio column that phash closes on frames: exact digests miss the SAME
# RECORDING re-encoded at a different gain, while an energy-envelope
# hash is exactly gain-invariant — segment s's bit is the integer
# cross-multiply (n_seg * abs_sum_s > total_abs_sum), and scaling every
# sample by a constant scales both sides equally. All integer math
# end-to-end (int64 |sample| sums), so a future DuckDB oracle can
# mirror the hash exactly, and the band columns feed the SAME
# phash_near_dup_pairs pigeonhole machinery (key_cols=("doc_id",)).


def wav_energy_hash_bands(
    df: DataFrame,
    *,
    n_seg: int = 64,
    n_bands: int = 4,
    key_cols: tuple[str, ...] = ("doc_id",),
    payload_col: str = "payload",
) -> DataFrame:
    """Energy-envelope hash of each PCM16 RIFF/WAVE payload as
    ``n_bands`` integer band columns (``b0..b{n-1}``) — the same output
    contract as ``average_hash_bands``, so the banded near-dup pair
    machinery applies unchanged.

    REAL signal work per payload: parse the RIFF header, view the data
    block as int16, split the samples into ``n_seg`` contiguous
    segments on floor-scaled boundaries (the NN-sample convention —
    a re-encode that preserves the sample block hashes IDENTICALLY),
    per-segment int64 ``|sample|`` sum, bit = (n_seg * seg_sum >
    total_sum). Non-RIFF payloads are skipped, as the P6 hash skips
    non-P6 — route compressed codecs through their gated decoder
    first."""
    import numpy as np

    assert n_seg % n_bands == 0, "bands must divide the bit count"
    w_band = n_seg // n_bands
    assert w_band <= 31, "band must fit a signed int"

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_keys: list[list] = [[] for _ in key_cols]
            bands: list[list[int]] = [[] for _ in range(n_bands)]
            for row in pdf.itertuples(index=False):
                b = bytes(getattr(row, payload_col))
                if not (b.startswith(b"RIFF") and b[8:12] == b"WAVE"):
                    continue
                n = int.from_bytes(b[40:44], "little")
                x = np.abs(
                    np.frombuffer(
                        b, dtype="<i2", count=n // 2, offset=44
                    ).astype(np.int64)
                )
                edges = (np.arange(n_seg + 1) * len(x)) // n_seg
                seg = np.add.reduceat(x, edges[:-1]) if len(x) else (
                    np.zeros(n_seg, dtype=np.int64)
                )
                # reduceat quirk: an empty slice [i, i) returns x[i]
                # instead of 0 — zero those segments explicitly
                seg = np.where(edges[1:] > edges[:-1], seg, 0)
                total = int(x.sum())
                bits = (n_seg * seg) > total
                for k in range(n_bands):
                    s = bits[k * w_band : (k + 1) * w_band]
                    bands[k].append(int((s << np.arange(w_band)).sum()))
                for i, kc in enumerate(key_cols):
                    out_keys[i].append(getattr(row, kc))
            cols = {kc: out_keys[i] for i, kc in enumerate(key_cols)}
            cols.update({f"b{k}": bands[k] for k in range(n_bands)})
            yield pd.DataFrame(cols)

    key_schema = ", ".join(
        f"{k} {t}"
        for k, t in zip(key_cols, [dict(df.dtypes)[k] for k in key_cols])
    )
    band_schema = ", ".join(f"b{k} int" for k in range(n_bands))
    return df.select(*key_cols, payload_col).mapInPandas(
        process, schema=f"{key_schema}, {band_schema}"
    )


def attach_token_envelope_wav(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_cells: int = 64,
    samples_per_cell: int = 4,
    sample_rate: int = 8000,
) -> DataFrame:
    """Fixture adapter rendering each doc as a VALID PCM16 waveform
    whose energy envelope IS its token histogram: tokens hash into
    ``n_cells`` envelope cells (the attach_token_heatmap_frames
    dealing — first two md5 hex digits mod n_cells), and cell count
    ``c`` (clipped at 255) becomes a constant-amplitude run of
    ``samples_per_cell`` samples at ``min(c,255) * 128``.

    Why an envelope and not md5 noise: ``attach_wav_payload`` seeds
    samples from md5(text), so near-dup texts get maximally DISTANT
    waveforms and a perceptual query over it degenerates — the same
    trap the heatmap-frame note documents for images. Rendering token
    statistics makes acoustic similarity TRACK text similarity while
    every payload stays a real decodable WAV through the same RIFF
    path, and the segment abs-sums reduce to exact integer token
    arithmetic a SQL oracle can mirror:
    ``bit_s = (n_cells * min(c_s,255) > sum_t min(c_t,255))``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        cell_of: dict[str, int] = {}  # token->cell memo, vocab-sized

        def cell(tok: str) -> int:
            c = cell_of.get(tok)
            if c is None:
                c = (
                    int(hashlib.md5(tok.encode()).hexdigest()[:2], 16)
                    % n_cells
                )
                cell_of[tok] = c
            return c

        for pdf in batches:
            payloads = []
            for t in pdf[text_col]:
                counts = [0] * n_cells
                for tok in t.split(" "):
                    counts[cell(tok)] += 1
                samples = b"".join(
                    struct.pack("<h", min(c, 255) * 128)
                    * samples_per_cell
                    for c in counts
                )
                payloads.append(encode_wav_pcm16(sample_rate, samples))
            yield pd.DataFrame(
                {key_col: pdf[key_col].values, "payload": payloads}
            )

    return docs.select(key_col, text_col).mapInPandas(
        gen, schema=f"{key_col} long, payload binary"
    ).withColumn("media_type", F.lit("audio/wav"))


# ---------------------------------------------------------------------------
# Real compressed codec: PNG via stdlib zlib — no imaging libraries
# ---------------------------------------------------------------------------
#
# The codec stub note says "a real deployment replaces this with PIL".
# For PNG specifically that dependency is unnecessary: the container's
# stdlib zlib IS the codec (inflate/deflate); what remains is chunk
# framing, CRCs, and the five scanline filters — implemented here
# against the PNG specification (RFC 2083), so the most common
# compressed image format decodes FOR REAL. JPEG and friends stay
# behind the PIL-gated stub (a DCT entropy decoder is a genuine
# library dependency).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CTYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type


def _png_paeth(a, b, c):
    """Paeth predictor over int64 numpy arrays (RFC 2083 §6.6)."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(
    width: int,
    height: int,
    pixels: "bytes",
    *,
    channels: int = 3,
    filter_type: int = 0,
) -> bytes:
    """Minimal REAL PNG writer: 8-bit gray/RGB/RGBA scanlines under any
    of the five PNG filters (the non-zero filters exist so tests can
    exercise every decoder unfilter path with payloads this module
    produced itself), deflate-compressed, CRC-framed."""
    import struct
    import zlib

    import numpy as np

    stride = width * channels
    px = (
        np.frombuffer(bytes(pixels), dtype=np.uint8, count=height * stride)
        .reshape(height, stride)
        .astype(np.int64)
    )
    zeros = np.zeros(channels, dtype=np.int64)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        line = px[y]
        left = np.concatenate([zeros, line[:-channels]])
        upleft = np.concatenate([zeros, prev[:-channels]])
        if filter_type == 0:
            f = line
        elif filter_type == 1:
            f = line - left
        elif filter_type == 2:
            f = line - prev
        elif filter_type == 3:
            f = line - (left + prev) // 2
        elif filter_type == 4:
            f = line - _png_paeth(left, prev, upleft)
        else:
            raise ValueError(f"bad PNG filter {filter_type}")
        raw.append(filter_type)
        raw.extend((f % 256).astype(np.uint8).tobytes())
        prev = line

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _PNG_CTYPE[channels], 0, 0, 0
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def png_pixels(payload: bytes) -> tuple[int, int, int, "bytes"]:
    """REAL PNG decode to (width, height, channels, pixel bytes):
    critical-chunk parse, zlib inflate, all five scanline unfilters.
    8-bit gray/truecolor/truecolor-alpha, non-interlaced — palette,
    16-bit, and interlaced variants raise loudly (route to the gated
    stub, as JPEG does). Filters 0/2 unfilter vectorized; 1/3/4 carry
    a true left-neighbor dependency, so they run per byte within the
    scanline (row-bounded, and only on rows an encoder chose those
    filters for)."""
    import struct
    import zlib

    import numpy as np

    b = bytes(payload)
    if not b.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, idat, w, h, ch = 8, bytearray(), None, None, None
    while pos + 8 <= len(b):
        ln, tag = struct.unpack(">I4s", b[pos : pos + 8])
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype not in (0, 2, 6) or interlace:
                raise ValueError(
                    "unsupported PNG variant (palette/16-bit/interlace)"
                )
            ch = {0: 1, 2: 3, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("truncated PNG: missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated PNG: scanline payload size mismatch")
    px = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=pos + 1
        ).astype(np.int64)
        pos += 1 + stride
        if ft == 0:
            out = line
        elif ft == 2:
            out = (line + prev) % 256
        elif ft in (1, 3, 4):
            out = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = int(out[i - ch]) if i >= ch else 0
                up = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + up) // 2
                else:
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        up if pb <= pc else c
                    )
                out[i] = (int(line[i]) + pred) % 256
        else:
            raise ValueError(f"bad PNG scanline filter {ft}")
        px[y] = out.astype(np.uint8)
        prev = out
    return int(w), int(h), int(ch), px.tobytes()


def decode_png(payload: bytes) -> dict:
    """REAL PNG decode returning the ``decode_ppm`` feature shape
    (geometry + per-channel means) plus the channel count — gray
    broadcasts its single channel, alpha is excluded from the color
    means."""
    import numpy as np

    w, h, ch, raw = png_pixels(payload)
    px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch)
    rgb = px[..., :3] if ch >= 3 else np.repeat(px, 3, axis=2)
    means = rgb.astype("float64").mean(axis=(0, 1))
    return {
        "width": w,
        "height": h,
        "channels": ch,
        "mean_r": float(means[0]),
        "mean_g": float(means[1]),
        "mean_b": float(means[2]),
    }


def resize_image(payload: bytes, *, target_w: int, target_h: int) -> bytes:
    """Format-preserving REAL nearest-neighbor resize: a P6 payload
    resizes through the PPM path, a PNG payload decodes through the
    real zlib path, NN-samples at the same floor-scaled indices, and
    re-encodes as PNG (filter 0) — so the resize convention (and hence
    the perceptual-hash invariance it guarantees) is identical across
    formats. Other formats raise into the gated stub's scope."""
    import numpy as np

    b = bytes(payload)
    if b.startswith(b"P6"):
        return resize_ppm(b, target_w=target_w, target_h=target_h)
    if b.startswith(_PNG_SIG):
        w, h, ch, raw = png_pixels(b)
        px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch)
        ys = (np.arange(target_h) * h) // target_h
        xs = (np.arange(target_w) * w) // target_w
        out = px[ys][:, xs]
        return encode_png(
            target_w, target_h, out.tobytes(), channels=ch
        )
    return decode_image_stub(b)


def phash_clusters(pairs: DataFrame, *, frame_mod: int = 16) -> DataFrame:
    """Perceptual frame clusters: connected components over the
    near-dup pair graph (``phash_near_dup_pairs`` output — image or
    any banded perceptual relation with the doc/frame pair columns),
    labeling each unit with its cluster's canonical keeper. Near-dup
    is transitive in practice (the original, its re-encode, and its
    retouch are ONE picture family), so keep-one-per-family needs
    components, not pairs — the dedup_clusters step on image content.

    Units pack into one BIGINT (doc_id · frame_mod + frame_idx;
    ``frame_idx < frame_mod`` is the declared contract, matching the
    fixture's n_frames) so the engine's one connected-components
    operator (llm.dedup.dedup_clusters — edge-relation shuffles only,
    O(log n) rounds, raises at its round cap) applies unchanged;
    labels unpack back to (keeper_doc_id, keeper_frame_idx) = the
    lexicographic MIN unit of the family. Exact integer semantics
    end-to-end — a SQL oracle's recursive-CTE closure reproduces the
    labels bit-for-bit, as it does for the dedup_clusters queries."""
    from rclabsapi_spark.llm.dedup import dedup_clusters

    packed = pairs.select(
        (F.col("doc_id_a") * frame_mod + F.col("frame_idx_a")).alias("ua"),
        (F.col("doc_id_b") * frame_mod + F.col("frame_idx_b")).alias("ub"),
    )
    cc = dedup_clusters(packed, src_col="ua", dst_col="ub")
    return cc.select(
        F.floor(F.col("doc_id") / frame_mod).cast("long").alias("doc_id"),
        (F.col("doc_id") % frame_mod).cast("int").alias("frame_idx"),
        F.floor(F.col("cluster_id") / frame_mod)
        .cast("long")
        .alias("keeper_doc_id"),
        (F.col("cluster_id") % frame_mod).cast("int").alias(
            "keeper_frame_idx"
        ),
    )
