"""Real-decode multimodal path (llm/multimodal.py): P6 PPM payloads are
actual images — decode and resize are verified at the pixel level
through the same mapInPandas harness the mm_* queries use."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from rclabsapi_spark.llm.multimodal import (
    attach_ppm_payload,
    decode_image,
    decode_ppm,
    encode_ppm,
    map_binary_batches,
    resize_ppm,
)

SF_DIR = "/root/testdata/sf0.001"


def _px(w, h, seed=b"\x00"):
    n = w * h * 3
    reps = (n + len(seed) - 1) // len(seed)
    return (seed * reps)[:n]


def test_ppm_roundtrip_and_stats():
    rgb = bytes(range(8 * 4 * 3 % 256)) * 0 + bytes(
        (i * 7) % 256 for i in range(8 * 4 * 3)
    )
    d = decode_ppm(encode_ppm(8, 4, rgb))
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(4, 8, 3).astype("float64")
    assert (d["width"], d["height"], d["maxval"]) == (8, 4, 255)
    assert d["mean_r"] == pytest.approx(arr[:, :, 0].mean())
    assert d["mean_b"] == pytest.approx(arr[:, :, 2].mean())


def test_resize_is_true_nearest_neighbor():
    rgb = bytes((i * 13) % 256 for i in range(6 * 6 * 3))
    out = resize_ppm(encode_ppm(6, 6, rgb), target_w=3, target_h=2)
    d = decode_ppm(out)
    assert (d["width"], d["height"]) == (3, 2)
    src = np.frombuffer(rgb, dtype=np.uint8).reshape(6, 6, 3)
    expect = src[(np.arange(2) * 6) // 2][:, (np.arange(3) * 6) // 3]
    got = np.frombuffer(out.split(b"\n", 3)[3], dtype=np.uint8).reshape(2, 3, 3)
    assert (got == expect).all()


def test_decode_dispatch_rejects_compressed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0fakejpeg")


def test_mapinpandas_decodes_real_fixture_payloads(spark):
    """End-to-end through the harness: valid P6 payloads from the
    fixture adapter decode to the exact numpy ground truth."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    with_img = attach_ppm_payload(docs, width=8, height=8)
    feats = map_binary_batches(
        with_img,
        "doc_id long, width int, height int, maxval int,"
        " mean_r double, mean_g double, mean_b double",
        decode_image,
    )
    got = {r["doc_id"]: r for r in feats.collect()}
    for row in docs.select("doc_id", "text").collect():
        seed = hashlib.md5(row["text"].encode()).digest()
        arr = (
            np.frombuffer(_px(8, 8, seed), dtype=np.uint8)
            .reshape(8, 8, 3)
            .astype("float64")
        )
        g = got[row["doc_id"]]
        assert (g["width"], g["height"]) == (8, 8)
        assert g["mean_g"] == pytest.approx(arr[:, :, 1].mean())
    assert len(got) == 50


def test_wav_decode_matches_numpy_ground_truth(spark):
    """Real WAV path: PCM16 payloads decode to exact duration/RMS/peak
    through the mapInPandas harness."""
    from rclabsapi_spark.llm.multimodal import (
        attach_wav_payload,
        decode_wav,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    with_audio = attach_wav_payload(docs, sample_rate=8000, n_samples=256)
    feats = map_binary_batches(
        with_audio,
        "doc_id long, sample_rate int, channels int, n_samples int,"
        " duration_s double, rms double, peak double",
        decode_wav,
    )
    got = {r["doc_id"]: r for r in feats.collect()}
    for row in docs.select("doc_id", "text").collect():
        seed = hashlib.md5(row["text"].encode()).digest()
        raw = (seed * ((512 + 15) // 16))[:512]
        x = np.frombuffer(raw, dtype="<i2").astype("float64")
        g = got[row["doc_id"]]
        assert g["n_samples"] == 256
        assert g["duration_s"] == pytest.approx(256 / 8000)
        assert g["rms"] == pytest.approx(np.sqrt((x * x).mean()))
        assert g["peak"] == pytest.approx(np.abs(x).max())
    assert len(got) == 30


def test_wav_decode_rejects_non_riff():
    from rclabsapi_spark.llm.multimodal import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"OggS fake vorbis")


def test_wav_framing_matches_numpy(spark):
    """Frame RMS and zero-crossings equal a manual numpy recompute for
    every frame of every fixture payload."""
    from rclabsapi_spark.llm.multimodal import attach_wav_payload, wav_frames

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    with_audio = attach_wav_payload(docs, sample_rate=8000, n_samples=256)
    got = {}
    for r in wav_frames(with_audio, frame=64, hop=32).collect():
        got[(r["doc_id"], r["frame_idx"])] = (r["rms"], r["zero_crossings"])

    for row in docs.select("doc_id", "text").collect():
        seed = hashlib.md5(row["text"].encode()).digest()
        raw = (seed * ((512 + 15) // 16))[:512]
        x = np.frombuffer(raw, dtype="<i2").astype("float64")
        n_frames = (len(x) - 64) // 32 + 1
        for i in range(n_frames):
            w = x[i * 32 : i * 32 + 64]
            rms = float(np.sqrt((w * w).mean()))
            zc = int(((w[:-1] * w[1:]) < 0).sum())
            g = got[(row["doc_id"], i)]
            assert g[0] == pytest.approx(rms)
            assert g[1] == zc


# ---------------------------------------------------------------------------
# r16: perceptual average-hash + banded near-dup
# ---------------------------------------------------------------------------


def _ahash_py(payload: bytes, grid: int = 8) -> list[int]:
    """Independent reference average-hash (pure python, no numpy):
    parse P6, NN-sample, gray=r+g+b, bit = n_cells*gray > total."""
    parts = payload.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    px = parts[3]
    n_cells = grid * grid
    g = []
    for gy in range(grid):
        for gx in range(grid):
            y, x = (gy * h) // grid, (gx * w) // grid
            o = (y * w + x) * 3
            g.append(px[o] + px[o + 1] + px[o + 2])
    total = sum(g)
    bits = [1 if n_cells * v > total else 0 for v in g]
    return [
        sum(bits[b * 16 + j] << j for j in range(16)) for b in range(4)
    ]


def _hash_one(spark, payload: bytes) -> tuple[int, ...]:
    from rclabsapi_spark.llm.multimodal import average_hash_bands

    df = spark.createDataFrame(
        [(0, 0, bytearray(payload))],
        "doc_id long, frame_idx int, payload binary",
    )
    r = average_hash_bands(df).collect()[0]
    return tuple(r[f"b{b}"] for b in range(4))


def test_average_hash_matches_reference_and_survives_reencode(spark):
    """The Spark hash equals an independent pure-python reference, and
    an NN RE-ENCODE of the same image (resize_ppm 8×8 → 16×16 — new
    bytes, same picture) hashes IDENTICALLY: floor-scaled NN sampling
    lands on the original pixels, which is the invariance exact
     32-byte frame digests (mm_frame_dedup) cannot provide."""
    rgb = bytes((i * 37 + 11) % 256 for i in range(8 * 8 * 3))
    img = encode_ppm(8, 8, rgb)
    got = _hash_one(spark, img)
    assert list(got) == _ahash_py(img)

    reencoded = resize_ppm(img, target_w=16, target_h=16)
    assert reencoded != img  # genuinely different bytes
    assert _hash_one(spark, reencoded) == got
    # and the digest tier indeed misses it:
    assert hashlib.md5(reencoded).digest() != hashlib.md5(img).digest()


def test_phash_banding_finds_planted_neardups_with_full_recall(spark):
    """Planted perturbations: a retouched frame within the hamming
    budget is paired, a distant frame is not, and the pigeonhole
    banding returns EXACTLY the O(n²) brute-force pair set (100%
    recall — any pair within k flips shares one of k+1 bands)."""
    from rclabsapi_spark.llm.multimodal import (
        average_hash_bands,
        phash_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=8 * 8 * 3, dtype=np.uint8)

    # retouch: SWAP one above-mean cell with one below-mean cell — the
    # total is unchanged (no other cell's threshold moves), so exactly
    # those two bits flip: hamming 2 by construction
    grays = base.reshape(64, 3).astype(int).sum(axis=1)
    total = int(grays.sum())
    above = int(np.argmax(64 * grays > total))
    below = int(np.argmax(64 * grays <= total))
    retouched = base.copy().reshape(64, 3)
    retouched[[above, below]] = retouched[[below, above]]

    imgs = {
        (0, 0): base,
        (1, 0): retouched.ravel(),
        # unrelated noise image -> far
        (2, 0): rng.integers(0, 256, size=8 * 8 * 3, dtype=np.uint8),
        # exact re-encode -> hamming 0
        (3, 0): np.frombuffer(
            resize_ppm(encode_ppm(8, 8, base.tobytes()), target_w=24,
                       target_h=24).split(b"\n", 3)[3], dtype=np.uint8,
        ),
    }
    rows = []
    for (d, f), arr in imgs.items():
        w = 24 if d == 3 else 8
        rows.append((d, f, bytearray(encode_ppm(w, w, bytes(arr)))))
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, payload binary"
    )
    hashed = average_hash_bands(df).cache()
    got = {
        ((r["doc_id_a"], r["frame_idx_a"]), (r["doc_id_b"], r["frame_idx_b"])):
            r["hamming"]
        for r in phash_near_dup_pairs(hashed, max_hamming=3).collect()
    }

    # brute-force reference over the same hashes
    hs = {(r["doc_id"], r["frame_idx"]): [r[f"b{b}"] for b in range(4)]
          for r in hashed.collect()}
    ks = sorted(hs)
    want = {}
    for i in range(len(ks)):
        for j in range(i + 1, len(ks)):
            h = sum(
                bin(a ^ b).count("1")
                for a, b in zip(hs[ks[i]], hs[ks[j]])
            )
            if h <= 3:
                want[(ks[i], ks[j])] = h
    assert got == want
    assert got[((0, 0), (3, 0))] == 0  # re-encode: exact perceptual match
    assert got[((0, 0), (1, 0))] == 2  # planted retouch found at its distance
    assert all((2, 0) not in pair for pair in got)  # noise image excluded


def test_heatmap_frames_are_valid_images_tracking_text_similarity(spark):
    """The fixture adapter emits VALID decodable P6 frames, and a
    SHIFTED near-dup text (one token prepended — every position moves)
    still lands within the hamming budget: the shift swaps token
    parities, so the match appears across frame indexes — the
    cross-frame pairing a video pipeline needs."""
    from rclabsapi_spark.llm.multimodal import (
        attach_token_heatmap_frames,
        average_hash_bands,
        phash_near_dup_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, "extra " + base),  # shifted: one token prepended
            (2, " ".join(f"other{i}" for i in range(40))),  # unrelated
        ],
        "doc_id long, text string",
    )
    frames = attach_token_heatmap_frames(docs, n_frames=2)
    # every payload is a real image
    for r in frames.collect():
        d = decode_ppm(bytes(r["payload"]))
        assert (d["width"], d["height"]) == (8, 8)
    hashed = average_hash_bands(frames)
    pairs = {
        ((r["doc_id_a"], r["frame_idx_a"]), (r["doc_id_b"], r["frame_idx_b"]))
        for r in phash_near_dup_pairs(hashed, max_hamming=3).collect()
    }
    # shifted doc matches across SWAPPED frame parity
    assert ((0, 0), (1, 1)) in pairs
    assert ((0, 1), (1, 0)) in pairs
    # the unrelated doc matches nothing
    assert all(2 not in (a[0], b[0]) for a, b in pairs)


def test_wav_energy_hash_matches_integer_reference(spark):
    """Known case: constant-amplitude runs make every segment abs-sum
    computable by hand; the Spark-side hash must equal the pure-integer
    reference bit for bit (this arithmetic is what a SQL oracle would
    mirror)."""
    from rclabsapi_spark.llm.multimodal import (
        encode_wav_pcm16,
        wav_energy_hash_bands,
    )

    n_seg, spc = 64, 4
    amps = [(i * 7) % 23 for i in range(n_seg)]  # deterministic, varied
    samples = b"".join(
        __import__("struct").pack("<h", a * 100) * spc for a in amps
    )
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav_pcm16(8000, samples)))],
        "doc_id long, payload binary",
    )
    got = wav_energy_hash_bands(df).first()

    seg_sums = [a * 100 * spc for a in amps]
    total = sum(seg_sums)
    bits = [(n_seg * s) > total for s in seg_sums]
    for b in range(4):
        want = sum(1 << j for j in range(16) if bits[b * 16 + j])
        assert got[f"b{b}"] == want


def test_wav_energy_hash_is_gain_invariant_where_digest_is_not(spark):
    """The same recording re-encoded at double gain: exact md5 digests
    differ (the mm_frame_dedup-class miss), the energy-envelope hash is
    IDENTICAL — the integer cross-multiply scales both sides equally."""
    import hashlib
    import struct

    from rclabsapi_spark.llm.multimodal import (
        encode_wav_pcm16,
        wav_energy_hash_bands,
    )

    rng = [(i * 31) % 97 - 48 for i in range(256)]
    quiet = b"".join(struct.pack("<h", v * 50) for v in rng)
    loud = b"".join(struct.pack("<h", v * 100) for v in rng)
    pq, pl = encode_wav_pcm16(8000, quiet), encode_wav_pcm16(8000, loud)
    assert hashlib.md5(pq).digest() != hashlib.md5(pl).digest()

    df = spark.createDataFrame(
        [(0, bytearray(pq)), (1, bytearray(pl))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in wav_energy_hash_bands(df).collect()}
    assert all(
        rows[0][f"b{b}"] == rows[1][f"b{b}"] for b in range(4)
    )


def test_audio_envelope_neardups_track_text_and_band_recall(spark):
    """The token-envelope fixture makes acoustic similarity track text
    similarity: a one-token edit moves at most two envelope cells
    (hamming <= 2), an unrelated text lands far away; the pigeonhole
    banding over the audio hash (the SAME phash_near_dup_pairs
    machinery, key_cols=("doc_id",)) finds exactly the brute-force
    pair set."""
    from rclabsapi_spark.llm.multimodal import (
        attach_token_envelope_wav,
        decode_wav,
        phash_near_dup_pairs,
        wav_energy_hash_bands,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    edited = base.replace("tok7", "changed", 1)
    other = " ".join(f"other{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, base), (1, edited), (2, other)], "doc_id long, text string"
    )
    wavs = attach_token_envelope_wav(docs)
    # every payload is a real decodable waveform
    for r in wavs.collect():
        d = decode_wav(bytes(r["payload"]))
        assert d["n_samples"] == 64 * 4 and d["sample_rate"] == 8000

    hashed = wav_energy_hash_bands(wavs, key_cols=("doc_id",)).cache()
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(
            hashed, key_cols=("doc_id",), max_hamming=3
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 2
    assert all(2 not in k for k in pairs)

    # banding == brute force at this distance (pigeonhole recall)
    h = {r["doc_id"]: [r[f"b{b}"] for b in range(4)] for r in hashed.collect()}
    brute = {
        (a, b)
        for a in h
        for b in h
        if a < b
        and sum(
            bin(h[a][i] ^ h[b][i]).count("1") for i in range(4)
        )
        <= 3
    }
    assert set(pairs) == brute
    hashed.unpersist()


def test_png_roundtrip_all_five_filters():
    """The PNG codec is real: every scanline filter the spec defines
    (None/Sub/Up/Average/Paeth) encodes and decodes back to the exact
    pixels, and the feature dict matches the PPM decoder's on the same
    image."""
    from rclabsapi_spark.llm.multimodal import (
        decode_png,
        decode_ppm,
        encode_png,
        encode_ppm,
        png_pixels,
    )

    w, h = 9, 7  # odd sizes: exercise non-aligned strides
    rgb = bytes(((x * 37 + y * 101 + c * 13) % 256)
                for y in range(h) for x in range(w) for c in range(3))
    for ft in range(5):
        payload = encode_png(w, h, rgb, filter_type=ft)
        gw, gh, gch, graw = png_pixels(payload)
        assert (gw, gh, gch) == (w, h, 3) and graw == rgb, f"filter {ft}"

    want = decode_ppm(encode_ppm(w, h, rgb))
    got = decode_png(encode_png(w, h, rgb, filter_type=4))
    for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
        assert got[k] == want[k]


def test_png_gray_and_alpha_variants():
    """8-bit grayscale broadcasts to the RGB means; truecolor+alpha
    excludes alpha from the color means."""
    from rclabsapi_spark.llm.multimodal import decode_png, encode_png

    gray = bytes((i * 11) % 256 for i in range(6 * 4))
    g = decode_png(encode_png(6, 4, gray, channels=1, filter_type=2))
    assert g["channels"] == 1 and g["mean_r"] == g["mean_g"] == g["mean_b"]

    rgba = bytes((i * 7) % 256 for i in range(5 * 3 * 4))
    a = decode_png(encode_png(5, 3, rgba, channels=4, filter_type=1))
    assert a["channels"] == 4 and a["width"] == 5


def test_decode_image_dispatch_png_real_jpeg_still_gated():
    """decode_image now decodes PNG for real; JPEG stays behind the
    documented PIL-gated stub."""
    from rclabsapi_spark.llm.multimodal import decode_image, encode_png

    rgb = bytes(range(48)) * 1
    d = decode_image(encode_png(4, 4, rgb))
    assert (d["width"], d["height"]) == (4, 4)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0fakejpeg")


def test_average_hash_is_format_agnostic(spark):
    """The SAME picture stored as P6 and as PNG (any filter) produces
    IDENTICAL perceptual hash bands — the cross-FORMAT re-encode case
    the exact-digest tier can never catch."""
    from rclabsapi_spark.llm.multimodal import (
        average_hash_bands,
        encode_png,
        encode_ppm,
    )

    w = h = 16
    rgb = bytes(((x * x + y * 3) % 256)
                for y in range(h) for x in range(w) for _ in range(3))
    df = spark.createDataFrame(
        [
            (0, 0, bytearray(encode_ppm(w, h, rgb))),
            (1, 0, bytearray(encode_png(w, h, rgb, filter_type=3))),
        ],
        "doc_id long, frame_idx int, payload binary",
    )
    rows = {r["doc_id"]: r for r in average_hash_bands(df).collect()}
    assert all(rows[0][f"b{b}"] == rows[1][f"b{b}"] for b in range(4))


def test_resize_image_png_matches_ppm_convention():
    """resize_image preserves format and the floor-scaled NN convention
    across codecs: resizing the same picture as PNG and as PPM yields
    byte-identical pixel arrays."""
    from rclabsapi_spark.llm.multimodal import (
        decode_ppm,
        encode_png,
        encode_ppm,
        png_pixels,
        resize_image,
    )

    w, h = 10, 6
    rgb = bytes(((x * 29 + y * 53 + c) % 256)
                for y in range(h) for x in range(w) for c in range(3))
    via_ppm = resize_image(encode_ppm(w, h, rgb), target_w=4, target_h=3)
    via_png = resize_image(
        encode_png(w, h, rgb, filter_type=2), target_w=4, target_h=3
    )
    assert via_ppm.startswith(b"P6") and via_png.startswith(b"\x89PNG")
    parts = via_ppm.split(b"\n", 3)
    gw, gh, _, graw = png_pixels(via_png)
    assert (gw, gh) == (4, 3) and graw == parts[3][: 4 * 3 * 3]
    assert decode_ppm(via_ppm)["width"] == 4


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=40, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 9),
    channels=st.sampled_from([1, 3, 4]),
    filter_type=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(w, h, channels, filter_type, seed):
    """PROPERTY: any 8-bit image, any geometry, any channel count, any
    scanline filter — encode_png → png_pixels is the identity on the
    pixel bytes (the codec pair is lossless by construction; this is
    the hypothesis net under the hand-picked filter vectors)."""
    from rclabsapi_spark.llm.multimodal import encode_png, png_pixels

    n = w * h * channels
    px = bytes((seed * 2654435761 + i * 40503 + (i * i) % 251) % 256
               for i in range(n))
    payload = encode_png(w, h, px, channels=channels,
                         filter_type=filter_type)
    gw, gh, gch, raw = png_pixels(payload)
    assert (gw, gh, gch) == (w, h, channels) and raw == px


def test_wav_energy_hash_degenerate_payloads(spark):
    """Edge cases stay deterministic: a zero-sample WAV hashes to all-
    zero bands (no division, no crash); a silent (all-zero-amplitude)
    clip likewise — total 0 means no segment can exceed the integer
    cross-multiply threshold; non-RIFF payloads are skipped."""
    from rclabsapi_spark.llm.multimodal import (
        encode_wav_pcm16,
        wav_energy_hash_bands,
    )

    df = spark.createDataFrame(
        [
            (0, bytearray(encode_wav_pcm16(8000, b""))),
            (1, bytearray(encode_wav_pcm16(8000, b"\x00" * 512))),
            (2, bytearray(b"not a wav payload")),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in wav_energy_hash_bands(df).collect()}
    assert set(rows) == {0, 1}  # non-RIFF skipped
    for d in (0, 1):
        assert all(rows[d][f"b{b}"] == 0 for b in range(4))


def test_phash_clusters_match_union_find_and_chain_transitivity(spark):
    """Perceptual clusters over the real sf0.001 pair set equal a
    brute-force union-find, and a planted retouch CHAIN (original ≈
    re-render ≈ retouch, ends not directly paired) collapses into ONE
    family under the original as keeper, as does a planted 256-unit
    chain."""
    from rclabsapi_spark.llm.multimodal import (
        attach_token_heatmap_frames,
        average_hash_bands,
        phash_clusters,
        phash_near_dup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames = attach_token_heatmap_frames(docs, n_frames=2)
    pairs = phash_near_dup_pairs(average_hash_bands(frames)).cache()
    got = {
        (r["doc_id"], r["frame_idx"]): (
            r["keeper_doc_id"],
            r["keeper_frame_idx"],
        )
        for r in phash_clusters(pairs).collect()
    }

    # brute-force union-find over the same pairs
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    prows = pairs.collect()
    for r in prows:
        a = (r["doc_id_a"], r["frame_idx_a"])
        b = (r["doc_id_b"], r["frame_idx_b"])
        parent.setdefault(a, a), parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {u: find(u) for u in parent}
    assert got == want and len(got) > 0
    pairs.unpersist()

    # planted chain: ONE token edit per link (<=2 hash bits each), so
    # A-B and B-C pair while A-C may not — the chain still closes into
    # one family through transitivity (index-based edits: substring
    # replace would also mangle tok30..tok39 when editing tok3)
    toks = [f"tok{i}" for i in range(60)]
    base = " ".join(toks)
    mid_toks = list(toks)
    mid_toks[3] = "edit3a"
    mid = " ".join(mid_toks)
    far_toks = list(mid_toks)
    far_toks[47] = "edit47b"
    far = " ".join(far_toks)
    chain = spark.createDataFrame(
        [(0, base), (1, mid), (2, far)], "doc_id long, text string"
    )
    cframes = attach_token_heatmap_frames(chain, n_frames=1)
    cpairs = phash_near_dup_pairs(
        average_hash_bands(cframes), key_cols=("doc_id", "frame_idx")
    )
    links = {(r["doc_id_a"], r["doc_id_b"]) for r in cpairs.collect()}
    assert (0, 1) in links and (1, 2) in links
    cl = {
        r["doc_id"]: r["keeper_doc_id"]
        for r in phash_clusters(cpairs).collect()
    }
    assert cl == {0: 0, 1: 0, 2: 0}

    # planted 256-unit chain (two frames per doc, unit k linked to k+1):
    # diameter 255, so the whole chain must still collapse under (0, 0)
    units = [(k // 2, k % 2) for k in range(256)]
    lpairs = spark.createDataFrame(
        [(*units[k], *units[k + 1]) for k in range(255)],
        "doc_id_a long, frame_idx_a int, doc_id_b long, frame_idx_b int",
    )
    long_chain = {
        (r["doc_id"], r["frame_idx"]): (r["keeper_doc_id"], r["keeper_frame_idx"])
        for r in phash_clusters(lpairs).collect()
    }
    assert long_chain == {u: (0, 0) for u in units}
