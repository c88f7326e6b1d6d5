"""Multimodal binary-column tests: Spark plumbing plus the REAL
pure-Python PPM/WAV codecs (functions/codecs.py); unrecognized formats
still go through the documented deterministic stub."""

from __future__ import annotations

import numpy as np
import pytest

from meshtastic_airsensor_database_spark.functions.codecs import (
    CodecError,
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    resize_nearest,
    sniff_format,
)
from meshtastic_airsensor_database_spark.operators.multimodal import (
    extract_features,
    to_media_table,
)


def _ppm(w=6, h=4):
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_ppm_roundtrip_and_comment_header():
    px = _ppm()
    data = encode_ppm(px)
    assert sniff_format(data) == "ppm"
    assert np.array_equal(decode_ppm(data), px)
    # headers may carry comments and loose whitespace
    commented = b"P6 # a comment\n6\t4 # another\n255\n" + data.split(b"255\n", 1)[1]
    assert np.array_equal(decode_ppm(commented), px)


def test_ppm_malformed_raises():
    with pytest.raises(CodecError):
        decode_ppm(b"P6\n6 4\n255\n\x00\x01")  # truncated pixels
    with pytest.raises(CodecError):
        decode_ppm(b"P5\n1 1\n255\n\x00")  # wrong magic
    with pytest.raises(CodecError):
        decode_ppm(b"P6\n6 4\n70000\n" + bytes(6 * 4 * 3))  # 16-bit maxval


def test_resize_nearest_identity_and_downsample():
    px = _ppm(8, 8)
    assert np.array_equal(resize_nearest(px, 8, 8), px)
    small = resize_nearest(px, 4, 2)
    assert small.shape == (2, 4, 3)
    assert np.array_equal(small[0, 0], px[0, 0])  # corner preserved


def test_wav_roundtrip_mono_and_stereo():
    t = np.arange(800)
    mono = (np.sin(t / 10.0) * 20000).astype(np.int16)
    data = encode_wav(mono, 8000)
    assert sniff_format(data) == "wav"
    samples, rate = decode_wav(data)
    assert rate == 8000 and samples.shape == (800, 1)
    assert np.array_equal(samples[:, 0], mono)

    stereo = np.stack([mono, -mono], axis=1)
    s2, _ = decode_wav(encode_wav(stereo, 44100))
    assert s2.shape == (800, 2)
    assert np.array_equal(s2, stereo)


def test_wav_malformed_raises():
    with pytest.raises(CodecError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVEdata\x04\x00\x00\x00abcd")  # no fmt
    with pytest.raises(CodecError):
        decode_wav(b"not audio at all")


def _media(spark):
    df = spark.createDataFrame(
        [(1, "some image bytes"), (2, "other payload"), (3, None)],
        ["doc_id", "payload"],
    )
    return to_media_table(df, "doc_id", "payload", "image")


def test_media_table_schema(spark):
    media = _media(spark)
    assert [f.name for f in media.schema.fields] == ["media_id", "content", "meta"]
    row = {r.media_id: r for r in media.collect()}
    assert row[1].meta.modality == "image"
    assert row[1].meta.n_bytes == len(b"some image bytes")
    assert len(row[1].meta.sha256) == 64
    assert row[3].content is None and row[3].meta.n_bytes is None


def test_feature_extraction_drops_malformed(spark):
    """Null content exercises the decode-failure drop path
    (malformed_row_skip semantics, AIRWISEv0.py:155-157)."""
    feats = {r.media_id: r for r in extract_features(_media(spark)).collect()}
    assert set(feats) == {1, 2}  # null-content row dropped, not crashed
    assert feats[1].n_bytes == len(b"some image bytes")
    assert len(feats[1].feat_histogram) == 8
    assert sum(feats[1].feat_histogram) == feats[1].n_bytes


def test_resize_media_size_contract_and_composability(spark):
    import hashlib

    from meshtastic_airsensor_database_spark.operators.multimodal import resize_media

    resized = {r.media_id: r for r in resize_media(_media(spark), 8, 4).collect()}
    assert set(resized) == {1, 2}  # null-content row dropped
    for r in resized.values():
        assert len(r.content) == 32  # exact width*height byte contract
        assert r.meta.n_bytes == 32
        assert r.meta.sha256 == hashlib.sha256(bytes(r.content)).hexdigest()
        assert r.meta.modality == "image"
    # schema identical to input media table -> composes with extract_features
    assert [f.name for f in resize_media(_media(spark), 8, 4).schema.fields] == [
        "media_id", "content", "meta",
    ]


def test_real_codec_features_through_spark(spark):
    """PPM and WAV blobs flow through mapInPandas with REAL decoding:
    feat_mean is the decoded intensity mean (not a byte-soup stat), and
    malformed media of a recognized format are dropped, not crashed."""
    solid = np.full((4, 4, 3), 100, dtype=np.uint8)  # constant image
    tone = np.full(500, 1290, dtype=np.int16)  # constant |amplitude| -> 1290//129=10
    rows = [
        (1, bytearray(encode_ppm(solid))),
        (2, bytearray(encode_wav(tone, 8000))),
        (3, bytearray(b"P6\n9 9\n255\ntruncated")),  # malformed ppm
        (4, bytearray(b"opaque other-format bytes")),  # stub fallback
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    feats = {r.media_id: r for r in extract_features(df).collect()}
    assert set(feats) == {1, 2, 4}  # malformed PPM dropped
    assert feats[1].feat_mean == pytest.approx(100.0)
    assert feats[1].feat_histogram[100 >> 5] == 4 * 4 * 3
    assert feats[2].feat_mean == pytest.approx(10.0)
    assert feats[2].feat_histogram[0] == 500
    assert sum(feats[4].feat_histogram) == len(b"opaque other-format bytes")


def test_resize_media_really_resizes_ppm(spark):
    """A PPM blob comes back as a valid smaller PPM (decode -> nearest
    -> re-encode), while unrecognized bytes keep the stub contract."""
    from meshtastic_airsensor_database_spark.operators.multimodal import resize_media

    px = _ppm(8, 8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(px))), (2, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
    media = to_media_table(df, "doc_id", "payload", "image")
    out = {r.media_id: r for r in resize_media(media, 4, 2).collect()}
    resized = decode_ppm(bytes(out[1].content))
    assert resized.shape == (2, 4, 3)
    assert np.array_equal(resized, resize_nearest(px, 4, 2))
    assert out[1].meta.n_bytes == len(bytes(out[1].content))
    assert len(out[2].content) == 8  # stub: width*height bytes


def test_frame_sample_is_one_to_many_and_capped(spark):
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        FRAME_BYTES,
        frame_sample,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(256)) * 10), (2, b"x" * FRAME_BYTES), (3, None)],
        ["doc_id", "payload"],
    )
    media = df.selectExpr("doc_id as media_id", "payload as content")
    frames = frame_sample(media, every_n=2, max_frames=3).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert 3 not in by_id  # malformed dropped
    assert [f.frame_idx for f in sorted(by_id[1], key=lambda f: f.frame_idx)] == [0, 2, 4]
    assert all(len(f.frame) == FRAME_BYTES for f in by_id[1])
    assert [f.frame_idx for f in by_id[2]] == [0]  # single short frame


def test_resize_media_skips_null_meta_rows(spark):
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_media,
    )

    rows = [
        (1, b"payload", {"modality": "image", "mime_type": "x", "n_bytes": 7, "sha256": "s"}),
        (2, b"payload", None),  # content present, metadata missing -> skipped
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id for r in resize_media(media, 4, 4).collect()}
    assert out == {1}


def test_ahash_invariants_and_perturbation():
    """aHash: deterministic; invariant to uniform brightness scaling
    (threshold at the mean); a few flipped pixels move few bits; an
    unrelated image moves many."""
    from meshtastic_airsensor_database_spark.operators.multimodal import ahash_bytes

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    h1 = ahash_bytes(encode_ppm(base))
    assert h1 == ahash_bytes(encode_ppm(base))

    # brightness halving preserves which cells sit above the mean
    dimmed = (base // 2).astype(np.uint8)
    assert bin((h1 ^ ahash_bytes(encode_ppm(dimmed))) & (2**64 - 1)).count("1") <= 4

    # small localized edit: few bits
    edited = base.copy()
    edited[:4, :4] = 255
    d_small = bin((h1 ^ ahash_bytes(encode_ppm(edited))) & (2**64 - 1)).count("1")
    assert d_small <= 8

    # unrelated image: many bits
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    d_other = bin((h1 ^ ahash_bytes(encode_ppm(other))) & (2**64 - 1)).count("1")
    assert d_other > d_small


def test_image_neardup_pairs_end_to_end(spark):
    """Banded aHash near-dup: a near-identical image pair is found, the
    unrelated image is not paired, junk bytes are skipped, and the
    exact hamming column matches a driver-side recomputation."""
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        ahash_bytes,
        image_neardup_pairs,
        to_media_table,
    )

    rng = np.random.default_rng(23)
    base = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    near = base.copy()
    near[0:2, 0:2] = 0  # tiny edit
    far = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_ppm(base))),
        (2, bytearray(encode_ppm(near))),
        (3, bytearray(encode_ppm(far))),
        (4, bytearray(b"junk, not an image")),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    media = df.select(
        df.doc_id.cast("long").alias("media_id"),
        df.payload.cast("binary").alias("content"),
    )
    got = {(r.id_a, r.id_b): r.hamming for r in image_neardup_pairs(media).collect()}
    want_h = bin(
        (ahash_bytes(bytes(rows[0][1])) ^ ahash_bytes(bytes(rows[1][1]))) & (2**64 - 1)
    ).count("1")
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == want_h


def test_image_ahash_int_matches_python_model(spark):
    """The integer-exact aHash (oracle basis of
    image_neardup_pairs_exact) must equal an independent pure-Python
    model — nearest-neighbor 8x8 grid, integer gray sums, all-integer
    threshold, signed-64 packing — and drop undecodable rows."""
    import numpy as np

    from meshtastic_airsensor_database_spark.functions.codecs import encode_ppm
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        image_ahash_int,
    )

    def model(px):
        ri = (np.arange(8) * px.shape[0] // 8).clip(0, px.shape[0] - 1)
        ci = (np.arange(8) * px.shape[1] // 8).clip(0, px.shape[1] - 1)
        cells = px[ri[:, None], ci[None, :]].astype(np.int64).sum(axis=2)
        total = int(cells.sum())
        h = sum(1 << i for i in range(64) if cells.ravel()[i] * 64 >= total)
        return h - (1 << 64) if h >= (1 << 63) else h

    rng = np.random.RandomState(7)
    imgs = {
        1: rng.randint(0, 256, size=(16, 16, 3)).astype("uint8"),
        2: rng.randint(0, 256, size=(9, 13, 3)).astype("uint8"),  # odd dims
        3: np.zeros((8, 8, 3), dtype="uint8"),  # all-equal cells: every
        # bit set (0*64 >= 0), the tie semantics the twin mirrors
    }
    rows = [(k, encode_ppm(v)) for k, v in imgs.items()]
    rows.append((4, b"not a ppm"))  # malformed -> dropped
    rows.append((5, None))
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r["ahash"] for r in image_ahash_int(df).collect()}
    assert set(got) == {1, 2, 3}
    for k, px in imgs.items():
        assert got[k] == model(px), k
    assert got[3] == -1  # all 64 bits set, signed


def test_audio_features_int_matches_python_model(spark):
    """The integer-exact audio features (oracle basis of
    audio_fingerprint_exact) must equal an independent model — strict
    sign-change crossings, int64 energy, window assignment by
    (k*16)//n — use channel 0 of stereo, and drop undecodable rows."""
    import numpy as np

    from meshtastic_airsensor_database_spark.functions.codecs import encode_wav
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        AUDIO_INT_BANDS,
        audio_features_int,
    )

    def model(s):
        s = s.astype(np.int64)
        n = len(s)
        zc = sum(1 for k in range(1, n) if (s[k - 1] < 0) != (s[k] < 0))
        energy = int((s * s).sum())
        we = [0] * AUDIO_INT_BANDS
        for k in range(n):
            we[(k * AUDIO_INT_BANDS) // n] += int(s[k]) ** 2
        h = sum(
            1 << w
            for w in range(AUDIO_INT_BANDS)
            if we[w] * AUDIO_INT_BANDS >= energy
        )
        return (n, zc, energy, int(np.abs(s).max()), h)

    rng = np.random.RandomState(11)
    mono = rng.randint(-32768, 32768, size=240).astype(np.int16)  # n % 16 != 0
    loud_tail = np.concatenate(
        [np.zeros(128, np.int16), np.full(128, 20000, np.int16)]
    )
    stereo_l = rng.randint(-32768, 32768, size=256).astype(np.int16)
    stereo = np.stack([stereo_l, -stereo_l], axis=1)
    rows = [
        (1, encode_wav(mono, 8000)),
        (2, encode_wav(loud_tail, 8000)),
        (3, encode_wav(stereo, 44100)),  # features read channel 0
        (4, b"not audio"),  # malformed -> dropped
        (5, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: (r.n_samples, r.zero_crossings, r.energy, r.peak, r.band_hash)
        for r in audio_features_int(df).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == model(mono)
    assert got[2] == model(loud_tail)
    assert got[2][4] == 0xFF00  # energy entirely in the top 8 windows
    assert got[3] == model(stereo_l)


def test_md5_image_synth_byte_splice_matches_encode(spark):
    """The byte-splicing fast path of md5_image_media_from_ids must be
    byte-identical to the reference formulation it replaced: derive the
    base pixels from the md5 stream, stamp the (doc_id*37)%256 corner
    edit on all three channels, encode_ppm the edited array."""
    import hashlib

    import numpy as np

    from meshtastic_airsensor_database_spark.functions.codecs import encode_ppm
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        IMG_X_BASES,
        IMG_X_DIGESTS,
        IMG_X_SALT,
        IMG_X_SIDE,
        md5_image_media_from_ids,
    )

    def reference(did: int) -> bytes:
        raw = b"".join(
            hashlib.md5(f"{IMG_X_SALT}:{did % IMG_X_BASES}:{j}".encode()).digest()
            for j in range(IMG_X_DIGESTS)
        )
        px = (
            np.frombuffer(raw, dtype=np.uint8)
            .copy()
            .reshape(IMG_X_SIDE, IMG_X_SIDE, 3)
        )
        px[0, 0] = (did * 37) % 256
        return encode_ppm(px)

    # ids spanning several bases and edit values, incl. 0
    ids = [0, 1, 7, 40, 41, 123, 999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["media_id"]: bytes(r["content"])
        for r in md5_image_media_from_ids(df).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        assert got[i] == reference(i), i
