"""Multimodal plumbing tests — schema, batch shape, and deterministic
pseudo-codec goldens (SURVEY §1.2 binary handling; decode itself is stubbed
by FakeCodec since no media libs ship in this container)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from doc_agent_spark.operators import multimodal


def _media_df(spark, rows):
    return spark.createDataFrame(rows, "media_ref string, content binary")


@pytest.fixture(scope="module")
def media(spark):
    return _media_df(
        spark,
        [
            ("m1", b"hello world, this is image one"),
            ("m2", b"x" * 2048),
            ("m3", b""),
        ],
    )


def test_fake_codec_dims_deterministic():
    w, h = multimodal.FakeCodec.image_dims(30)
    assert (w, h) == (16 + 30 % 241, 16 + (30 // 7) % 181)
    arr = multimodal.FakeCodec.decode_image(b"abc")
    # tiled bytes: first three pixels are a,b,c then repeat
    assert arr.dtype == np.uint8
    assert arr.flatten()[:6].tolist() == [97, 98, 99, 97, 98, 99]


def test_image_features_schema_and_values(media):
    out = {r.media_ref: r for r in multimodal.image_features(media).collect()}
    assert set(out) == {"m1", "m2", "m3"}
    r = out["m1"]
    content = b"hello world, this is image one"
    w, h = multimodal.FakeCodec.image_dims(len(content))
    assert (r.n_bytes, r.width, r.height) == (len(content), w, h)
    assert r.content_sha256 == hashlib.sha256(content).hexdigest()
    arr = multimodal.FakeCodec.decode_image(content)
    assert r.mean_pixel == pytest.approx(float(np.round(arr.mean(), 6)))
    # empty content must not crash the batch; dims from n=0
    assert out["m3"].n_bytes == 0


def test_resize_images_fixed_shape(media):
    rows = multimodal.resize_images(media, out_w=8, out_h=4).collect()
    for r in rows:
        assert (r.width, r.height) == (8, 4)
        assert len(bytes(r.pixels)) == 8 * 4
    # deterministic: same input → same pixels
    again = {r.media_ref: bytes(r.pixels) for r in multimodal.resize_images(media, 8, 4).collect()}
    assert {r.media_ref: bytes(r.pixels) for r in rows} == again


def test_sample_frames_row_expansion(media):
    rows = multimodal.sample_frames(media, every_n_bytes=512, max_frames=3).collect()
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r.media_ref, []).append(r)
    # 2048 bytes / 512 = 4 → capped at 3 frames; small/empty content → 1 frame
    assert len(by_ref["m2"]) == 3
    assert len(by_ref["m1"]) == 1
    assert len(by_ref["m3"]) == 1
    assert [r.frame_idx for r in sorted(by_ref["m2"], key=lambda x: x.frame_idx)] == [0, 1, 2]
    # frames are contiguous slices of the content
    frames = sorted(by_ref["m2"], key=lambda x: x.frame_idx)
    joined = b"".join(bytes(f.frame) for f in frames)
    assert (b"x" * 2048).startswith(joined) and len(joined) > 0


def test_audio_features(media):
    out = {r.media_ref: r for r in multimodal.audio_features(media).collect()}
    s = multimodal.FakeCodec.decode_audio(b"x" * 2048)
    assert out["m2"].n_samples == 2048
    assert out["m2"].rms == pytest.approx(float(np.round(np.sqrt((s * s).mean()), 6)))
    assert out["m2"].zero_crossings == 0  # constant signal


def test_media_from_documents_roundtrip(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.media_from_documents(docs)
    row = media.limit(1).collect()[0]
    assert row.media_ref.startswith("media://doc/")
    assert isinstance(bytes(row.content), bytes)
    feats = multimodal.image_features(media.limit(5)).collect()
    assert len(feats) == 5 and all(f.content_sha256 for f in feats)


def test_video_near_dups_frame_jaccard(spark):
    from doc_agent_spark.operators import multimodal

    base = bytes(range(256)) * 4        # 1024 bytes -> 8 frames at 128B
    rows = [
        ("v1", "video", base),
        ("v2", "video", base),                       # exact dup of v1
        ("v3", "video", base[:512] + b"\xff" * 512), # half the frames shared
        ("v4", "video", b"\x01" * 1024),             # disjoint
    ]
    media = spark.createDataFrame(
        rows, "media_ref string, media_kind string, content binary"
    )
    out = {
        (r.ref_a, r.ref_b): r.jaccard
        for r in multimodal.video_near_dups(
            media, threshold=0.4, every_n_bytes=128, max_frames=8
        ).collect()
    }
    assert out[("v1", "v2")] == 1.0
    assert ("v1", "v3") in out and 0.4 <= out[("v1", "v3")] < 1.0
    assert all("v4" not in pair for pair in out)


def test_video_near_dups_frame_df_cap_drops_boilerplate_frames(spark):
    from doc_agent_spark.operators import multimodal

    # one frame (the whole content) shared by MANY videos: with the cap
    # below the group size, no pairs emit — the quadratic trap is closed
    rows = [(f"v{i}", "video", b"same-content-everywhere") for i in range(10)]
    media = spark.createDataFrame(
        rows, "media_ref string, media_kind string, content binary"
    )
    out = multimodal.video_near_dups(
        media, threshold=0.1, every_n_bytes=128, max_frames=8, max_frame_df=5
    )
    assert out.count() == 0


def test_image_dhash_matches_index_arithmetic(spark):
    """The Arrow dHash must equal the pure index-arithmetic formulation
    (pixel[r,c] = byte[(r*w+c) % n]) that the DuckDB oracle mirrors."""
    from doc_agent_spark.operators import multimodal

    texts = ["abc", "hello world this is a longer byte buffer", "x" * 300]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    media = multimodal.media_from_documents(docs)
    got = {r.media_ref: r for r in multimodal.image_dhash(media).collect()}

    for i, t in enumerate(texts):
        b = t.encode()
        n = len(b)
        w = 16 + n % 241
        h = 16 + (n // 7) % 181
        bits = []
        for bi in range(64):
            r = ((bi // 8) * h) // 8
            c0 = ((bi % 8) * w) // 9
            c1 = ((bi % 8 + 1) * w) // 9
            bits.append("1" if b[(r * w + c0) % n] > b[(r * w + c1) % n] else "0")
        expect = "".join(bits)
        row = got[f"media://doc/{i}/full.png"]
        assert (row.width, row.height) == (w, h)
        assert row.dhash == _signed(expect)
        assert row.popcnt == expect.count("1")


def test_image_dhash_identical_content_identical_hash(spark):
    from doc_agent_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "same bytes"), (2, "same bytes"), (3, "different bytes entirely")],
        "doc_id long, text string",
    )
    rows = multimodal.image_dhash(multimodal.media_from_documents(docs)).collect()
    hs = {r.media_ref.split("/")[3]: r.dhash for r in rows}
    assert hs["1"] == hs["2"] != hs["3"]


def test_audio_fingerprint_shift_and_constant(spark):
    from pyspark.sql import functions as F

    from doc_agent_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "abcd" * 64), (2, "abcd" * 64), (3, "q" * 256)],
        "doc_id long, text string",
    )
    media = docs.select(
        F.concat(F.lit("a://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    rows = {r.media_ref: r for r in multimodal.audio_fingerprint(media).collect()}
    # identical streams -> identical fingerprints; constant stream -> all 0
    assert rows["a://1"].afp == rows["a://2"].afp
    assert rows["a://3"].afp == 0 and rows["a://3"].popcnt == 0
    assert rows["a://1"].n_samples == 256


# --- Hamming-banded perceptual retrieval (roadmap :353 media search) -------


def _signed(bits: str) -> int:
    """A '0'/'1' string read MSB-first as a long: a 64-char string with a
    leading '1' is negative (two's complement)."""
    v = int(bits, 2)
    return v - (1 << 64) if len(bits) == 64 and bits[0] == "1" else v


def _sig_df(spark, rows, col="dhash"):
    """BIGINT signatures from bit strings; the strings stay the brute-force
    reference."""
    return spark.createDataFrame(
        [(r, _signed(s)) for r, s in rows], f"media_ref string, {col} bigint"
    )


def _brute_pairs(rows, max_h):
    out = set()
    for i, (ra, sa) in enumerate(rows):
        for rb, sb in rows[i + 1:]:
            h = sum(x != y for x, y in zip(sa, sb))
            if h <= max_h:
                a, b = sorted([ra, rb])
                out.add((a, b, h))
    return out


def test_hamming_near_pairs_pigeonhole_exact(spark):
    """Within max_hamming <= n_bands-1 the banded path is EXACT: compare
    against a brute-force all-pairs oracle on a corpus with planted
    neighbors at distances 0..9."""
    import random

    rng = random.Random(11)
    base = ["".join(rng.choice("01") for _ in range(64)) for _ in range(20)]
    rows = [(f"m{i}", s) for i, s in enumerate(base)]
    # planted: distance-0 twin, distance-3, distance-7, distance-9 (>7: may
    # or may not share a band — must never FALSELY appear below threshold)
    for d, src in [(0, 0), (3, 1), (7, 2), (9, 3)]:
        s = list(base[src])
        for k in range(d):
            s[(k * 7) % 64] = "1" if s[(k * 7) % 64] == "0" else "0"
        rows.append((f"p{src}_{d}", "".join(s)))
    got = {
        (r.ref_a, r.ref_b, r.hamming)
        for r in multimodal.hamming_near_pairs(
            _sig_df(spark, rows), max_hamming=7, n_bands=8, max_band_df=None
        ).collect()
    }
    want = _brute_pairs(rows, 7)
    assert got == want
    assert any(h == 0 for *_, h in got)
    assert any(h == 7 for *_, h in got)


def test_hamming_knn_matches_brute_force_within_bound(spark):
    import random

    rng = random.Random(5)
    rows = [(f"m{i}", "".join(rng.choice("01") for _ in range(64)))
            for i in range(30)]
    q = rows[4][1]
    got = multimodal.hamming_knn(
        _sig_df(spark, rows), _signed(q), k=5, max_hamming=7
    ).collect()
    brute = sorted(
        (sum(x != y for x, y in zip(s, q)), r) for r, s in rows
        if sum(x != y for x, y in zip(s, q)) <= 7
    )[:5]
    assert [(r.hamming, r.ref) for r in got] == brute
    assert got[0].ref == "m4" and got[0].hamming == 0


def test_hamming_audio_width_31(spark):
    """Non-multiple widths ceil-split (8,8,8,7) and still verify exactly."""
    rows = [("a", "1" * 31), ("b", "1" * 30 + "0"), ("c", "0" * 31)]
    df = _sig_df(spark, rows, col="afp")
    got = {
        (r.ref_a, r.ref_b, r.hamming)
        for r in multimodal.hamming_near_pairs(
            df, max_hamming=3, sig_col="afp", n_bands=4, n_bits=31
        ).collect()
    }
    assert got == {("a", "b", 1)}


def test_search_mode_media(spark, sf_dir):
    """`doc search --mode media`: querying with a document's exact text
    bytes retrieves that doc at hamming 0 (score 64)."""
    from doc_agent_spark import api

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qtext = docs.filter("doc_id = 3").first()["text"]
    out = api._search_documents(
        spark, f"{sf_dir}/documents.parquet", qtext, limit=5, mode="media"
    ).collect()
    assert out, "media mode returned no rows"
    assert out[0].id == 3 and out[0].score == 64.0


def test_hamming_band_df_cap_drops_hot_buckets(spark):
    """max_band_df: a bucket above the cap generates no candidates from
    that band (the stop-shingle rule); pairs still meet through any other
    sub-cap shared band."""
    rows = []
    # 10 sigs share band 0 (first 8 bits all '0') but differ everywhere
    # else by >max_hamming; two of them ALSO share band 7 (sub-cap) and
    # are hamming-2 apart overall
    import random
    rng = random.Random(3)
    for i in range(10):
        tail = "".join(rng.choice("01") for _ in range(48))
        rows.append((f"h{i}", "0" * 8 + tail + "".join(rng.choice("01") for _ in range(8))))
    base = "0" * 8 + "1" * 48 + "10101010"
    near = "0" * 8 + "1" * 46 + "00" + "10101010"   # hamming 2, shares bands 0 and 7
    rows += [("p0", base), ("p1", near)]
    df = _sig_df(spark, rows)
    got = {
        (r.ref_a, r.ref_b, r.hamming)
        for r in multimodal.hamming_near_pairs(
            df, max_hamming=7, n_bands=8, max_band_df=5
        ).collect()
    }
    # band 0's bucket (12 members) is capped out; p0/p1 still pair via band 7
    assert ("p0", "p1", 2) in got
    assert all(a.startswith("p") and b.startswith("p") for a, b, _ in got)


# --- sign bit and band masks of the BIGINT signatures ----------------------


def _one_bits(*positions):
    """64-char bit string with a '1' at each string position (0 = MSB)."""
    return "".join("1" if p in positions else "0" for p in range(64))


SIGN_ROWS = [
    ("zero", "0" * 64),
    ("msb", _one_bits(0)),          # differs from zero only in the sign bit
    ("ones", "1" * 64),             # -1: hamming 64 from zero
    # band 2 of the 16-bit pair layout (string positions 32..47) is 0x8001
    # in both; bands 0, 1 and 3 each differ by one bit (hamming 3), so the
    # pair meets ONLY through a band whose top bit is set
    ("band_a", _one_bits(32, 47)),
    ("band_b", _one_bits(32, 47, 15, 31, 63)),
]


@pytest.mark.parametrize("n_bands,n_bits", [(4, 64), (8, 64), (2, 31), (4, 31)])
def test_band_layout_is_the_string_slices(spark, n_bands, n_bits):
    """Band b is the b-th ceil-split slice of the MSB-first bit string."""
    rows = [(r, s[:n_bits]) for r, s in SIGN_ROWS]
    df = _sig_df(spark, rows)
    bands = multimodal._bands(df["dhash"], n_bands, n_bits)
    got = {r[0]: list(r[1:]) for r in df.select("media_ref", *bands).collect()}
    per = (n_bits + n_bands - 1) // n_bands
    for r, s in rows:
        assert got[r] == [int(s[lo:lo + per], 2) for lo in range(0, n_bits, per)]


@pytest.mark.parametrize("n_bands", [4, 8])
def test_hamming_pairs_sign_bit_and_band_masks(spark, n_bands):
    got = {
        (r.ref_a, r.ref_b, r.hamming)
        for r in multimodal.hamming_near_pairs(
            _sig_df(spark, SIGN_ROWS), max_hamming=n_bands - 1,
            n_bands=n_bands, max_band_df=None,
        ).collect()
    }
    assert got == _brute_pairs(SIGN_ROWS, n_bands - 1)
    assert ("msb", "zero", 1) in got
    assert ("band_a", "band_b", 3) in got
    assert not any({"ones", "zero"} <= {a, b} for a, b, _ in got)


def test_hamming_knn_sign_bit_and_band_masks(spark):
    rows = SIGN_ROWS + [
        # shares only band 3 of the 8-bit kNN layout (positions 24..31,
        # 0x81) with band_q; every other band differs by one bit
        ("band_q", _one_bits(24, 31)),
        ("band_c", _one_bits(24, 31, 7, 15, 23, 39, 47, 55, 63)),
    ]
    df = _sig_df(spark, rows)
    got = {}
    for name, q in [("zero", "0" * 64), ("band_q", _one_bits(24, 31)),
                    ("ones", "1" * 64)]:
        got[name] = [(r.hamming, r.ref) for r in multimodal.hamming_knn(
            df, _signed(q), k=10, max_hamming=7).collect()]
        brute = sorted((sum(x != y for x, y in zip(s, q)), r) for r, s in rows)
        assert got[name] == [(h, r) for h, r in brute if h <= 7]
    assert got["zero"][:2] == [(0, "zero"), (1, "msb")]
    assert (7, "band_c") in got["band_q"]
    assert got["ones"] == [(0, "ones")]


def test_search_mode_media_matches_brute_force(spark, sf_dir):
    """`--mode media` returns exactly the documents within Hamming 7 of the
    query's dHash (the 8-band pigeonhole bound), ordered by (hamming, id)
    and cut at ``limit``."""
    from doc_agent_spark import api

    path = f"{sf_dir}/documents.parquet"
    docs = spark.read.parquet(path)
    sigs = {
        int(r.media_ref.split("/")[3]): r.dhash
        for r in multimodal.image_dhash(
            multimodal.media_from_documents(docs)
        ).collect()
    }
    text = {r.doc_id: r.text for r in docs.filter("doc_id IN (0, 3)").collect()}
    for qtext, limit in [(text[3], 5), (text[0][:-1] + "z", 50)]:
        _, _, q = multimodal.dhash_of_bytes(qtext.encode("utf-8"))
        ham = {i: bin((s ^ q) & (2 ** 64 - 1)).count("1") for i, s in sigs.items()}
        want = sorted((h, i) for i, h in ham.items() if h <= 7)[:limit]
        out = api._search_documents(spark, path, qtext, limit=limit, mode="media")
        assert sorted((64 - int(r.score), r.id) for r in out.collect()) == want
