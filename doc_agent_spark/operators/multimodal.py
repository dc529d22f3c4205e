"""Multimodal columns — image/audio/video as opaque ``binary`` + typed metadata.

The reference ships media as in-memory Buffers (packages/extract/src/pdf.ts:27,
extract.ts:23-24) and never decodes pixels itself (the vision LLM does). Our
engine keeps the same stance at scale: media bytes travel as a ``binary``
column (or stay behind a ``media_ref`` pointer and are fetched inside the
batch), and every media stage is an Arrow-batched ``mapInPandas`` — schema,
partitioning, UDF signature and batch shape are real and tested; only the
codec itself is stubbed.

Decode strategy (this container has no image/audio libs):
- ``decode_image`` tries Pillow; absent → ``FakeCodec`` — a deterministic
  pure-bytes pseudo-decoder (dims derived from content, pixels = tiled bytes)
  so every downstream stage (features, resize, frame sampling) is exercised
  end-to-end with reproducible goldens.
- ``decode_audio`` / ``decode_video_frames`` follow the same pattern.

At 100 TB the media table is bucketed on ``media_ref`` and these stages are
narrow (zero shuffle); heavy media rows are spread with plans.skew.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# typed metadata schema for opaque media
# ---------------------------------------------------------------------------

MEDIA_META = StructType([
    StructField("media_kind", StringType()),   # 'image' | 'audio' | 'video'
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("codec", StringType()),
])

MEDIA_TABLE = StructType([
    StructField("media_ref", StringType()),
    StructField("media_kind", StringType()),
    StructField("content", BinaryType()),
    StructField("meta", MEDIA_META),
])

IMAGE_FEATURES = StructType([
    StructField("media_ref", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_pixel", DoubleType()),
    StructField("content_sha256", StringType()),
])

RESIZED = StructType([
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("pixels", BinaryType()),
])

FRAMES = StructType([
    StructField("media_ref", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame", BinaryType()),
])

AUDIO_FEATURES = StructType([
    StructField("media_ref", StringType()),
    StructField("n_samples", IntegerType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossings", IntegerType()),
])


class FakeCodec:
    """Deterministic pure-bytes pseudo-codec (no media libs in container).

    Dimensions are pure functions of the byte content length so the DuckDB
    oracle can mirror them; pixel data is the content tiled row-major. A
    real deployment swaps this for Pillow/ffmpeg via the try-imports below —
    every downstream stage is codec-agnostic (operates on ndarray).
    """

    @staticmethod
    def image_dims(n_bytes: int) -> tuple[int, int]:
        w = 16 + n_bytes % 241
        h = 16 + (n_bytes // 7) % 181
        return w, h

    @staticmethod
    def decode_image(content: bytes) -> np.ndarray:
        w, h = FakeCodec.image_dims(len(content))
        buf = np.frombuffer(content or b"\x00", dtype=np.uint8)
        return np.resize(buf, (h, w))  # tile/truncate to h×w, deterministic

    @staticmethod
    def decode_audio(content: bytes, sample_rate: int = 16000) -> np.ndarray:
        buf = np.frombuffer(content or b"\x00", dtype=np.uint8)
        return (buf.astype(np.float64) - 127.5) / 127.5  # [-1, 1] samples

    @staticmethod
    def decode_video_frames(content: bytes, n_frames: int) -> list[bytes]:
        n = max(len(content) // max(n_frames, 1), 1)
        return [content[i * n:(i + 1) * n] for i in range(n_frames)]


def _try_pillow_decode(content: bytes) -> np.ndarray | None:
    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError:
        return None
    try:
        return np.asarray(Image.open(io.BytesIO(content)).convert("L"))
    except Exception:
        return None


def decode_image(content: bytes) -> np.ndarray:
    """Grayscale ndarray (h, w). Real codec when available, else FakeCodec."""
    arr = _try_pillow_decode(content)
    return arr if arr is not None else FakeCodec.decode_image(content)


# ---------------------------------------------------------------------------
# mapInPandas stages (Arrow batches; no per-row Python UDFs)
# ---------------------------------------------------------------------------

def image_features(media: DataFrame, ref_col: str = "media_ref",
                   content_col: str = "content") -> DataFrame:
    """Per-image features: dims, mean pixel, content hash. Narrow stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf[ref_col], pdf[content_col]):
                b = bytes(content or b"")
                arr = decode_image(b)
                rows.append({
                    "media_ref": ref,
                    "n_bytes": len(b),
                    "width": int(arr.shape[1]),
                    "height": int(arr.shape[0]),
                    "mean_pixel": float(np.round(arr.mean(), 6)),
                    "content_sha256": hashlib.sha256(b).hexdigest(),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES.fields])

    return media.select(F.col(ref_col), F.col(content_col)).mapInPandas(
        run, schema=IMAGE_FEATURES
    )


def resize_images(media: DataFrame, out_w: int = 32, out_h: int = 32,
                  ref_col: str = "media_ref", content_col: str = "content") -> DataFrame:
    """Nearest-neighbour resize to (out_h, out_w); pixels back as binary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf[ref_col], pdf[content_col]):
                arr = decode_image(bytes(content or b""))
                h, w = arr.shape
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                small = arr[np.ix_(yi, xi)]
                rows.append({
                    "media_ref": ref, "width": out_w, "height": out_h,
                    "pixels": small.astype(np.uint8).tobytes(),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED.fields])

    return media.select(F.col(ref_col), F.col(content_col)).mapInPandas(run, schema=RESIZED)


def sample_frames(media: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8,
                  ref_col: str = "media_ref", content_col: str = "content") -> DataFrame:
    """Frame sampling for video rows: one frame per ``every_n_bytes`` of
    content, capped at ``max_frames`` (UDTF-style row expansion — one input
    row yields many output rows, all inside the Arrow batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf[ref_col], pdf[content_col]):
                b = bytes(content or b"")
                n_frames = min(max(len(b) // every_n_bytes, 1), max_frames)
                for i, fr in enumerate(FakeCodec.decode_video_frames(b, n_frames)):
                    rows.append({"media_ref": ref, "frame_idx": i, "frame": fr})
            yield pd.DataFrame(rows, columns=[f.name for f in FRAMES.fields])

    return media.select(F.col(ref_col), F.col(content_col)).mapInPandas(run, schema=FRAMES)


def audio_features(media: DataFrame, ref_col: str = "media_ref",
                   content_col: str = "content") -> DataFrame:
    """RMS + zero-crossing count over pseudo-decoded samples."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf[ref_col], pdf[content_col]):
                s = FakeCodec.decode_audio(bytes(content or b""))
                zc = int(np.sum(np.abs(np.diff(np.signbit(s).astype(np.int8)))))
                rows.append({
                    "media_ref": ref,
                    "n_samples": int(s.size),
                    "rms": float(np.round(np.sqrt(np.mean(s * s)), 6)),
                    "zero_crossings": zc,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES.fields])

    return media.select(F.col(ref_col), F.col(content_col)).mapInPandas(
        run, schema=AUDIO_FEATURES
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic opaque-binary media table from the documents
    testdata (content = utf-8 text bytes) — the fixture used by tests and
    the oracle-checked ``media_metadata`` query."""
    return docs.select(
        F.concat(F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/full.png")).alias("media_ref"),
        F.lit("image").alias("media_kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )


def video_near_dups(
    media: DataFrame,
    threshold: float = 0.5,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
    max_frame_df: int = 20,
    ref_col: str = "media_ref",
    content_col: str = "content",
) -> DataFrame:
    """Video near-duplicate pairs by FRAME-HASH Jaccard: ``(ref_a, ref_b,
    n_shared, n_union, jaccard)`` for video pairs whose sampled-frame md5
    sets overlap at >= threshold — the re-encode/trim-robust video dedup a
    multimodal corpus needs (same clip re-uploaded with a different
    container shares most sampled frames even when the files differ
    byte-wise).

    Composition of the existing machinery: :func:`sample_frames` (Arrow
    row expansion, codec-agnostic) → frame md5 in a codegen'd projection →
    the inverted-index pair generation of the n-gram Jaccard dedup
    (operators/dedup.py): videos never compare all-pairs, they meet ONLY
    through shared frame hashes (equi-join on the 32-byte digest), and
    frames appearing in > max_frame_df videos are dropped first — the
    stop-shingle rule transplanted to frames, bounding any hash's join
    group (intros/outros/test-pattern frames are the video world's
    boilerplate). Shuffles move frame DIGESTS, never frame bytes."""
    frames = sample_frames(
        media, every_n_bytes=every_n_bytes, max_frames=max_frames,
        ref_col=ref_col, content_col=content_col,
    )
    fh = frames.select(
        F.col("media_ref").alias("ref"), F.md5(F.col("frame")).alias("fh")
    ).distinct()
    common = (
        fh.groupBy("fh").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_frame_df).select("fh")
    )
    fh = fh.join(common, "fh", "left_anti")
    sizes = fh.groupBy("ref").agg(F.count(F.lit(1)).alias("nsz"))
    a, b = fh.alias("a"), fh.alias("b")
    shared = (
        a.join(b, "fh")
        .where(F.col("a.ref") < F.col("b.ref"))
        .groupBy(F.col("a.ref").alias("ref_a"), F.col("b.ref").alias("ref_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("ref").alias("ref_a"), F.col("nsz").alias("_na"))
    sb = sizes.select(F.col("ref").alias("ref_b"), F.col("nsz").alias("_nb"))
    out = (
        shared.join(sa, "ref_a").join(sb, "ref_b")
        .withColumn("n_union", F.col("_na") + F.col("_nb") - F.col("n_shared"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_shared").cast("double") / F.col("n_union"), 6),
        )
        .filter(F.col("n_shared").cast("double") / F.col("n_union") >= threshold)
        .select("ref_a", "ref_b", "n_shared", "n_union", "jaccard")
    )
    return out


def media_videos_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic video-flavored media table from documents testdata
    (content = utf-8 text bytes; ASCII corpus, so the DuckDB oracle's
    char-indexed substring mirrors the codec's byte slicing exactly)."""
    return docs.select(
        F.concat(
            F.lit("media://doc/"), F.col("doc_id").cast("string"), F.lit("/clip.mp4")
        ).alias("media_ref"),
        F.lit("video").alias("media_kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )


def dhash_of_bytes(b: bytes) -> tuple[int, int, int]:
    """One image's (width, height, 64-bit dHash as a signed long) — the
    shared kernel of the Arrow batch pass and the driver-side query hash
    for `doc search --mode media` (the query is a single item; hashing it
    locally is model-sized work, not a corpus collect)."""
    arr = FakeCodec.decode_image(b)
    h, w = arr.shape
    ri = (np.arange(8) * h) // 8
    cj = (np.arange(9) * w) // 9
    grid = arr[np.ix_(ri, cj)].astype(np.int16)
    bits = grid[:, :8] > grid[:, 1:]
    return w, h, int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def image_dhash(
    media: DataFrame,
    ref_col: str = "media_ref",
    content_col: str = "content",
) -> DataFrame:
    """Perceptual image fingerprint (dHash, the difference-hash of the
    classic image-dedup toolchain): nearest-neighbor sample the grayscale
    to an 8x9 grid, emit bit (i,j) = px[i,j] > px[i,j+1] -> a 64-bit
    row-major signature. Identical/near-identical pixels give identical
    signatures regardless of container bytes — the image analog of the
    text fingerprint arm. The hash ships as a ``bigint``: grid bit p
    (row-major) is bit 63-p of the long, so bit (0,0) is the sign bit.

    Decodes via FakeCodec DIRECTLY (not the Pillow-first path): the gate
    needs the deterministic pseudo-codec on both engines; a real
    deployment swaps one line to decode_image. Arrow mapInPandas with
    the grid fully vectorized per image; zero shuffle.
    """
    schema = f"{ref_col} string, width int, height int, dhash bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [(ref, *dhash_of_bytes(bytes(content or b"\x00")))
                    for ref, content in zip(pdf[ref_col], pdf[content_col])]
            yield pd.DataFrame(rows, columns=[ref_col, "width", "height", "dhash"])

    return media.select(ref_col, content_col).mapInPandas(
        run, schema=schema
    ).withColumn("popcnt", F.bit_count("dhash"))


def audio_fingerprint(
    media: DataFrame,
    ref_col: str = "media_ref",
    content_col: str = "content",
    n_frames: int = 32,
) -> DataFrame:
    """Acoustic fingerprint (a chromaprint-style energy-delta signature,
    deterministically simplified): split the decoded sample stream into
    ``n_frames`` equal frames, bit f = mean |amplitude| of frame f >
    frame f+1 -> an (n_frames-1)-bit signature robust to container bytes
    and re-encoding offsets the way dHash is for images. It ships as a
    ``bigint`` with frame bit f at bit n_frames-2-f (frame 0 most
    significant).

    ALL-INTEGER comparison: frame energy is the exact integer sum of
    |2*byte - 255| and means compare cross-multiplied (e_i*n_j >
    e_j*n_i), so no float summation order can flip a bit between numpy
    (pairwise summation) and the DuckDB mirror (sequential fold).
    """
    schema = f"{ref_col} string, n_samples int, afp bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, ns, fps = [], [], []
            for ref, content in zip(pdf[ref_col], pdf[content_col]):
                b = bytes(content or b"\x00")
                buf = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                amp = np.abs(2 * buf - 255)
                n = len(buf)
                bounds = [(f * n) // n_frames for f in range(n_frames + 1)]
                e = [int(amp[bounds[f]:bounds[f + 1]].sum()) for f in range(n_frames)]
                c = [max(bounds[f + 1] - bounds[f], 1) for f in range(n_frames)]
                sig = 0
                for f in range(n_frames - 1):
                    sig = (sig << 1) | (e[f] * c[f + 1] > e[f + 1] * c[f])
                refs.append(ref)
                ns.append(n)
                fps.append(sig)
            yield pd.DataFrame({ref_col: refs, "n_samples": ns, "afp": fps})

    return media.select(ref_col, content_col).mapInPandas(
        run, schema=schema
    ).withColumn("popcnt", F.bit_count("afp"))


# ---------------------------------------------------------------------------
# Perceptual-hash retrieval (SEMANTIC-SEARCH-ROADMAP.md:353 "multi-modal
# search"): Hamming-nearest queries over the dHash / audio-FP signatures
# through the same banded-LSH machinery the SimHash text path uses — cut
# the integer signature into bit bands, candidates meet ONLY inside a band
# bucket (never all-pairs), then an exact bit_count(a ^ b) verify. By
# pigeonhole a pair within Hamming distance <= n_bands - 1 shares at least
# one intact band, so max_hamming = n_bands - 1 is EXACT retrieval, not
# approximate.
# ---------------------------------------------------------------------------

def _bands(sig, n_bands: int, n_bits: int) -> list:
    """The band layout of an ``n_bits``-wide long signature: band b holds
    bits [b*per, (b+1)*per) counted from the most significant one, as the
    non-negative long ``(sig >> shift_b) & mask_b``. The split is ceil, so
    a non-multiple width (the 31-bit audio FP) puts the remainder in the
    last band."""
    per = (n_bits + n_bands - 1) // n_bands
    out = []
    for lo in range(0, n_bits, per):
        w = min(per, n_bits - lo)
        out.append(F.shiftright(sig, n_bits - lo - w).bitwiseAND((1 << w) - 1))
    return out


def hamming_near_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    ref_col: str = "media_ref",
    sig_col: str = "dhash",
    n_bands: int = 4,
    n_bits: int = 64,
    max_band_df: int | None = 256,
) -> DataFrame:
    """All signature pairs within ``max_hamming`` bits: banded candidate
    generation (equi-join on (band, band_val)) then exact verify.
    EXACT when max_hamming <= n_bands - 1 (pigeonhole) and no bucket is
    capped. Returns (ref_a, ref_b, hamming).

    The defaults are the corpus-scale operating point (r5, found by the
    sf1.0 bench — 50k CORRELATED docs in 8-bit bands produced 1.3k-doc hot
    buckets and 8e7 candidate pairs, a 50× super-linear entry):
    - band WIDTH is the primary dial: n_bands=4 → 16-bit bands → 65,536
      buckets per band; candidates ≈ T·N²/2^width. Wider bands trade the
      pigeonhole exactness bound down (≤ n_bands-1) — the standard
      corpus-scale operating point for perceptual-hash dedup, where the
      interesting pairs are a few bits apart anyway.
    - ``max_band_df`` is the skew backstop: drop band buckets above the
      cap before the self-join (the stop-shingle / video frame-DF rule).
      A pair whose every intact band is hot is missed — the documented
      recall trade every production LSH makes on boilerplate-heavy data.
      ``None`` keeps every bucket.
    """
    b = sigs.select(
        F.col(ref_col).alias("ref"), F.col(sig_col).alias("sig"),
        F.posexplode(F.array(*_bands(F.col(sig_col), n_bands, n_bits)))
        .alias("band", "band_val"),
    )
    if max_band_df is not None:
        hot = (
            b.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_band_df)
            .select("band", "band_val")
        )
        b = b.join(hot, ["band", "band_val"], "left_anti")
    cands = (
        b.alias("a").join(b.alias("b"), ["band", "band_val"])
        .where(F.col("a.ref") < F.col("b.ref"))
        .select(F.col("a.ref").alias("ref_a"), F.col("b.ref").alias("ref_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["ref_a", "ref_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("ref_a", "ref_b", "hamming")
    )


def hamming_knn(
    sigs: DataFrame,
    query_sig: int,
    k: int = 10,
    max_hamming: int = 7,
    ref_col: str = "media_ref",
    sig_col: str = "dhash",
    n_bands: int = 8,
    n_bits: int = 64,
    tie=None,
) -> DataFrame:
    """Single-query Hamming top-k (the `doc search --mode media` serve
    shape): rows sharing >= 1 band with the query are scanned — a static
    OR of band equalities the scan evaluates without any join or shuffle —
    then exact-verified and TakeOrdered'd. Exact for max_hamming <=
    n_bands - 1. Returns (ref, hamming) ordered by (hamming asc, ref asc).

    Unlike :func:`hamming_near_pairs` this keeps 8 narrow bands: the band
    filter is one linear scan with no self-join, so narrow bands cost no
    candidate blow-up, and they keep the exactness bound at 7 bits, the
    radius every caller asks for."""
    q = F.lit(query_sig).cast("long")
    sig = F.col(sig_col)
    match = None
    for sb, qb in zip(_bands(sig, n_bands, n_bits), _bands(q, n_bands, n_bits)):
        match = sb == qb if match is None else match | (sb == qb)
    out = (
        sigs.filter(match)
        .withColumn("hamming", F.bit_count(sig.bitwiseXOR(q)))
        .filter(F.col("hamming") <= max_hamming)
    )
    # default tie-break is ref ASC (string order — what the oracle arm
    # pins); callers whose refs embed a numeric id pass ``tie`` (a Column
    # over the sigs frame) so membership at the k cut matches the
    # id-asc convention of the other search modes (review finding r5)
    order = [F.asc("hamming")]
    if tie is not None:
        order.append(tie.asc())
    order.append(F.asc(ref_col))
    return (
        out.orderBy(*order).limit(k)
        .select(F.col(ref_col).alias("ref"), "hamming")
    )
