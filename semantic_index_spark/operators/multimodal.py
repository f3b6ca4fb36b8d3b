"""Multimodal column plumbing — images/audio/video as opaque binary columns.

[absent in reference — north-star extension] Pattern: a multimodal row is
``(id, media: binary, meta: struct)``. Decode / feature-extract /
frame-sample run as Arrow-batched ``mapInPandas`` stages so each executor
processes columnar batches of blobs without ever collecting to the driver.

The codec layer (round 12 — previously a stub): a REAL pure-numpy decoder
ships for the uncompressed formats a container without image libraries can
still handle exactly — binary NetPBM (P5 grayscale / P6 RGB) and 24-bit
uncompressed BMP — with PPM/PGM re-encode
(:func:`decode_image` / :func:`image_decoder`),
so ``extract_features`` runs real pixels end-to-end.
Compressed formats (PNG/JPEG) go through PIL WHEN INSTALLED
(:func:`pil_decode`, capability-gated — absent PIL raises a clear
ImportError and the pytest skips with reason); ``fake_decode`` remains
for plumbing-only tests. At 100 TB the blobs dominate I/O: keep media in
its own parquet column (columnar pruning skips it unless selected) and
repartition by size before the decode stage so batches are even.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("checksum", StringType(), True),
        StructField("feat_mean", StringType(), True),
    ]
)


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize a deterministic binary media column from text (UTF-8
    bytes) with typed metadata — exercises BinaryType end-to-end without
    codec libraries. Pure JVM expressions."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("media"),
        F.lit("application/octet-stream").alias("mime"),
        (F.length(text_col) % 640 + 1).cast("int").alias("width"),
        (F.length(text_col) % 480 + 1).cast("int").alias("height"),
    )


def fake_decode(blob: bytes) -> dict:
    """Deterministic stand-in for an image/audio decoder: derives a stable
    'feature' from the bytes. Replace with a real codec via ``decoder=``."""
    import hashlib

    n = len(blob or b"")
    return {
        "checksum": hashlib.md5(blob or b"").hexdigest(),
        "feat_mean": f"{(sum(blob[:256]) / max(min(n, 256), 1)):.4f}" if n else "0.0000",
    }


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], dict] | None = None,
    batch_partitions: int | None = None,
) -> DataFrame:
    """Decode/feature-extract stage over a media DataFrame via mapInPandas.

    ``decoder`` maps raw bytes → dict(checksum, feat_mean). Without one,
    the DEFAULT IS A STUB: pass ``decoder=fake_decode`` explicitly for the
    deterministic fake, or a real codec wrapper in production. Batches
    arrive as Arrow record batches; per-batch Python overhead is amortized
    across ~10k rows."""
    if decoder is None:
        raise NotImplementedError(
            "no media codec in this environment — pass decoder=fake_decode "
            "(deterministic stub) or a real codec callable"
        )
    if batch_partitions:
        df = df.repartition(batch_partitions)

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            feats = [decoder(b if b is not None else b"") for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(b or b"") for b in pdf["media"]],
                    "checksum": [f["checksum"] for f in feats],
                    "feat_mean": [f["feat_mean"] for f in feats],
                }
            )

    return df.mapInPandas(_run, schema=FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 64,
    every_n: int = 2,
    id_col: str = "media_id",
    media_col: str = "media",
) -> DataFrame:
    """Frame sampling over binary media: treat the blob as consecutive
    ``frame_bytes``-byte frames and keep every ``every_n``-th. The frame
    SPLIT is real, pure-JVM binary slicing (sequence → explode →
    substring on BinaryType) — what a video pipeline does after a real
    demuxer replaces this fixed-stride stub. Returns
    (id, frame_idx, frame: binary, n_bytes). Fan-out is ~blob/frame_bytes —
    the explode-heavy shape, so inputs are re-parallelized first."""
    from semantic_index_spark.operators.dedup import ensure_parallelism

    n_frames = F.ceil(F.octet_length(media_col) / F.lit(frame_bytes)).cast("int")
    base = ensure_parallelism(df).select(
        F.col(id_col), F.col(media_col), n_frames.alias("_nf")
    )
    frame = F.expr(f"substring({media_col}, frame_idx * {frame_bytes} + 1, {frame_bytes})")
    return (
        base.select(
            id_col,
            media_col,
            # stepped sequence generates ONLY the kept indices — exploding
            # every index then filtering by stride would materialize
            # every_n× the rows this explode-heavy stage needs.
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.col("_nf") - 1, F.lit(0)), F.lit(every_n)
                )
            ).alias("frame_idx"),
        )
        .select(
            F.col(id_col),
            F.col("frame_idx"),
            frame.alias("frame"),
            F.octet_length(frame).alias("n_bytes"),
        )
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata-only aggregate over a media table: byte sizes per mime type.
    Selecting only metadata columns means the parquet reader never touches
    the blob column (column pruning) — the reason media lives in a column,
    not separate files."""
    return df.groupBy("mime").agg(
        F.count("*").alias("n_media"),
        F.sum(F.octet_length("media")).alias("total_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )


def frame_signature_vec(frame_col: str = "frame", dim: int = 4) -> Column:
    """Deterministic per-frame feature vector from the frame's md5: each
    component is 8 hex chars → uint32 / 2^32 ∈ [0, 1). A portable stand-in
    for a real frame encoder (CLIP/VGGish) with the same schema
    (array<double>), so the downstream pooling plumbing is exercised and
    engine-checkable. md5 = 32 hex chars, so dim <= 4."""
    if not 1 <= dim <= 4:
        raise ValueError(f"frame_signature_vec: need 1 <= dim <= 4, got {dim}")
    h = F.md5(F.col(frame_col))
    return F.array(
        *[
            (F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("double") / F.lit(float(1 << 32)))
            for j in range(dim)
        ]
    )


def pool_frame_features(
    df: DataFrame,
    id_col: str = "media_id",
    vec_col: str = "feature",
    out_col: str = "pooled",
) -> DataFrame:
    """Mean-pool per-frame feature vectors into one media-level embedding —
    the standard video/audio aggregation after frame-level encoding.

    ONE shuffle: collect_list gathers each media's frame vectors (bounded
    by frames-per-media, which media duration bounds — NOT corpus size),
    then the element-wise sum folds JVM-side via aggregate/zip_with and
    divides by the frame count. No Python, no per-dimension re-shuffle (a
    posexplode → groupBy(id, dim) → re-assemble shape would shuffle
    dim× the rows). Returns (id, n_frames, out_col: array<double>)."""
    # count(vec_col), not count(*): collect_list drops NULL vectors, so the
    # divisor must count exactly the frames that made it into the fold (a
    # NULL-feature frame would otherwise deflate the mean).
    agg = df.groupBy(id_col).agg(
        F.collect_list(vec_col).alias("_vs"), F.count(F.col(vec_col)).alias("n_frames")
    )
    summed = F.aggregate(
        "_vs",
        # try_element_at/array_size: a group whose every vector was NULL
        # has an EMPTY _vs — plain _vs[0] would throw, and the fold's init
        # must still evaluate. Such groups pool to NULL below.
        F.expr(
            "cast(array_repeat(0.0D, coalesce(array_size(try_element_at(_vs, 1)), 0))"
            " as array<double>)"
        ),
        lambda acc, x: F.zip_with(acc, x, lambda p, q: p + q.cast("double")),
    )
    return agg.select(
        id_col,
        "n_frames",
        F.when(
            F.col("n_frames") > 0,
            F.transform(summed, lambda v: v / F.col("n_frames")),
        ).alias(out_col),
    )


def shared_frame_pairs(
    frames: DataFrame,
    id_col: str = "media_id",
    frame_col: str = "frame",
    min_shared: int = 2,
) -> DataFrame:
    """Partial-duplicate media detection: pairs of media sharing at least
    ``min_shared`` DISTINCT frame fingerprints — the video-dedup primitive
    (full re-uploads, clipped copies, spliced compilations all share
    frames). With a real perceptual frame signature swapped in for the
    md5, the same plan catches re-encodes.

    Scale shape: the (id, frame-hash) table deduplicates first, then an
    inverted-index equi-join on the hash — the same Σdf² candidate shape
    as the shingle joins (a frame shared by k media contributes k(k−1)/2
    pairs; truly ubiquitous frames — intros, black frames — are the
    ``max_df``-style cutoff lever if they ever dominate). Returns
    (id_a, id_b, n_shared)."""
    h = frames.select(
        F.col(id_col).alias("_id"), F.md5(F.col(frame_col)).alias("_h")
    ).distinct()
    a = h.select(F.col("_id").alias("id_a"), "_h")
    b = h.select(F.col("_id").alias("id_b"), "_h")
    return (
        a.join(b, "_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---- real image codec (round 12) -------------------------------------------
# Exact, dependency-free decode for the uncompressed formats: binary NetPBM
# (P5/P6) and 24-bit BITMAPINFOHEADER BMP. Everything is numpy array work —
# no per-pixel Python — so a decode stage over mapInPandas batches stays
# Arrow-fast. PIL handles compressed formats when installed (pil_decode).


def _parse_pnm_header(blob: bytes):
    """(magic, width, height, maxval, data_offset) of a binary NetPBM blob.
    Header tokens are whitespace-separated with '#' comments."""
    if len(blob) < 2 or blob[:1] != b"P" or blob[1:2] not in b"56":
        raise ValueError("not a binary NetPBM (P5/P6) blob")
    tokens, i, n = [], 2, len(blob)
    while len(tokens) < 3 and i < n:
        c = blob[i : i + 1]
        if c == b"#":  # comment to end of line
            while i < n and blob[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not blob[j : j + 1].isspace():
                j += 1
            tokens.append(int(blob[i:j]))
            i = j
    if len(tokens) < 3 or i >= n:
        raise ValueError("truncated NetPBM header")
    i += 1  # exactly ONE whitespace byte separates header from raster
    w, h, maxval = tokens
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported NetPBM maxval {maxval} (8-bit only)")
    return blob[:2].decode(), w, h, maxval, i


def decode_image(blob: bytes) -> dict:
    """Decode an uncompressed image blob EXACTLY, no libraries: binary PGM
    (P5), PPM (P6), or 24-bit uncompressed BMP. Returns ``{"width",
    "height", "channels", "pixels"}`` with pixels an (h, w, channels)
    uint8 numpy array. Raises ``ValueError`` for anything else — route
    compressed formats through :func:`pil_decode`."""
    import struct

    import numpy as np

    if blob[:2] in (b"P5", b"P6"):
        magic, w, h, _maxval, off = _parse_pnm_header(blob)
        ch = 1 if magic == "P5" else 3
        need = w * h * ch
        raster = np.frombuffer(blob, dtype=np.uint8, count=need, offset=off)
        if raster.size < need:
            raise ValueError("truncated NetPBM raster")
        return {
            "width": w, "height": h, "channels": ch,
            "pixels": raster.reshape(h, w, ch),
        }
    if blob[:2] == b"BM":
        if len(blob) < 54:
            raise ValueError("truncated BMP header")
        data_off = struct.unpack_from("<I", blob, 10)[0]
        hdr_size, w, h = struct.unpack_from("<Iii", blob, 14)
        planes, bpp, compression = struct.unpack_from("<HHI", blob, 26)
        if hdr_size < 40 or bpp != 24 or compression != 0:
            raise ValueError(
                f"only 24-bit uncompressed BITMAPINFOHEADER BMP is supported "
                f"(bpp={bpp}, compression={compression})"
            )
        flipped = h > 0  # positive height = bottom-up rows
        h = abs(h)
        stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
        need = stride * h
        raster = np.frombuffer(blob, dtype=np.uint8, count=need, offset=data_off)
        if raster.size < need:
            raise ValueError("truncated BMP raster")
        px = raster.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if flipped:
            px = px[::-1]
        return {"width": w, "height": h, "channels": 3, "pixels": px[..., ::-1].copy()}  # BGR→RGB
    raise ValueError(
        "unsupported image format (raw P5/P6/24-bit BMP decode only) — "
        "use pil_decode for compressed formats"
    )


def encode_pnm(pixels) -> bytes:
    """Re-encode an (h, w, 1|3) uint8 array as binary PGM/PPM — the exact
    inverse of :func:`decode_image`'s NetPBM path (pytest round-trips)."""
    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    magic = b"P5" if ch == 1 else b"P6"
    return magic + f"\n{w} {h}\n255\n".encode() + px.tobytes()


def pil_decode(blob: bytes) -> dict:
    """Decode ANY PIL-supported format (PNG/JPEG/...) — capability-gated:
    raises ImportError with a clear message when PIL is not installed
    (this container ships without it; the pytest skips with reason)."""
    try:
        from PIL import Image
    except ImportError as e:
        raise ImportError(
            "pil_decode needs Pillow, which is not installed in this "
            "environment — uncompressed P5/P6/BMP decode works without it "
            "(decode_image)"
        ) from e
    import io

    import numpy as np

    img = Image.open(io.BytesIO(blob))
    arr = np.asarray(img.convert("RGB" if img.mode not in ("L",) else "L"))
    if arr.ndim == 2:
        arr = arr[:, :, None]
    return {
        "width": arr.shape[1], "height": arr.shape[0],
        "channels": arr.shape[2], "pixels": arr,
    }


def image_decoder(blob: bytes) -> dict:
    """A REAL ``decoder=`` for :func:`extract_features`: decodes the blob
    (numpy path first, PIL fallback for compressed formats) and derives
    checksum + the true mean pixel intensity — the feature schema the
    fake stub emits, now from actual pixels."""
    import hashlib

    if not blob:
        return {"checksum": hashlib.md5(b"").hexdigest(), "feat_mean": "0.0000"}
    try:
        img = decode_image(blob)
    except ValueError:
        img = pil_decode(blob)
    return {
        "checksum": hashlib.md5(blob).hexdigest(),
        "feat_mean": f"{float(img['pixels'].mean()):.4f}",
    }


def make_test_image(seed: int, width: int = 8, height: int = 6, channels: int = 3) -> bytes:
    """Deterministic synthetic image bytes (binary PPM/PGM) for tests and
    demos: pixel(y, x, c) = (seed·31 + y·7 + x·13 + c·5) mod 256."""
    import numpy as np

    y, x, c = np.ogrid[0:height, 0:width, 0:channels]
    px = ((seed * 31 + y * 7 + x * 13 + c * 5) % 256).astype(np.uint8)
    return encode_pnm(px)
