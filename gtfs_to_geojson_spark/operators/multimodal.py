"""Image column operators.

Images are opaque ``binary`` columns with typed metadata (input_hint
schema). Decode / pixel stats / verify-and-assign / resize / embed run
as Arrow-batched ``mapInPandas`` kernels over the codecs in images.py:
lossless ppm/bmp/png and lossy dctq. Any other format (jpeg, webp,
mp3, mp4, …) raises ``NotImplementedError`` at the decode seam, and
each kernel turns it, like corrupt bytes, into an auditable row
instead of a failed task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import images as img

PIXEL_STATS_SCHEMA = (
    "image_id string, fmt string, w int, h int, decoded boolean, "
    "mean_r double, mean_g double, mean_b double, std_gray double, "
    "phash_match boolean"
)


# Hamming bits a lossy decode's phash64 may differ from the stored hash
# and still verify (lossless rows need equality). Measured on 1,200
# dctq images (random noise and smooth sinusoids, 16² and 64²): true
# rows differ by at most 4 bits, bytes of another noise image by at
# least 20. Near-flat images (contrast within ±8 gray levels) sit at
# 7–38 bits even when true, so they are flagged unverified.
LOSSY_PHASH_MAX_BITS = 8


def _phash_verified(got: int, stored: int, fmt: str) -> bool:
    """The per-row verification rule shared by every kernel."""
    if fmt in img.LOSSY_FORMATS:
        diff = (got ^ stored) & 0xFFFFFFFFFFFFFFFF
        return diff.bit_count() <= LOSSY_PHASH_MAX_BITS
    return got == stored


def decode_pixel_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit per-image pixel statistics plus the
    per-row invariant ``phash_match`` (the verification rule of
    decode_tile_assign)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for image_id, data, fmt, w, h, ph in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"], pdf["phash"]
            ):
                try:
                    px = img.decode(bytes(data), fmt)
                except (NotImplementedError, ValueError):
                    # foreign format OR corrupt/truncated bytes: both
                    # surface as an auditable decoded=false row — one
                    # bad byte range must not kill a 100-TB ingest job
                    rows.append((image_id, fmt, int(w), int(h), False,
                                 None, None, None, None, None))
                    continue
                gray = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                rows.append(
                    (
                        image_id, fmt, int(w), int(h), True,
                        float(px[:, :, 0].mean()), float(px[:, :, 1].mean()),
                        float(px[:, :, 2].mean()), float(gray.std()),
                        _phash_verified(img.phash64(px), int(ph), fmt),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "fmt", "w", "h", "decoded", "mean_r", "mean_g",
                    "mean_b", "std_gray", "phash_match",
                ],
            )

    return images.select("image_id", "bytes", "fmt", "w", "h", "phash").mapInPandas(
        kernel, PIXEL_STATS_SCHEMA
    )


def decode_tile_assign(images: DataFrame, res: int) -> DataFrame:
    """J9 full-integrity raster-tile assignment: decode pixels, verify
    the decoded image against the stored phash, derive the geotag from
    the *stored* hash, and assign the tile cell — one Arrow-batched
    pass over the binary column. This is the heavyweight variant of
    spatial.assign_images_to_tiles (which trusts the stored phash and
    stays JVM-side); use this one when ingesting untrusted bytes.
    Returns (image_id, caption, tile, phash_match) — ``phash_match`` is
    the per-row verification verdict: phash64(decoded) equals the
    stored hash for lossless formats, and is within
    ``LOSSY_PHASH_MAX_BITS`` of it for lossy ones; callers filter on
    it."""
    from .. import cells

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ph = np.zeros(n, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            for i, (data, fmt, stored) in enumerate(
                zip(pdf["bytes"], pdf["fmt"], pdf["phash"])
            ):
                ph[i] = int(stored)
                try:
                    px = img.decode(bytes(data), fmt)
                    ok[i] = _phash_verified(img.phash64(px), int(stored), fmt)
                except (NotImplementedError, ValueError):
                    # undecodable/corrupt bytes: the tile is still derived
                    # from the stored phash below, but the row is flagged
                    # unverified (phash_match=false) for callers to filter
                    ok[i] = False
            lon, lat = img.geotag_from_phash(ph)
            tile = cells.encode(lat, lon, res)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "caption": pdf["caption"],
                    "tile": tile,
                    "phash_match": ok,
                }
            )

    return images.select("image_id", "caption", "bytes", "fmt", "phash").mapInPandas(
        kernel, "image_id string, caption string, tile long, phash_match boolean"
    )


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded in the same format — a real
    kernel proving the decode→transform→encode plumbing. Returns the
    input schema with bytes/w/h replaced. Undecodable/corrupt rows are
    kept with null bytes and w=h=0 (filter ``bytes IS NULL`` to audit)
    rather than failing the job or silently passing through full-size
    images."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_bytes, ws, hs = [], [], []
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                try:
                    px = img.decode(bytes(data), fmt)
                except (NotImplementedError, ValueError):
                    out_bytes.append(None)
                    ws.append(0)
                    hs.append(0)
                    continue
                ys = (np.arange(out_h) * px.shape[0] // out_h).astype(np.int64)
                xs = (np.arange(out_w) * px.shape[1] // out_w).astype(np.int64)
                rs = px[ys][:, xs]
                out_bytes.append(img.encode(rs, fmt))
                ws.append(out_w)
                hs.append(out_h)
            res = pdf.copy()
            res["bytes"] = out_bytes
            res["w"] = np.asarray(ws, dtype=np.int32)
            res["h"] = np.asarray(hs, dtype=np.int32)
            yield res

    return images.mapInPandas(kernel, images.schema)


def color_embedding(images: DataFrame, grid: int = 4) -> DataFrame:
    """Image → content embedding: per-cell mean RGB on a grid×grid
    layout, centered by the image mean and L2-normalized — a
    deterministic, library-free stand-in for a learned visual
    embedding. Centering matters: raw cell means of any two images
    share the brightness component and fake high cosine; centered
    vectors make unrelated images near-orthogonal while re-encodes
    (including lossy dctq) stay at cosine ≈ 1. Returns
    (image_id, fmt, embedding array<double>)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs = []
            keep = []
            for row_i, (data, fmt) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                try:
                    px = img.decode(bytes(data), fmt).astype(np.float64)
                except (NotImplementedError, ValueError):
                    # undecodable bytes can't match anything — excluded
                    # from candidate generation (run decode_pixel_stats
                    # to audit which rows were dropped)
                    continue
                keep.append(row_i)
                h, w, _ = px.shape
                cells_ = np.empty((grid, grid, 3), dtype=np.float64)
                for gy in range(grid):
                    y0, y1 = h * gy // grid, max(h * (gy + 1) // grid, h * gy // grid + 1)
                    for gx in range(grid):
                        x0, x1 = w * gx // grid, max(w * (gx + 1) // grid, w * gx // grid + 1)
                        cells_[gy, gx] = px[y0:y1, x0:x1].mean(axis=(0, 1))
                e = (cells_ - px.mean(axis=(0, 1))).ravel()
                n = np.linalg.norm(e)
                embs.append((e / n if n > 1e-12 else e).tolist())
            sub = pdf.iloc[keep]
            yield pd.DataFrame(
                {"image_id": sub["image_id"], "fmt": sub["fmt"], "embedding": embs}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        kernel, "image_id string, fmt string, embedding array<double>"
    )


def image_near_dup_pairs(
    images: DataFrame, threshold: float = 0.98, grid: int = 4
) -> DataFrame:
    """Cross-format visual near-dup detection: the training-data
    composition the pieces were built for — decode (any codec in the
    whitelist, lossless or lossy) → color-grid embedding → bucketed
    embedding-cosine pair search (dedup.embedding_near_dup_pairs).
    Finds the same picture stored twice under different formats /
    compression, which exact byte- or phash-dedup can miss."""
    from . import dedup

    emb = color_embedding(images, grid)
    return dedup.embedding_near_dup_pairs(
        emb, threshold=threshold, id_col="image_id", vec_col="embedding"
    )


# SDXL-style resolution buckets: ~1 Mpx each, aspect from 1:4 to 4:1.
# Any fixed list works; what matters is that batches are packed within
# one bucket so every training batch is shape-homogeneous.
DEFAULT_ASPECT_BUCKETS: list[tuple[int, int]] = [
    (512, 2048), (512, 1856), (576, 1664), (640, 1536), (704, 1408),
    (768, 1344), (832, 1216), (896, 1152), (960, 1088), (1024, 1024),
    (1088, 960), (1152, 896), (1216, 832), (1344, 768), (1408, 704),
    (1536, 640), (1664, 576), (1856, 512), (2048, 512),
]

_AR_SCALE = 1_000_000


def aspect_bucket(
    images: DataFrame,
    buckets: list[tuple[int, int]] | None = None,
    w_col: str = "w",
    h_col: str = "h",
    emit_dims: bool = True,
) -> DataFrame:
    """Assign every image to the aspect-ratio bucket minimizing
    |ar_q(w,h) − ar_q(bw,bh)|, where ar_q(w,h) = (w·10^6) div h — a
    micro-quantized aspect ratio in PURE int64 arithmetic, so the
    argmin is bit-identical in any engine (no float log/division whose
    last-ulp could flip a tie at 10^12 rows). Ties break to the
    earliest bucket in the list.

    Appends ``bucket_id`` (index into ``buckets``), ``bucket_w``,
    ``bucket_h``. Entirely JVM whole-stage-codegen: the per-bucket
    distances form an array of (dist, idx, bw, bh) structs and
    ``array_min``'s lexicographic struct ordering performs the
    tie-broken argmin — no shuffle, no Python, a map-only stamp that
    fuses with whatever scan feeds it (the 10^12-image regime: this
    must cost one codegen expression per row, nothing more).

    ``emit_dims=False`` appends only ``bucket_id`` — for pipelines
    that ship rows through a byte-counted boundary (the grouped-scan
    batch packer) and re-stamp the dims afterwards with
    ``stamp_bucket_dims``."""
    bks = DEFAULT_ASPECT_BUCKETS if buckets is None else buckets
    if not bks:
        raise ValueError("aspect_bucket: empty bucket list")
    ar = F.expr(f"(cast({w_col} as bigint) * {_AR_SCALE}) div {h_col}")
    if emit_dims:
        candidates = F.array(*[
            F.struct(
                F.abs(ar - F.lit((bw * _AR_SCALE) // bh)).alias("d"),
                F.lit(i).alias("bucket_id"),
                F.lit(bw).alias("bucket_w"),
                F.lit(bh).alias("bucket_h"),
            )
            for i, (bw, bh) in enumerate(bks)
        ])
        best = F.array_min(candidates)
        return images.withColumns({
            "bucket_id": best["bucket_id"],
            "bucket_w": best["bucket_w"],
            "bucket_h": best["bucket_h"],
        })
    candidates = F.array(*[
        F.struct(
            F.abs(ar - F.lit((bw * _AR_SCALE) // bh)).alias("d"),
            F.lit(i).alias("bucket_id"),
        )
        for i, (bw, bh) in enumerate(bks)
    ])
    return images.withColumn("bucket_id", F.array_min(candidates)["bucket_id"])


def stamp_bucket_dims(
    df: DataFrame,
    buckets: list[tuple[int, int]] | None = None,
    bucket_col: str = "bucket_id",
) -> DataFrame:
    """Re-attach (bucket_w, bucket_h) from a ``bucket_id`` column via
    element_at over the literal bucket arrays — a codegen lookup, no
    join, no extra bytes carried through upstream stages."""
    bks = DEFAULT_ASPECT_BUCKETS if buckets is None else buckets
    ws = F.array(*[F.lit(bw) for bw, _ in bks])
    hs = F.array(*[F.lit(bh) for _, bh in bks])
    return df.withColumns({
        "bucket_w": F.element_at(ws, F.col(bucket_col) + 1),
        "bucket_h": F.element_at(hs, F.col(bucket_col) + 1),
    })


def bucketed_batches(
    images: DataFrame,
    batch_size: int,
    buckets: list[tuple[int, int]] | None = None,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    num_partitions: int | None = None,
    assume_sorted: bool = False,
) -> DataFrame:
    """The full image-training batch layout: aspect-bucket every image,
    then pack fixed-size shape-homogeneous batches within each bucket
    (batch_id, pos_in_batch per row, deterministic in ``id_col``
    order). Packing runs on the grouped distributed prefix scan
    (operators/scan.py) because the bucket list is ~25 groups — the
    low-cardinality regime where Spark's own partitioned window would
    serialize each bucket through a single task.

    ``assume_sorted=True`` (verified, raises on a false claim): the
    image table is already ``id_col``-clustered — the usual layout of
    a range-written 10^12-row table — so the whole job is shuffle-free:
    the bucket stamp is a codegen map expression and the packing is
    one stats aggregate + one map-only Arrow pass over the raw scan.

    Byte discipline through the Arrow boundary (measured: the packing
    pass is IPC-byte-bound, not compute-bound): only ``bucket_id``
    rides through the scan (no weight column — count mode; no bucket
    dims), and (bucket_w, bucket_h) are re-stamped afterwards as a
    codegen element_at lookup."""
    from . import scan

    packed = scan.pack_batches(
        aspect_bucket(images, buckets, w_col=w_col, h_col=h_col, emit_dims=False),
        "bucket_id", id_col, batch_size, num_partitions=num_partitions,
        assume_sorted=assume_sorted,
    )
    return stamp_bucket_dims(packed, buckets)


def crossmodal_canonical(
    images: DataFrame,
    max_hamming: int = 2,
    combos: int = 2,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Cross-modal duplicate-cluster canonicalization: cluster images
    whose perceptual hashes are within ``max_hamming`` bits (banded
    phash candidate generation → distributed connected components),
    then pick ONE canonical row per cluster by caption quality —
    longest caption wins, ties to the smallest id. The curation move
    this encodes: near-identical crawled images usually differ only in
    caption quality, so the cluster keeps the best-captioned copy.

    Returns (component, canonical_id, canonical_caption_len,
    n_members): component = min image id in the cluster (singletons
    are their own component). Scale shape: pair generation is the
    banded LSH join (exact for max_hamming ≤ n_bands − combos),
    components contract in O(log n) rounds, and the final argmax is
    one aggregation — no all-pairs stage anywhere."""
    from . import dedup
    from .graph import connected_components

    pairs = dedup.phash_near_pairs(
        images, max_hamming=max_hamming, id_col=id_col, combos=combos
    )
    comp = connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=images.select(F.col(id_col).alias("node")),
    )
    members = images.select(
        F.col(id_col).cast("long").alias("node"), F.col(caption_col).alias("_cap")
    ).join(comp, "node")
    best = F.max(
        F.struct(
            F.length("_cap").alias("len"),
            (-F.col("node")).alias("neg_id"),
        )
    )
    return (
        members.groupBy("component")
        .agg(
            (-best["neg_id"]).alias("canonical_id"),
            best["len"].alias("canonical_caption_len"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
