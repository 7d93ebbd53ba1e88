"""Single-thread microbench rows for the numpy kernels the Spark
operators run inside their Python workers, over fixed seeded batches."""

from __future__ import annotations

import statistics
import time

import numpy as np


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def image_rows(seed: int = 0, n_images: int = 400) -> dict[str, float]:
    """µs per 16×16 image: decode per format, and ``phash64``."""
    from gtfs_to_geojson_spark import images

    rng = np.random.default_rng([seed, 7])
    px = rng.integers(0, 256, (n_images, 16, 16, 3), dtype=np.uint8)
    out: dict[str, float] = {}
    for fmt in images.FORMATS:
        blobs = [images.encode(px[i], fmt) for i in range(n_images)]
        out[f"images.decode_us.{fmt}"] = _median_s(
            lambda b=blobs, f=fmt: [images.decode(x, f) for x in b], 5) / n_images * 1e6
    out["images.phash64_us"] = _median_s(
        lambda: [images.phash64(px[i]) for i in range(n_images)], 5) / n_images * 1e6
    return out


def cell_rows(seed: int = 0, n_points: int = 1_000_000) -> dict[str, float]:
    """ns per point of ``cells.encode`` at res 16."""
    from gtfs_to_geojson_spark import cells

    rng = np.random.default_rng([seed, 8])
    lat = rng.uniform(37.70, 37.84, n_points)
    lon = rng.uniform(-122.52, -122.35, n_points)
    return {"cells.encode_ns": _median_s(lambda: cells.encode(lat, lon, 16), 7) / n_points * 1e9}


def geometry_rows() -> dict[str, float]:
    """ms for one 400 m ``buffer_line`` of a 40-vertex shape arc (as
    ``synth.make_gtfs_feed`` draws them) and for ``union_or_parts`` of
    its capsules."""
    from gtfs_to_geojson_spark import geometry

    ts = np.linspace(0.0, 1.0, 40)
    line = np.column_stack([-122.43 + 0.03 * np.cos(1.0 + ts * 2.5) * (0.5 + ts),
                            37.77 + 0.02 * np.sin(1.0 + ts * 2.5) * (0.5 + ts)])
    caps = geometry.buffer_line(line, 400.0)
    return {
        "geometry.buffer_line_ms": _median_s(lambda: geometry.buffer_line(line, 400.0), 7) * 1e3,
        "geometry.union_or_parts_ms": _median_s(lambda: geometry.union_or_parts(caps), 3) * 1e3,
    }


# the kernels each workload's operators run in their Python workers;
# rows of the other kernels read 0 on that workload
KERNELS = {
    "assign_headline": (image_rows, cell_rows),
    "knn_shuffle": (cell_rows,),
    "feed_formats": (geometry_rows,),
}
NAMES = ("images.decode_us.ppm", "images.decode_us.bmp", "images.decode_us.png",
         "images.phash64_us", "cells.encode_ns", "geometry.buffer_line_ms",
         "geometry.union_or_parts_ms")


def kernel_metrics(workload: str) -> dict[str, float]:
    out = dict.fromkeys(NAMES, 0.0)
    for rows in KERNELS[workload]:
        out.update(rows())
    return out
