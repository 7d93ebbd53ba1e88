"""GeoJSON sinks S6–S10 (SURVEY.md §2.1).

The reference writes ``JSON.stringify(featureCollection)`` to one file
per group — per agency, per (route, direction), or per shape
(src/lib/gtfs-to-geojson.ts:160-162,225-228,239-243). Here one features
DataFrame carries every group's features with its ``GROUP`` index; the
driver streams it once, clustered by group, and writes the files one
after another, holding at most two partitions of features at a time.
"""

from __future__ import annotations

import itertools
import os
import shutil
import zipfile
from typing import Iterable

from pyspark.sql import DataFrame

from .operators.filters import GROUP

ORDER = "_order"  # optional features column: order within a group's file


def prep_directory(path: str, overwrite: bool = True) -> None:
    """S10 — mkdir; refuse non-empty unless overwrite (reference
    src/lib/file-utils.ts:82-112)."""
    if os.path.isdir(path) and os.listdir(path):
        if not overwrite:
            raise FileExistsError(f"output dir not empty: {path}")
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)


def write_geojson_groups(features: DataFrame, paths: list[str]) -> list[dict]:
    """S6 — one ``FeatureCollection`` per group: the features of group
    ``i`` (``GROUP`` = i) go to ``paths[i]``, in ``ORDER`` when the
    frame has that column; a group without features gets an empty
    collection. Returns the manifests (filename, n_features, bytes) in
    group order.

    One pass: ``toLocalIterator`` hands the driver one partition at a
    time and computes the next one meanwhile. With several groups, a
    hash repartition on ``GROUP`` plus a sort within partitions makes
    each group one contiguous run, its features in a fixed order; a
    single group streams in plan order (a union's children in turn)."""
    if not paths:
        return []
    order = [GROUP] + ([ORDER] if ORDER in features.columns else [])
    rows = features.select(*order, "feature_json")
    if len(paths) > 1:
        rows = rows.repartition(GROUP).sortWithinPartitions(*order, "feature_json")
    done: dict[int, dict] = {}
    stream = rows.toLocalIterator(prefetchPartitions=True)
    for g, run in itertools.groupby(stream, key=lambda r: r[GROUP]):
        if g in done:
            raise RuntimeError(f"group {g} is not contiguous in the features stream")
        done[g] = write_single_geojson((r["feature_json"] for r in run), paths[g])
    for g, path in enumerate(paths):
        if g not in done:
            done[g] = write_single_geojson((), path)
    return [done[g] for g in range(len(paths))]


def write_single_geojson(features: Iterable[str], path: str) -> dict:
    """One FeatureCollection file from feature JSON strings, written as
    they arrive (same separators as ``JSON.stringify``)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    n = 0
    with open(path, "w") as f:
        f.write('{"type":"FeatureCollection","features":[')
        for fj in features:
            if n:
                f.write(",")
            f.write(fj)
            n += 1
        f.write("]}")
    return {
        "filename": os.path.basename(path),
        "n_features": n,
        "bytes": os.path.getsize(path),
    }


def zip_outputs(out_dir: str, zip_path: str) -> int:
    """S8 — zip *.json/*.geojson outputs (reference
    src/lib/file-utils.ts:47-77 filters the same extensions).
    Driver-side post-process, as in the reference."""
    n = 0
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(out_dir):
            for fn in files:
                if fn.endswith((".json", ".geojson")):
                    zf.write(os.path.join(root, fn), os.path.relpath(os.path.join(root, fn), out_dir))
                    n += 1
    return n
