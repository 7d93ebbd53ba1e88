"""Image-table provider (sources/images.py): input_hint schema
contract, bucket layout, partition pruning, Iceberg seam."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gtfs_to_geojson_spark import images as I
from gtfs_to_geojson_spark.sources import images as provider


@pytest.fixture(scope="module")
def image_df(spark):
    from gtfs_to_geojson_spark.synth import make_images

    return spark.createDataFrame(make_images(n=200), schema=provider.IMAGE_SCHEMA)


def test_validate_schema_roundtrip(spark, image_df, tmp_path):
    loc = str(tmp_path / "imgs")
    provider.write_images(image_df, loc, n_buckets=8)
    back = provider.read_images(spark, loc)
    assert back.count() == 200
    # canonical column order, bucket kept as extra
    assert back.columns[:7] == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    assert "bucket" in back.columns
    # caption equality + pixel roundtrip per row (input_hint invariant)
    row = back.orderBy("image_id").first()
    px = I.decode(bytes(row["bytes"]), row["fmt"])
    assert px.shape == (row["h"], row["w"], 3)
    assert I.phash64(px) == row["phash"]


def test_validate_schema_rejects_wrong_types(spark, image_df):
    bad = image_df.withColumn("phash", F.col("phash").cast("int"))
    with pytest.raises(ValueError, match="phash"):
        provider.validate_schema(bad)
    with pytest.raises(ValueError, match="missing column caption"):
        provider.validate_schema(image_df.drop("caption"))


def test_bucket_pruning(spark, image_df, tmp_path):
    loc = str(tmp_path / "imgs_bucketed")
    provider.write_images(image_df, loc, n_buckets=8)
    one = provider.read_bucket(spark, loc, 3)
    # hive partition pruning: the bucket predicate is a PartitionFilter
    # on the scan (inputFiles() lists the pre-pruning index, so inspect
    # the physical plan instead)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    # bucket column is the documented hash
    rows = one.select("image_id", "bucket").collect()
    expected = one.select(
        "image_id", F.pmod(F.xxhash64("image_id"), F.lit(8)).alias("b")
    ).collect()
    assert all(r["bucket"] == 3 for r in rows)
    assert all(e["b"] == 3 for e in expected)
    # all buckets together cover the table exactly
    total = sum(
        provider.read_bucket(spark, loc, b).count() for b in range(8)
    )
    assert total == 200


def test_iceberg_seam_off_in_sandbox(spark):
    # no Iceberg jar here — the provider must take the parquet path
    assert provider.iceberg_available(spark) is False


def test_bucketed_table_join_skips_exchange(spark, image_df):
    """bucketBy(image_id) saveAsTable: a self-join on image_id must not
    shuffle the bucketed sides (no Exchange feeding the SortMergeJoin)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    provider.write_images_bucketed_table(image_df, "imgs_bucketed_test", n_buckets=8)
    t = spark.table("imgs_bucketed_test")
    # disable broadcast so the join strategy is SMJ over bucketed scans
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t.select("image_id", "phash").join(
            t.select("image_id", "caption"), "image_id"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        import re

        n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchange == 0, plan
        assert j.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS imgs_bucketed_test")


def test_spatial_image_layout_prunes_and_is_exact(spark, images_df, tmp_path):
    """Image table Z-ordered by geotag: a tile-range read returns
    exactly the images in the tile, and the written files carry
    disjoint Morton ranges (the stats the reader prunes on)."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    from gtfs_to_geojson_spark import cells
    from gtfs_to_geojson_spark import images as I
    from gtfs_to_geojson_spark.operators import layout
    from gtfs_to_geojson_spark.sources import images as SRC

    path = str(tmp_path / "img_spatial.parquet")
    SRC.write_images_spatial(images_df, path, res=16, n_files=4)

    pdf = images_df.select("image_id", "phash").toPandas()
    lon, lat = I.geotag_from_phash(pdf["phash"].to_numpy())
    # the dense hotspot cell at res 8 holds ~30% of images
    cell = int(cells.encode(np.asarray([lat[0]]), np.asarray([lon[0]]), 8)[0])
    got = sorted(layout.read_cell(spark, path, cell, data_res=16).toPandas()["image_id"])
    want_cells = cells.encode(lat, lon, 8)
    want = sorted(pdf["image_id"].to_numpy()[want_cells == cell])
    assert got == want and len(want) > 0
    # disjoint sorted per-file ranges
    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ci = names.index(layout.MORTON_COL)
        st = [md.row_group(rg).column(ci).statistics for rg in range(md.num_row_groups)]
        ranges.append((min(s.min for s in st), max(s.max for s in st)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_phash_near_pairs_from_real_pixels(spark):
    """phash_near_pairs over phashes computed from actual pixels
    (images.phash64), not synthetic bit math: 8 base images whose 8×8
    average-hash cells are a high-contrast random pattern, each paired
    with a near-duplicate that flips exactly two cells (hamming == 2).
    The banded join must return exactly the 8 planted pairs — the
    pigeonhole guarantee (max_hamming 3 ≤ n_bands−1) makes it exact."""
    import pandas as pd

    from gtfs_to_geojson_spark.operators import dedup

    rng = np.random.default_rng(7)
    rows = []
    for i in range(8):
        pattern = rng.integers(0, 2, (8, 8))
        pattern[0, 0], pattern[7, 7] = 0, 1  # both levels present
        base = np.kron(pattern * 200, np.ones((8, 8), dtype=np.int64))
        px = np.stack([base] * 3, -1).astype(np.uint8)
        near = pattern.copy()
        fy, fx = (i % 8, (i * 3 + 1) % 8), ((i + 2) % 8, (i * 5 + 3) % 8)
        near[fy] ^= 1
        near[fx] ^= 1
        nbase = np.kron(near * 200, np.ones((8, 8), dtype=np.int64))
        npx = np.stack([nbase] * 3, -1).astype(np.uint8)
        ha, hb = I.phash64(px), I.phash64(npx)
        assert bin((ha ^ hb) & (2**64 - 1)).count("1") == 2
        rows += [(f"img_{i}_a", ha), (f"img_{i}_b", hb)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash"]),
        schema="image_id string, phash long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.phash_near_pairs(df, max_hamming=3).collect()
    }
    # brute-force ground truth over the same 16 phashes
    ph = dict(rows)
    ids = sorted(ph)
    want = {
        (a, b): bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1")
        for ia, a in enumerate(ids)
        for b in ids[ia + 1:]
        if bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == want
    assert len(got) == 8 and all(h == 2 for h in got.values())
