"""Checkpoint/lineage resume: a killed run must not recompute
completed buckets (SURVEY.md §7 step 10)."""

from gtfs_to_geojson_spark.streaming.lineage import LineageManifest


def test_truncated_tmp_manifest_ignored(spark, tmp_path):
    """A kill mid-append leaves only hidden partial files — dot-prefixed
    or under Spark's ``_temporary`` staging — which the resume read must
    ignore, even if the kill truncated them to garbage bytes."""
    man_dir = tmp_path / "m3"
    manifest = LineageManifest(spark, str(man_dir))
    assert manifest.completed_buckets().count() == 0
    manifest.mark_done([(0, 20, 1.0), (3, 20, 1.0)])
    (man_dir / ".manifest_999_1.parquet.tmp").write_bytes(b"PAR1\x00trunc")
    staged = man_dir / "_temporary" / "0" / "_temporary" / "attempt_0"
    staged.mkdir(parents=True)
    (staged / "part-00000.snappy.parquet").write_bytes(b"PAR1\x00trunc")
    done = {r[0] for r in manifest.completed_buckets().collect()}
    assert done == {0, 3}


def test_run_bucketed_waves_resume(spark, tmp_path):
    """Wave-mode lineage: kill between waves → resume processes only
    the remaining buckets (completed waves' outputs untouched)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.streaming.lineage import (
        LineageManifest,
        run_bucketed_waves,
    )

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).alias("bucket")
    )
    out = str(tmp_path / "wave_out")
    man_dir = str(tmp_path / "wave_manifest")

    # run 1: waves of 4 → process only the first wave, then "crash"
    m1 = LineageManifest(spark, man_dir)
    todo1, skipped1 = run_bucketed_waves(
        spark, df.filter(F.col("bucket") < 4), "bucket", out, m1, wave_size=4
    )
    assert (todo1, skipped1) == (4, 0)
    first_files = {
        f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=*/part-*")
    }
    assert first_files

    # run 2 (restart): full input, waves of 4 → buckets 0-3 skipped
    m2 = LineageManifest(spark, man_dir)
    todo2, skipped2 = run_bucketed_waves(spark, df, "bucket", out, m2, wave_size=4)
    assert todo2 == 6 and skipped2 == 4
    # completed buckets' files untouched (dynamic partition overwrite)
    for f, mtime in first_files.items():
        assert os.path.getmtime(f) == mtime, f
    # all rows present exactly once
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("id").distinct().count() == 1000

    # run 3: idempotent — nothing pending, nothing rewritten, and the
    # manifest records every bucket once with its committed row count
    m3 = LineageManifest(spark, man_dir)
    assert run_bucketed_waves(spark, df, "bucket", out, m3, wave_size=4) == (0, 10)
    assert spark.read.parquet(out).count() == 1000
    rows = spark.read.parquet(man_dir).groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("rows").alias("rows")
    ).collect()
    assert len(rows) == 10
    assert all(r["n"] == 1 and r["rows"] == 100 for r in rows)


def test_tile_assign_job_fresh_run_replaces_output(spark, tmp_path):
    """A fresh run (no --resume) clears all of --out: a smaller second
    input must not inherit buckets the first run wrote."""
    import pathlib
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from jobs import tile_assign_job

    # phash-only table (the job tolerates pre-projected input); the
    # geotags cover one city, so buckets must be fine (res 13, as in
    # tools/resume_bench.py) to split it
    def images(n, path):
        spark.range(n).select(
            F.col("id").cast("string").alias("image_id"), F.xxhash64("id").alias("phash")
        ).write.parquet(path)
        return path

    big = images(2000, str(tmp_path / "big.parquet"))
    small = images(10, str(tmp_path / "small.parquet"))
    out = str(tmp_path / "assign")

    first = tile_assign_job.run(spark, big, out, bucket_res=13)
    assert first["rows"] == 2000 and first["buckets_processed"] > 10
    second = tile_assign_job.run(spark, small, out, bucket_res=13)
    assert second["rows"] == 10
    assert second["buckets_skipped_resume"] == 0
