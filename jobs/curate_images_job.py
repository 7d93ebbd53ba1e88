"""Cluster job: end-to-end image+caption corpus curation — the image
twin of jobs/curate_corpus_job.py, composing the image-payload
operator families into ONE resumable ``spark-submit`` entry point:

    exact byte dedup → phash near-dup clustering with
    best-caption canonicalization → metadata quality filter →
    (optional) eval-set decontamination → aspect-ratio bucketing →
    shape-homogeneous training-batch packing

    python tools/build_pyfiles.py
    spark-submit --master <cluster> \\
        --py-files dist/gtfs_to_geojson_spark.zip \\
        jobs/curate_images_job.py \\
        --images /path/to/images.parquet \\
        --out /path/to/out \\
        [--eval-phashes /path/to/eval.parquet] \\
        [--max-hamming 2] [--combos 2] \\
        [--min-side 64] [--min-caption-chars 8] \\
        [--batch-size 64] [--assume-sorted] [--resume]

Input: parquet of the input-hint shape — (image_id, bytes:binary,
w:int, h:int, fmt:string, caption:string, phash:int64). ``bytes`` may
be absent for metadata-only corpora; stage 1 then dedups on phash
equality instead of the content digest.

Resume model: one checkpoint per stage, ``<out>/<stage>`` parquet, as
described in gtfs_to_geojson_spark/stages.py.

Scale notes (each stage inherits its operator's contract): the exact
dedup is one groupBy on md5(bytes) — the binary column is scanned
once and never shuffled (only digest+id move); phash near-dup shuffles
ids+longs through the banded signature join (exact for max_hamming ≤
n_bands − combos), components contract in O(log n) rounds, and the
canonical pick is one struct-max aggregation; the quality filter is a
pure-Column map stage; decontamination broadcasts the eval phash set;
bucketing is a codegen stamp; batch packing is the grouped two-phase
scan — with ``--assume-sorted`` (verified at runtime) the whole
packing stage is shuffle-free. Nothing collects unbounded data to the
driver."""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--eval-phashes", default=None,
                    help="parquet with a phash:int64 column; exact-match drop")
    ap.add_argument("--max-hamming", type=int, default=2)
    ap.add_argument("--combos", type=int, default=2)
    ap.add_argument("--min-side", type=int, default=64)
    ap.add_argument("--min-caption-chars", type=int, default=8)
    ap.add_argument("--batch-size", type=int, default=64)
    ap.add_argument("--assume-sorted", action="store_true",
                    help="input is image_id-clustered: shuffle-free packing "
                         "(verified; the job fails loudly on a false claim)")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from gtfs_to_geojson_spark.operators import multimodal
    from gtfs_to_geojson_spark.stages import JobOutput, job_session

    spark = job_session("curate-images", args.shuffle_partitions)
    job = JobOutput(spark, args.out, args.resume)

    t0 = time.time()
    imgs = spark.read.parquet(args.images)
    has_bytes = "bytes" in imgs.columns

    # 1. exact dedup — min image_id per content digest (md5 over the
    # raw bytes; phash equality when the corpus is metadata-only)
    def s1():
        digest = F.md5(F.col("bytes")) if has_bytes else F.col("phash").cast("string")
        keep = (
            imgs.groupBy(digest.alias("_dg"))
            .agg(F.min("image_id").alias("image_id"))
            .select("image_id")
        )
        return imgs.join(keep, "image_id", "left_semi")

    exact = job.stage("s1_exact", s1)

    # 2. phash near-dup clustering → keep the best-captioned member
    # per cluster (longest caption, ties to smallest id)
    def s2():
        canon = multimodal.crossmodal_canonical(
            exact, max_hamming=args.max_hamming, combos=args.combos
        ).select(F.col("canonical_id").alias("image_id"))
        return exact.join(canon, "image_id", "left_semi")

    near = job.stage("s2_neardup", s2)

    # 3. metadata quality filter — one pure-Column map stage
    def s3():
        return near.filter(
            (F.col("w") >= args.min_side)
            & (F.col("h") >= args.min_side)
            & (F.length(F.col("caption")) >= args.min_caption_chars)
        )

    clean = job.stage("s3_quality", s3)

    # 4. eval-set decontamination (optional): drop training images
    # whose phash appears in the benchmark set — broadcast semi-join
    if args.eval_phashes:
        def s4():
            ev = spark.read.parquet(args.eval_phashes).select("phash").distinct()
            return clean.join(broadcast(ev), "phash", "left_anti")

        clean = job.stage("s4_decontam", s4)

    # 5+6. aspect bucketing (codegen stamp) + batch packing (grouped
    # scan; shuffle-free under --assume-sorted). One stage: the stamp
    # fuses into the packing job's scan anyway.
    def s6():
        out = multimodal.bucketed_batches(
            clean, batch_size=args.batch_size, assume_sorted=args.assume_sorted
        )
        if has_bytes:
            out = out.drop("bytes")  # the manifest references ids, not payloads
        return out

    final = job.stage("batches", s6)

    n_in = imgs.count()
    n_batches = final.select("bucket_id", "batch_id").distinct().count()
    print(
        json.dumps(
            {
                "job": "curate_images",
                "images_in": n_in,
                "images_out": job.stages[-1]["rows"],
                "n_batches": n_batches,
                "stages": job.stages,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
