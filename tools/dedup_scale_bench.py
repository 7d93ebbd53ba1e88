"""Heavy LSH→connected-components robustness run (VERDICT r3 item 4).

The dedup family's scale story was structural until now (salting,
ids-only candidate shuffles, O(log n) CC rounds); this tool EXECUTES it
two-plus orders above the sf0.1 bench input: synthesize tens of
millions of documents with a known duplicate structure, run
minhash_lsh_pairs → connected_components end-to-end at local[32], and
verify the recovered cluster histogram EXACTLY against the synthesis.

Corpus structure (deterministic, id-arithmetic only, no RNG):
* one HOT group: ``hot_m`` docs with identical text — its band buckets
  exceed target_bucket_rows, so the salted self-join path actually
  executes (the histogram section reports the salt factor g per bucket);
* 10% of docs in exact-duplicate groups of 4 — the bulk signal
  (expected: one component of size 4 per group);
* the rest singletons with unique md5-derived text.

Shingle-space note (a real 100 TB lesson the first sizing attempt
hit): with hex-alphabet text, 4-gram shingles live in a ~65k universe,
so at 50M docs random pairs share min-hashes by pigeonhole and LSH
produces hundreds of millions of ACCIDENTAL candidates. shingle_n=8
(4.3e9-slot universe) makes cross-group band collisions vanishingly
rare — corpus-scale dedup must size the shingle space to the corpus.

Usage: python tools/dedup_scale_bench.py  (env: SPARK_GRAFT_DEDUP_DOCS
default 50_000_000, SPARK_GRAFT_CPUS, SPARK_GRAFT_DEDUP_HOT default
10_000). Prints one JSON line; paste the section into
BENCH/ROBUSTNESS.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

TARGET_BUCKET_ROWS = 2500  # force the hot group onto the salted path


def build_docs(spark, n_docs: int, hot_m: int, path: str):
    from pyspark.sql import functions as F

    if os.path.exists(path):
        return
    n_grouped = (n_docs // 10) // 4 * 4
    ids = spark.range(n_docs).select(F.col("id"))
    gid = (
        F.when(F.col("id") < hot_m, F.lit(0))
        .when(
            F.col("id") < hot_m + n_grouped,
            hot_m + F.floor((F.col("id") - hot_m) / 4),
        )
        .otherwise(F.col("id") + n_docs)  # disjoint from group gids
    )
    # text is a pure function of gid → group members are exact dups;
    # md5-hex bodies make singleton shingle sets effectively disjoint
    text = F.concat_ws(
        " ",
        F.substring(F.md5(F.concat(F.lit("t0:"), gid.cast("string"))), 1, 16),
        F.substring(F.md5(F.concat(F.lit("t1:"), gid.cast("string"))), 1, 16),
    )
    docs = ids.select(F.col("id").alias("doc_id"), text.alias("text"))
    docs.repartition(256).write.mode("overwrite").parquet(path)


def main():
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark import skew
    from gtfs_to_geojson_spark.operators import dedup, graph
    from gtfs_to_geojson_spark.session import get_spark

    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(cpus_env) if cpus_env else (os.cpu_count() or 8)
    n_docs = int(os.environ.get("SPARK_GRAFT_DEDUP_DOCS", "50000000"))
    hot_m = int(os.environ.get("SPARK_GRAFT_DEDUP_HOT", "10000"))
    # 16 hashes / 4 bands = 4-row bands. The first 50M run used 8/4
    # (2-row bands) and measured the accidental-pair floor directly:
    # 2,023 extra pairs from ~2e8 single-shared-shingle doc pairs
    # (J~=0.02; band hit 0.02^2 per band, then >=4/8 verification
    # passed ~1e-5 of candidates). 4-row bands cut the band hit to
    # 0.02^4 and verification to >=8/16 (~3e-10): expected accidental
    # pairs ~0.07 over the whole corpus -> exact recovery.
    n_hashes = int(os.environ.get("SPARK_GRAFT_DEDUP_HASHES", "16"))
    bands = 4
    n_groups = (n_docs // 10) // 4
    docs_path = f"/tmp/spark_graft_dedup_docs_{n_docs}_{hot_m}.parquet"

    spark = get_spark(
        app_name="dedup-scale-bench",
        shuffle_partitions=cpus * 4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    build_docs(spark, n_docs, hot_m, docs_path)
    docs = spark.read.parquet(docs_path)

    out: dict = {"n_docs": n_docs, "hot_m": hot_m, "n_groups": n_groups, "cpus": cpus, "n_hashes": n_hashes, "bands": bands}

    # ---- stage 1: signatures + LSH banding + salted pair join ----
    pairs_path = f"/tmp/spark_graft_dedup_pairs_{n_docs}_{hot_m}_{n_hashes}.parquet"
    shutil.rmtree(pairs_path, ignore_errors=True)
    t0 = time.time()
    pairs = dedup.minhash_lsh_pairs(
        docs,
        n_hashes=n_hashes,
        bands=bands,
        shingle_n=8,
        threshold=0.5,
        target_bucket_rows=TARGET_BUCKET_ROWS,
    )
    pairs.write.mode("overwrite").parquet(pairs_path)
    t_lsh = time.time() - t0
    n_pairs = spark.read.parquet(pairs_path).count()
    out["lsh_wall_sec"] = round(t_lsh, 1)
    out["lsh_docs_per_sec"] = round(n_docs / t_lsh, 0)
    out["n_pairs"] = n_pairs
    # expected: 6 per 4-group + C(hot_m, 2) for the hot clique
    out["n_pairs_expected"] = 6 * n_groups + hot_m * (hot_m - 1) // 2
    sys.stderr.write(f"LSH: {t_lsh:.1f}s, pairs={n_pairs} (expect {out['n_pairs_expected']})\n")

    # ---- hot-bucket salt histogram (the salting evidence) ----
    sig = dedup.minhash_signatures(docs, n_hashes=n_hashes, shingle_n=8)
    buckets = dedup.minhash_band_buckets(sig, n_hashes=n_hashes, bands=bands)
    hot = skew.hot_keys(buckets, "bucket", TARGET_BUCKET_ROWS).orderBy(F.desc("_n"))
    out["hot_buckets"] = [
        {"m": r["_n"], "salt_g": r["_g"]} for r in hot.limit(20).collect()
    ]
    sys.stderr.write(f"hot buckets: {out['hot_buckets']}\n")

    # ---- stage 2: connected components over the pair edges ----
    edges = spark.read.parquet(pairs_path).select("id_a", "id_b")
    t0 = time.time()
    cc = graph.connected_components(edges, src="id_a", dst="id_b")
    hist = (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("sz")
        .collect()
    )
    t_cc = time.time() - t0
    out["cc_wall_sec"] = round(t_cc, 1)
    out["cc_edges_per_sec"] = round(n_pairs / t_cc, 0)
    out["cluster_histogram"] = {int(r["sz"]): int(r["n_components"]) for r in hist}
    # exact recovery check: n_groups components of size 4, one of hot_m
    expected_hist = {4: n_groups, hot_m: 1}
    out["histogram_exact_match"] = out["cluster_histogram"] == expected_hist
    out["total_wall_sec"] = round(t_lsh + t_cc, 1)
    out["end_to_end_docs_per_sec"] = round(n_docs / (t_lsh + t_cc), 0)
    print(json.dumps(out))
    if not out["histogram_exact_match"]:
        sys.stderr.write(f"MISMATCH: expected {expected_hist}\n")
        sys.exit(1)


if __name__ == "__main__":
    main()
