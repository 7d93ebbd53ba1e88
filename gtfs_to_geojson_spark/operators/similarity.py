"""Similarity search over an embedding column (engine-new).

* brute-force cosine top-k — the exactness baseline: JVM-side dot
  product (``aggregate``/``zip_with``), window top-k; broadcast the
  query set.
* IVF-style bucketed ANN — the scale path: deterministic coarse
  centroids (seeded from stable ids), vectors assigned to nearest
  centroid in a vectorized pandas UDF; queries probe ``n_probe``
  nearest centroids; exact cosine within probed buckets only.
* EXACT near-dup pair join (``near_dup_pairs_ivf``) — Voronoi
  partition of the unit sphere with radius-expanded probing: every
  pair with cosine ≥ threshold is provably co-located in at least one
  bucket, so the result equals the brute-force all-pairs filter while
  per-bucket verification runs as blocked BLAS inside an Arrow
  kernel (no candidate-pair row explosion).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast

from .. import skew


def _cos_col(a: str, b: str, dim: int | None = None):
    """Cosine between two array<double> columns.

    ``dim=None`` uses ``aggregate``/``zip_with`` — correct for any
    length, but Spark evaluates higher-order lambdas interpreted,
    per element. With a known fixed ``dim`` the three folds unroll to
    static ``element_at`` expression chains that whole-stage-codegen
    compiles (measured ~40× on the heavy ANN run, BENCH/ROBUSTNESS.md).
    Both variants fold strictly left-to-right, so the float64 results
    are bit-identical; callers must pass the TRUE array length (a
    shorter array would turn ``element_at`` null)."""
    if dim is None:
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
        nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
        return dot / (na * nb)
    ea = [F.element_at(a, i + 1) for i in range(dim)]
    eb = [F.element_at(b, i + 1) for i in range(dim)]
    dot, sa, sb = F.lit(0.0), F.lit(0.0), F.lit(0.0)
    for i in range(dim):
        dot = dot + ea[i] * eb[i]
        sa = sa + ea[i] * ea[i]
        sb = sb + eb[i] * eb[i]
    return dot / (F.sqrt(sa) * F.sqrt(sb))


def _partial_topk_kernel(k: int, q_col: str, i_col: str):
    """Per-partition running top-k (mapInArrow). State is at most
    |Q|·k rows; each Arrow batch is merged into it and re-selected in
    pure numpy (one lexsort + group-boundary ranks per batch), so a
    partition streams through without ever materializing all its
    candidate rows at once. Arrow-native on purpose: this kernel sees
    EVERY scored candidate row, so its per-batch constant factor IS
    the partial path's entire overhead — numeric columns cross from
    the JVM zero-copy and no pandas index/block machinery runs on the
    hot path (measured A/B in tools/ann_scale_bench.py)."""

    def fn(batches):
        import pyarrow as pa

        names = None
        kq = ki = kc = None
        for rb in batches:
            if names is None:
                names = rb.schema.names
                qx, ix, cx = (names.index(n) for n in (q_col, i_col, "cosine"))
            q = rb.column(qx).to_numpy(zero_copy_only=False)
            i = rb.column(ix).to_numpy(zero_copy_only=False)
            c = rb.column(cx).to_numpy(zero_copy_only=False)
            if kq is not None:
                q = np.concatenate((kq, q))
                i = np.concatenate((ki, i))
                c = np.concatenate((kc, c))
            # Spark DESC sorts NaN above every real value; map NaN to
            # +inf so the numpy key agrees bit-for-bit with the window
            key = c.copy()
            key[np.isnan(key)] = np.inf
            order = np.lexsort((i, -key, q))  # q, then cosine DESC, id ASC
            qs = q[order]
            starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
            counts = np.diff(np.r_[starts, len(qs)])
            rank = np.arange(len(qs)) - np.repeat(starts, counts)
            sel = order[rank < k]
            kq, ki, kc = q[sel], i[sel], c[sel]
        if kq is not None and len(kq):
            cols = [None, None, None]
            cols[qx], cols[ix], cols[cx] = pa.array(kq), pa.array(ki), pa.array(kc)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return fn


def _topk_select(scored: DataFrame, k: int, q_id: str, id_col: str, partial: bool) -> DataFrame:
    """Exact top-k per query over scored candidate rows.

    ``partial=True`` (default) pre-selects top-k per *input partition*
    in one Arrow pass before the global window, so the shuffle carries
    ≤ partitions·|Q|·k survivor rows instead of every candidate — a
    measured 121× row reduction at the heavy run (40M scored → 0.33M
    shuffled, tools/ann_scale_bench.py). The default optimizes shuffle
    bytes — the scarce shared resource on a real (network + disk
    spill) cluster. On single-node page-cache shuffle the tradeoff
    inverts: the same 10M×d64 run measured window 146.7 s vs partial
    191.9 s best-of-2 interleaved (the Arrow round trip on every
    candidate costs more than an in-memory shuffle), so local[·]
    callers chasing wall clock should pass ``partial_topk=False``.
    Selection key is identical to the window's (cosine DESC with
    Spark's NaN-greatest semantics, id ASC), so the result is
    bit-identical to the plain-window plan either way.
    Precondition: non-null cosine (null embedding elements would sort
    differently from NaN; all engine sources guarantee non-null)."""
    cand = scored.select(q_id, id_col, "cosine")
    if partial:
        cand = cand.mapInArrow(_partial_topk_kernel(k, q_id, id_col), cand.schema)
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(q_id, F.col(id_col), F.round("cosine", 6).alias("cosine"), F.col("_rn").alias("rank"))
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    partial_topk: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector; ties broken by id.
    Queries are broadcast (small side), so the scan of the big
    embedding table is a single map-side pass; per-partition partial
    top-k (``_topk_select``) keeps the only shuffle at survivor size
    instead of |emb|·|Q| scored rows. Pass the embedding ``dim`` to
    unroll the cosine into codegen (bit-identical, ~40× — _cos_col)."""
    joined = emb.crossJoin(broadcast(queries))
    scored = joined.withColumn("cosine", _cos_col(vec_col, q_vec, dim))
    return _topk_select(scored, k, q_id, id_col, partial_topk)


def ivf_assign_udf(centroids: np.ndarray):
    """Vectorized: embedding batch → nearest-centroid index (argmax
    cosine against the centroid matrix in one matmul per Arrow batch)."""
    c = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return assign


def seeded_centroids(emb: DataFrame, n_centroids: int, id_col: str, vec_col: str) -> np.ndarray:
    """Deterministic IVF codebook: the vectors with the n smallest
    md5-derived hash of id — stable, data-dependent, no RNG, and
    reproducible bit-for-bit in any engine with md5 (the DuckDB
    oracle for ``ann_ivf_topk`` re-derives the identical codebook;
    a k-means refinement slots in via ``kmeans_centroids``).
    Centroid index = rank in (hash, id) order — the SQL twin's
    ``row_number() - 1``."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long")
    rows = (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(n_centroids)
        .collect()
    )
    return np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd's) for the IVF codebook.

    Each iteration is one Spark pass: assign every vector to its
    nearest centroid (vectorized matmul UDF, centroids in the
    closure), then recompute per-centroid means with
    ``posexplode(vec) → groupBy(cluster, dim).avg`` — partial
    aggregation keeps the shuffle at k·d rows regardless of table
    size. Only the (k × d) centroid matrix crosses the driver
    boundary per iteration. Deterministic: init from seeded_centroids,
    no RNG; empty clusters keep their previous centroid."""
    cents = seeded_centroids(emb, n_centroids, id_col, vec_col)
    for _ in range(max(0, n_iters)):
        assign = ivf_assign_udf(cents)
        assigned = emb.select(assign(F.col(vec_col)).alias("_c"), F.col(vec_col))
        sums = (
            assigned.select("_c", F.posexplode(vec_col).alias("_dim", "_v"))
            .groupBy("_c", "_dim")
            .agg(F.avg("_v").alias("_mean"))
            .collect()
        )
        new = cents.copy()  # clusters with no members keep their centroid
        for r in sums:
            new[r["_c"], r["_dim"]] = r["_mean"]
        norms = np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        cents = new / norms
    return cents


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    train_iters: int = 0,
    partial_topk: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """IVF-bucketed ANN: exact cosine, restricted to the n_probe
    nearest centroid buckets per query. Approximate (recall < 1 when
    the true neighbor lives in an unprobed bucket) — the scale path
    for 10^12-row tables where brute force is off the table.
    ``train_iters > 0`` refines the codebook with distributed k-means
    (better-balanced buckets → higher recall at the same n_probe)."""
    if train_iters > 0:
        cents = kmeans_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    else:
        cents = seeded_centroids(emb, n_centroids, id_col, vec_col)
    assign = ivf_assign_udf(cents)
    bucketed = emb.withColumn("_bucket", assign(F.col(vec_col)))

    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(m @ cn.T), axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = queries.withColumn("_bucket", F.explode(probe(F.col(q_vec))))
    joined = bucketed.join(broadcast(q), "_bucket")
    scored = joined.withColumn("cosine", _cos_col(vec_col, q_vec, dim))
    return _topk_select(scored, k, q_id, id_col, partial_topk)


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    bucket_col: str | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column:
    q = round(127 · v/‖v‖) per dimension, stored as a d-byte binary —
    8× smaller than array<double> (the difference between scanning
    100 TB of float vectors and 12.5 TB of codes at serving time).
    Cosine survives exactly enough for candidate generation: unit-norm
    components lie in [-1, 1], so one GLOBAL scale of 127 bounds the
    per-dim error at 1/254 with no per-dim codebook to join against.

    Pass ``centroids`` to also emit the vector's IVF home bucket in
    the SAME Arrow pass (one corpus scan produces the entire serving
    table: id, code, bucket). One map pass, no shuffle, no state."""
    cn = None
    if centroids is not None:
        cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    elif bucket_col is not None:
        raise ValueError("bucket_col requires centroids")

    fields = [
        T.StructField(id_col, emb.schema[id_col].dataType),
        T.StructField(code_col, T.BinaryType()),
    ]
    if cn is not None:
        fields.append(T.StructField(bucket_col or "_bucket", T.IntegerType()))
    out_schema = T.StructType(fields)
    src = emb.select(id_col, vec_col)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            codes = np.clip(np.rint(m * 127.0), -127, 127).astype(np.int8)
            out = {
                id_col: pdf[id_col],
                code_col: [row.tobytes() for row in codes],
            }
            if cn is not None:
                out[bucket_col or "_bucket"] = np.argmax(m @ cn.T, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, out_schema)


def _sq_score_kernel(q_codes: dict, dim: int, q_col: str, i_col: str):
    """Arrow batch kernel: int8-code candidates vs the broadcast query
    codes → approximate cosine. The GEMM runs in float32 — every int8
    product (≤ 127² = 16129) and every partial sum of ≤ dim of them
    stays below 2^24 for dim ≤ 1040, so float32 accumulation is EXACT
    integer arithmetic, bit-reproducible on any BLAS."""
    assert dim <= 1040, "float32 int-exactness bound"
    qm = np.asarray([np.frombuffer(c, dtype=np.int8) for c in q_codes.values()], dtype=np.float32)
    qn = np.maximum(np.sqrt((qm * qm).sum(axis=1)), 1e-12)
    q_ids = np.asarray(list(q_codes.keys()))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.asarray(
                [np.frombuffer(c, dtype=np.int8) for c in pdf["code"].to_numpy()],
                dtype=np.float32,
            )
            cn_ = np.maximum(np.sqrt((cm * cm).sum(axis=1)), 1e-12)
            qi = pdf[q_col].to_numpy()
            # rows arrive grouped by query only within a batch slice;
            # score each row against ITS query code via gather
            pos = {int(q): j for j, q in enumerate(q_ids)}
            sel = np.asarray([pos[int(q)] for q in qi])
            dots = np.einsum("ij,ij->i", cm, qm[sel])
            cos = (dots / (cn_ * qn[sel])).astype(np.float64)
            yield pd.DataFrame(
                {q_col: qi, i_col: pdf[i_col], "cosine": cos}
            )

    return fn


def ivf_topk_sq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    train_iters: int = 0,
    partial_topk: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """IVF retrieval over int8-quantized codes with exact float
    rescoring — the 100-TB serving plan: the wide scan touches only
    the (id, code, bucket) table (8× fewer bytes than the float
    vectors), the approximate scores shortlist k·refine candidates
    per query, and ONLY that shortlist (|Q|·k·refine rows, broadcast
    back) is rescored against the float vectors with the exact
    JVM-codegen cosine. No wide shuffle anywhere: candidates flow
    scan→score→partial-topk map-side; the rescore is a broadcast
    semi-join (at 10^12 rows the float table would be id-partitioned
    so the rescore read is targeted, not a second full scan — on this
    sandbox's parquet it is a second column-pruned pass).

    Exactness: with n_probe = n_centroids and k·refine ≥ the corpus
    size the shortlist covers everything, so the exact rescore makes
    the result IDENTICAL to brute force regardless of quantization
    error — the degenerate config the `ann_ivf_sq` DuckDB oracle
    pins (same promotion trick as ann_ivf_trained). The production
    regime (bounded probe/refine) is recall-tested in pytest."""
    if train_iters > 0:
        cents = kmeans_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    else:
        cents = seeded_centroids(emb, n_centroids, id_col, vec_col)
    codes = quantize_embeddings(
        emb, id_col=id_col, vec_col=vec_col, bucket_col="_bucket", centroids=cents
    )

    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    q_rows = queries.select(q_id, q_vec).collect()  # |Q| rows — queries are small by contract
    if not q_rows:
        return emb.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(q_id, queries.schema[q_id].dataType),
                    T.StructField(id_col, emb.schema[id_col].dataType),
                    T.StructField("cosine", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    qm = np.asarray([list(r[q_vec]) for r in q_rows], dtype=np.float64)
    qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    q_codes = {
        r[q_id]: np.clip(np.rint(v * 127.0), -127, 127).astype(np.int8).tobytes()
        for r, v in zip(q_rows, qm)
    }
    probe_idx = np.argsort(-(qm @ cn.T), axis=1)[:, :n_probe]
    d = dim or (len(qm[0]) if len(q_rows) else 0)

    spark = emb.sparkSession
    probes = spark.createDataFrame(
        [(r[q_id], [int(b) for b in row]) for r, row in zip(q_rows, probe_idx)],
        schema=T.StructType(
            [
                T.StructField(q_id, queries.schema[q_id].dataType),
                T.StructField("_probes", T.ArrayType(T.IntegerType())),
            ]
        ),
    ).select(q_id, F.explode("_probes").alias("_bucket"))

    cand = codes.join(broadcast(probes), "_bucket").select(q_id, id_col, "code")
    score_schema = T.StructType(
        [
            T.StructField(q_id, queries.schema[q_id].dataType),
            T.StructField(id_col, emb.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    scored = cand.mapInPandas(_sq_score_kernel(q_codes, d, q_id, id_col), score_schema)
    shortlist = _topk_select(scored, k * refine, q_id, id_col, partial_topk).select(q_id, id_col)

    # exact rescore: only |Q|·k·refine survivors touch the float table
    qf = queries.select(q_id, q_vec)
    rescored = (
        emb.select(id_col, vec_col)
        .join(broadcast(shortlist), id_col)
        .join(broadcast(qf), q_id)
        .withColumn("cosine", _cos_col(vec_col, q_vec, dim))
    )
    return _topk_select(rescored, k, q_id, id_col, partial=False)


def near_dup_pairs_ivf(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    train_iters: int = 0,
    max_home_per_task: int = 100_000,
    max_members_per_task: int = 200_000,
    block_rows: int = 4096,
    block_elems: int = 16_777_216,
    coverage_rounds: int = 3,
    coverage_slack: float = 0.005,
    diagnostics: dict | None = None,
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs ≥ threshold at scale.

    The sign-LSH generator (dedup.embedding_near_dup_pairs) buckets on
    8 sign bits — 256 buckets total, quadratic per bucket past ~10⁷
    rows. This operator replaces the hash buckets with a Voronoi
    partition of the unit sphere and keeps the result EXACT:

    * cosine ≥ t  ⇔  chord ‖â−b̂‖ ≤ ε, ε = √(2−2t), on L2-normalized
      vectors — the threshold join is an ε-ball join on the sphere.
    * Every vector is HOME in its nearest centroid's bucket and PROBES
      bucket c iff  d(v,c) ≤ min(d_home(v) + 2ε,  r(c) + ε), where
      r(c) is the bucket's maximum home distance. EITHER arm alone
      guarantees a pair (a,b) with ‖â−b̂‖ ≤ ε meets in b's home
      bucket c_b, so their intersection does too (triangle
      inequality, both via d(â,c_b) ≤ ‖â−b̂‖ + d(b̂,c_b)):
        arm A:  d(â,c_b) ≤ ε + d_home(b̂) ≤ ε + d(b̂,c_home(â))
                 ≤ 2ε + d_home(â);
        arm B:  d(â,c_b) ≤ ε + d_home(b̂) ≤ ε + r(c_b).
      No recall knob: the result equals brute force (pinned vs numpy
      in tests/test_dedup_text.py and vs DuckDB by the driver oracle).
      Arm B is what bounds fan-out for OUTLIERS (a vector far from
      every centroid has a huge arm-A radius but only probes buckets
      that are themselves wide or truly close).
    * COVERAGE-GROWN codebook: hash-seeded centroids can miss whole
      regions (a missed dense cluster ⇒ its members' d_home is the
      inter-cluster distance ⇒ arm A degenerates toward all-centroid
      probing — measured 277 probes/vector mean at 10⁵ rows before
      this fix). Up to ``coverage_rounds`` times, while more than
      ``coverage_slack`` of vectors have d_home > τ
      (τ = max(2ε, 2·median d_home of the first codebook)), another
      ``n_centroids`` seeds are drawn — hash-ordered, deterministic —
      from the UNCOVERED vectors themselves, so new centroids land
      exactly where the codebook fails. Growth affects only
      performance, never the result (any codebook is exact).
    * Within a bucket, HOME rows verify against ALL bucket members
      (home + probe) with blocked float64 BLAS inside one
      applyInPandas kernel — candidates never materialize as rows, so
      there is no |bucket|² shuffle, only the ≥-threshold survivors.

    Scale & skew (the ``skew`` salting every hot-key join shares):
    the only wide shuffle carries each row (1 + probes + replication)
    times; hot buckets are blocked on BOTH sides — home rows split
    into g = ⌈home/max_home_per_task⌉ salt groups, the bucket's full
    membership into c = ⌈members/max_members_per_task⌉ hash chunks,
    and the kernel runs per (bucket, salt, chunk) so every (home,
    member) pair meets in exactly one task (home row → its salt × all
    chunks, member row → all salts × its chunk; dropDuplicates folds
    cross-bucket and both-home repeats). Per-task MEMORY is therefore
    ≤ (max_home_per_task + max_members_per_task)·d·8 bytes regardless
    of bucket skew, and the BLAS working set is additionally capped at
    ``block_elems`` floats per cosine block (the home-side block
    shrinks as the member side grows — a fixed home block against an
    unbounded member matrix is exactly the 10M-row OOM this replaces).
    Cold buckets (the vast majority) keep g = c = 1: no extra
    replication. Size ``n_centroids ≈ n / target_bucket`` (plus
    ``train_iters ≥ 1`` for balance) exactly like grid kNN sizes
    targets_per_cell. Probing is selective only when ε is small
    against centroid spacing — i.e. genuine near-dup thresholds
    (≥0.9). Low thresholds degrade gracefully toward all-bucket
    probing (still exact, still blocked).

    Assumes unique ids and non-zero vectors (a zero vector has no
    direction; its cosine is NaN in any engine and never ≥ t here).
    Reference parity: engine-new — the training-data dedup family
    (SURVEY.md §2), sharing the reference's "same result, partitioned
    execution" contract.
    """
    import math

    eps = math.sqrt(max(0.0, 2.0 - 2.0 * threshold))
    # float slack: probe rules compare float64 chord distances; an
    # exactly-boundary pair must not be lost to 1 ulp of matmul error
    pad = 1e-9

    id_type = emb.schema[id_col].dataType
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_vec"),
    )

    if train_iters > 0:
        cents = kmeans_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    else:
        cents = seeded_centroids(emb, n_centroids, id_col, vec_col)
    if not len(cents):  # empty input
        return emb.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id_a", id_type),
                    T.StructField("id_b", id_type),
                    T.StructField("cosine", T.DoubleType()),
                ]
            ),
        )

    def _norm_rows(m: np.ndarray) -> np.ndarray:
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    stats_schema = T.StructType(
        [
            T.StructField("_id", id_type),
            T.StructField("_home", T.IntegerType()),
            T.StructField("_dh", T.DoubleType()),
        ]
    )

    def _stats_df(cn: np.ndarray) -> DataFrame:
        """One matmul pass: per vector, nearest centroid + chord
        distance to it. Lazy localCheckpoint — each growth round reads
        it twice (coverage fraction, seed selection)."""

        # dist-matrix chunk sized to the (possibly coverage-grown)
        # codebook: ≤ 2^23 floats (64 MB) per chunk per task
        step = max(256, min(2048, (1 << 23) // max(1, len(cn))))

        def gen(batches):
            for pdf in batches:
                ids = pdf["_id"].to_numpy()
                vecs = pdf["_vec"].to_numpy()
                for lo in range(0, len(pdf), step):
                    m = _norm_rows(np.asarray(list(vecs[lo : lo + step]), dtype=np.float64))
                    dist = np.sqrt(np.maximum(2.0 - 2.0 * (m @ cn.T), 0.0))
                    yield pd.DataFrame(
                        {
                            "_id": ids[lo : lo + step],
                            "_home": dist.argmin(axis=1).astype(np.int32),
                            "_dh": dist.min(axis=1),
                        }
                    )

        return base.mapInPandas(gen, stats_schema).localCheckpoint(eager=False)

    cn = _norm_rows(cents)
    st = _stats_df(cn)
    rounds_used = 0
    if coverage_rounds > 0:
        med = st.approxQuantile("_dh", [0.5], 0.01)[0]
        tau = max(2.0 * eps, 2.0 * (med or 0.0))
        n_total = max(1, st.count())  # hits the checkpoint, no rescan
        h = F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 15), 16, 10).cast("long")
        for _ in range(coverage_rounds):
            uncovered = st.filter(F.col("_dh") > tau)
            if uncovered.count() <= coverage_slack * n_total:
                break
            seed_ids = uncovered.withColumn("_h", h).orderBy("_h", "_id").limit(n_centroids)
            new_rows = (
                base.join(seed_ids.select("_id"), "_id", "left_semi")
                .select("_vec")
                .collect()
            )
            if not new_rows:
                break
            cn = np.vstack([cn, _norm_rows(np.asarray([list(r["_vec"]) for r in new_rows]))])
            st = _stats_df(cn)
            rounds_used += 1

    # per-bucket home radius r(c) — probe arm B (tiny aggregate: ≤ |C| rows)
    rbuf = np.zeros(len(cn), dtype=np.float64)
    for row in st.groupBy("_home").agg(F.max("_dh").alias("_r")).collect():
        rbuf[row["_home"]] = row["_r"]

    if diagnostics is not None:  # bench/test introspection, no behavior change
        diagnostics["codebook"] = cn
        diagnostics["home_radius"] = rbuf
        diagnostics["growth_rounds"] = rounds_used

    assigned_schema = T.StructType(
        [
            T.StructField("_id", id_type),
            T.StructField("_vec", T.ArrayType(T.DoubleType())),
            T.StructField("_bucket", T.IntegerType()),
            T.StructField("_home", T.BooleanType()),
        ]
    )
    limit_b = rbuf + (eps + pad)  # arm B, per centroid

    # chunk the distance matrix to ≤ 2^23 floats per task even when
    # coverage growth has multiplied the codebook (an Arrow batch can
    # be 10k+ rows; a fixed 2048 chunk at 16k centroids is 268 MB)
    probe_step = max(256, min(2048, (1 << 23) // max(1, len(cn))))

    def probe_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            vecs = pdf["_vec"].to_numpy()
            for lo in range(0, len(pdf), probe_step):
                m = _norm_rows(np.asarray(list(vecs[lo : lo + probe_step]), dtype=np.float64))
                dist = np.sqrt(np.maximum(2.0 - 2.0 * (m @ cn.T), 0.0))
                home = dist.argmin(axis=1)
                lim = np.minimum(dist.min(axis=1)[:, None] + (2.0 * eps + pad), limit_b[None, :])
                ri, ci = np.nonzero(dist <= lim)
                yield pd.DataFrame(
                    {
                        "_id": ids[lo : lo + probe_step][ri],
                        "_vec": vecs[lo : lo + probe_step][ri],
                        "_bucket": ci.astype(np.int32),
                        "_home": ci == home[ri],
                    }
                )

    # lazy localCheckpoint: assigned feeds the hot histograms AND both
    # group sides — without it the probe matmul would run once for each
    assigned = base.mapInPandas(probe_gen, assigned_schema).localCheckpoint(eager=False)

    home = assigned.filter(F.col("_home"))
    # g home lanes (_salt) × c member chunks (_chunk) per hot bucket
    hot_g = skew.hot_keys(home, "_bucket", max_home_per_task)
    hot_c = skew.hot_keys(assigned, "_bucket", max_members_per_task)
    h_side = skew.fan_out(skew.salt(home, hot_g, "_bucket", "_id"), hot_c, "_bucket", "_chunk")
    x_side = skew.salt(skew.fan_out(assigned, hot_g, "_bucket"), hot_c, "_bucket", "_id", "_chunk")
    cols = ["_bucket", "_salt", "_chunk", "_id", "_vec"]
    h_side = h_side.select(*cols, F.lit(True).alias("_h"))
    x_side = x_side.select(*cols, F.lit(False).alias("_h"))

    pair_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        hm = pdf["_h"].to_numpy()
        hs, xs = pdf[hm], pdf[~hm]
        if not len(hs) or not len(xs):
            return empty
        mx = np.asarray(list(xs["_vec"].to_numpy()), dtype=np.float64)
        nx = np.maximum(np.linalg.norm(mx, axis=1), 1e-12)
        ids_x = xs["_id"].to_numpy()
        mh = np.asarray(list(hs["_vec"].to_numpy()), dtype=np.float64)
        nh = np.maximum(np.linalg.norm(mh, axis=1), 1e-12)
        ids_h = hs["_id"].to_numpy()
        outs = []
        # cap the BLAS working set at block_elems floats: the home-side
        # block shrinks as the member matrix grows, so cos never
        # exceeds ~block_elems·8 bytes no matter the bucket shape
        step = max(1, min(block_rows, block_elems // max(1, len(mx))))
        for lo in range(0, len(hs), step):
            cos = (mh[lo : lo + step] @ mx.T) / np.outer(
                nh[lo : lo + step], nx
            )
            ii, jj = np.nonzero(cos >= threshold)
            if not len(ii):
                continue
            ida, idb = ids_h[lo + ii], ids_x[jj]
            keep = ida != idb
            ida, idb, c = ida[keep], idb[keep], cos[ii, jj][keep]
            lohi = ida < idb
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.where(lohi, ida, idb),
                        "id_b": np.where(lohi, idb, ida),
                        "cosine": c,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    pairs = (
        h_side.unionByName(x_side)
        .groupBy("_bucket", "_salt", "_chunk")
        .applyInPandas(kernel, pair_schema)
    )
    # a pair meets once per shared (bucket, salt, chunk) — cross-bucket
    # and both-home repeats fold here; survivors are tiny by construction
    return pairs.dropDuplicates(["id_a", "id_b"]).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )
