"""connected_components (large-star/small-star) vs a union-find
reference — random graphs, deep chains (diameter ≫ O(log n) rounds),
isolated nodes, duplicate/self edges."""

import numpy as np
import pandas as pd
import pytest

from gtfs_to_geojson_spark.operators import graph


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for x in range(n_nodes):
        r = find(x)
        m = min(i for i in range(n_nodes) if find(i) == r)
        out[x] = m
    return out


def _run(spark, edges, nodes=None):
    edf = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], schema="src long, dst long"
    )
    ndf = None
    if nodes is not None:
        ndf = spark.createDataFrame(pd.DataFrame({"node": list(nodes)}))
    got = graph.connected_components(edf, nodes=ndf).collect()
    return {r["node"]: r["component"] for r in got}


def test_cc_random_graphs_match_union_find(spark):
    rng = np.random.default_rng(7)
    for trial in range(3):
        n = 120
        m = int(rng.integers(40, 200))
        edges = [
            (int(rng.integers(0, n)), int(rng.integers(0, n))) for _ in range(m)
        ]
        want = _uf_components(n, edges)
        got = _run(spark, edges, nodes=range(n))
        assert got == want, trial


def test_cc_deep_chain_converges_in_log_rounds(spark):
    # a 300-node path has diameter 299 — label propagation would need
    # ~300 rounds; star contraction must finish inside max_iters=30
    edges = [(i, i + 1) for i in range(299)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(300)}


def test_cc_self_and_duplicate_edges(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)]
    got = _run(spark, edges, nodes=[1, 2, 5, 7, 9])
    assert got == {1: 1, 2: 1, 5: 5, 7: 7, 9: 9}


def test_cc_two_clusters_and_singletons(spark):
    edges = [(10, 11), (11, 12), (20, 21), (21, 22), (22, 20)]
    got = _run(spark, edges, nodes=[10, 11, 12, 20, 21, 22, 30])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20, 30: 30}


def test_cc_empty_edges(spark):
    got = _run(spark, [], nodes=[3, 1, 4])
    assert got == {1: 1, 3: 3, 4: 4}


def test_cc_raises_on_max_iters_exhaustion(spark):
    """Exhausting max_iters without a stable signature must raise —
    falling through would silently assign split / non-minimal
    component ids (r3 review finding)."""
    edges = [(i, i + 1) for i in range(49)]
    edf = spark.createDataFrame(edges, schema="src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(edf, max_iters=1)


def test_geoagg_dissolve_components(spark):
    """The a3b invariant: the dissolve kernel's polygon count equals
    the connected-component count of the circle-overlap graph —
    provided no supplier pair sits in the polygon/circle tangency band
    [2r·cos(π/16), 2r] where a 16-gon overlap test and a circle
    distance test can disagree (asserted as a precondition; the data
    is deterministic, so this is a stable property of the fixture)."""
    import math

    from gtfs_to_geojson_spark import geometry as g
    from gtfs_to_geojson_spark.operators import geoagg
    from gtfs_to_geojson_spark.plans import oracle_queries as OQ
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    s = OQ.supplier_points(spark, sf).filter(F.col("s_suppkey") <= 40)
    rows = s.collect()
    r = 400.0
    band_lo = 2 * r * math.cos(math.pi / 16)
    pairs_in_band = [
        (a["s_suppkey"], b["s_suppkey"])
        for i, a in enumerate(rows)
        for b in rows[i + 1:]
        if band_lo
        <= g.haversine_m(a["t_lat"], a["t_lon"], b["t_lat"], b["t_lon"])
        <= 2 * r
    ]
    assert not pairs_in_band, pairs_in_band  # precondition, see docstring

    ring = geoagg.stop_buffer_ring_col(F.col("t_lat"), F.col("t_lon"), r, steps=16)
    polys = s.select(F.array(ring).alias("polygon"))
    parts = [r["polygon"] for r in geoagg.dissolve_polygons(polys, poly_col="polygon", cell_res=10).collect()]

    comp = OQ.a3b_dissolve_components(spark, sf)
    n_components = comp.select("component").distinct().count()
    # a3b uses radius 800 = 2r — identical overlap model
    assert len(parts) == n_components
