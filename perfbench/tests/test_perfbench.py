"""Self-test of the benchmark: every workload end to end at a tiny size,
with its correctness checks, plus the helpers the metrics rest on.

    python3 -m pytest perfbench/tests -q

Run from the repository root; each workload run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work", "selftest")
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run_bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 5):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--scale", "0.01", "--work-dir", WORK]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# layers each workload must exercise (nonzero) and must leave alone (zero)
EXERCISED = {
    "assign_headline": ["spatial.envelope.action_s", "spatial.envelope.candidates",
                        "multimodal.decode_assign.action_s", "images.phash64_us", "cells.encode_ns"],
    "knn_shuffle": ["spatial.knn.call_s", "spatial.knn.jobs", "spatial.knn.shuffle_bytes",
                    "linear_ref.snap.action_s", "cells.encode_ns"],
    "feed_formats": ["gtfs.read.call_s", "gtfs.scan_rows", "pipeline.jobs", "sinks.files",
                     "formats.envelope.jobs", "transit_spatial.snap.jobs", "spatial.knn.call_s",
                     "geoagg.dissolve.call_s", "geoagg.line_buffer.python_ms",
                     "geometry.union_or_parts_ms"],
}
IDLE = {
    "assign_headline": ["gtfs.", "geoagg.", "geometry.", "sinks.", "pipeline.", "spatial.knn.",
                        "linear_ref.", "formats."],
    "knn_shuffle": ["gtfs.", "multimodal.", "images.", "sinks.", "pipeline.", "geoagg.",
                    "spatial.envelope."],
    "feed_formats": ["multimodal.", "images.", "linear_ref.", "spatial.envelope."],
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_traced_end_to_end(workload):
    res = result_of(run_bench(workload, trace=1))
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 2  # cold pass + at least one warm pass
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    assert [k for k in EXERCISED[workload] if not vals[k] > 0] == []
    idle = [k for k, v in vals.items() if k.startswith(tuple(IDLE[workload])) and v != 0]
    assert idle == []
    if workload == "assign_headline":
        assert vals["multimodal.decode_assign.verified_frac"] == 1.0


def test_end_to_end_metrics_named_as_declared():
    res = result_of(run_bench("assign_headline", trace=0))
    assert res["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_library():
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = run_bench("assign_headline", trace=0, cwd=bare)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_batched_phash_is_bit_identical():
    from gtfs_to_geojson_spark import images
    from workloads import phash64_batch

    px = np.random.default_rng(11).integers(0, 256, (300, 16, 16, 3), dtype=np.uint8)
    assert phash64_batch(px).tolist() == [images.phash64(p) for p in px]


def test_parse_sql_metric():
    from tracing import parse_sql_metric

    assert parse_sql_metric("1,000") == 1000
    assert parse_sql_metric("688 ms") == 688
    assert parse_sql_metric("1.8 s") == 1800
    assert parse_sql_metric("12.0 KiB") == 12 * 1024
    multi = "total (min, med, max (stageId: taskId))\n2.5 s (0 ms, 1 ms, 2.4 s (stage 3.0: task 12))"
    assert parse_sql_metric(multi) == 2500
    assert parse_sql_metric(None) == 0


def test_self_time_subtracts_covered_child_intervals():
    from tracing import Tracer

    tr = Tracer("t")
    with tr.span("root") as root, tr.span("a") as a:
        pass
    with tr.span("b") as b:
        pass
    root.update(start=0.0, end=10.0)
    a.update(start=1.0, end=4.0)
    b.update(start=3.0, end=6.0, parent=root["id"])  # overlaps a
    tr.self_times()
    assert root["self_s"] == pytest.approx(5.0)
    assert a["self_s"] == pytest.approx(3.0)
