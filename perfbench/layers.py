"""Per-layer metrics from the traced passes: spans joined with the
jobs, stages and SQL executions the status store recorded."""

from __future__ import annotations

import statistics

FORMATS = ("lines-and-stops", "envelope", "lines-dissolved")
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_JOIN = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin")


def instrument_targets():
    """The public library functions the traced run wraps with spans."""
    import inspect

    from gtfs_to_geojson_spark import geometry, sinks
    from gtfs_to_geojson_spark.operators import formats, geoagg, relational, spatial

    rel = [(relational, n, f"lib:relational.{n}")
           for n, f in vars(relational).items()
           if inspect.isfunction(f) and f.__module__ == relational.__name__ and not n.startswith("_")]
    return rel + [
        (spatial, "knn_join", "lib:spatial.knn_join"),
        (sinks, "write_single_geojson", "lib:sinks.write"),
        (geoagg, "line_buffer_polygons", "lib:geoagg.line_buffer_polygons"),
        (geoagg, "dissolve_polygons", "lib:geoagg.dissolve_polygons"),
        (geometry, "union_or_parts", "lib:geometry.union_or_parts"),
        (geometry, "connected_components", "lib:geometry.connected_components"),
    ] + [(formats.FORMATS, f, f"lib:formats.{f}") for f in FORMATS]


class PassView:
    """One traced pass: its spans and the engine records inside it."""

    def __init__(self, spans: list[dict], harvest: dict):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.h = harvest

    def named(self, name: str, top: bool = False, **attrs) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name
               and all(s.get(k) in (v if isinstance(v, tuple) else (v,)) for k, v in attrs.items())]
        if top:  # drop spans nested in a span of the same family
            fam = name.rsplit(".", 1)[0] + "."
            out = [s for s in out if not self.by_id.get(s["parent"], {}).get("name", "").startswith(fam)]
        return out

    @staticmethod
    def dur(spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    @staticmethod
    def _inside(spans, t) -> bool:
        return any(s["start"] <= t <= s["end"] for s in spans)

    def jobs(self, spans) -> list[dict]:
        return [j for j in self.h["jobs"] if self._inside(spans, j["submit"])]

    def stages(self, spans) -> list[dict]:
        ids = {sid for j in self.jobs(spans) for sid in j["stages"]}
        return [self.h["stages"][s] for s in ids if s in self.h["stages"]]

    def nodes(self, spans, prefixes=None) -> list[dict]:
        return [n for e in self.h["executions"] if self._inside(spans, e["submit"])
                for n in e["nodes"] if prefixes is None or n["name"].startswith(prefixes)]

    def sql(self, spans, prefixes, metric: str) -> float:
        return sum(n["metrics"].get(metric, 0.0) for n in self.nodes(spans, prefixes))

    def py_ms(self, spans) -> float:
        return sum(n["metrics"].get(_PY_TIME, 0.0) for n in self.nodes(spans))

    def scan_ms(self, spans) -> float:
        """Duration of the codegen stages that consume a CSV scan (the
        scan node sits outside its consumer's WholeStageCodegen)."""
        total = 0.0
        for e in self.h["executions"]:
            if not self._inside(spans, e["submit"]):
                continue
            by_id = {n["id"]: n for n in e["nodes"]}
            scans = {n["id"] for n in e["nodes"] if n["name"].startswith("Scan csv")}
            cl = {by_id[b]["cluster"] for a, b in e["edges"] if a in scans and b in by_id}
            total += sum(n["metrics"].get("duration", 0.0) for n in e["nodes"] if n["name"] in cl)
        return total

    def metrics(self) -> dict[str, float]:
        P = self.named("pass")
        m: dict[str, float] = {}
        d = self.dur

        m["gtfs.read.call_s"] = d(self.named("gtfs.read.call"))
        m["gtfs.scan_rows"] = self.sql(P, ("Scan csv",), "number of output rows")
        m["gtfs.scan_ms"] = self.scan_ms(P)

        act = self.named("spatial.envelope.action")
        cand = self.sql(act, _JOIN, "number of output rows")
        m["spatial.envelope.action_s"] = d(act)
        m["spatial.envelope.broadcast_build_ms"] = sum(
            self.sql(act, ("BroadcastExchange",), k)
            for k in ("time to collect", "time to build", "time to broadcast"))
        m["spatial.envelope.candidates"] = cand
        m["spatial.envelope.match_ratio"] = sum(s.get("matches", 0) for s in act) / cand if cand else 0.0

        act = self.named("multimodal.decode_assign.action")
        m["multimodal.decode_assign.action_s"] = d(act)
        m["multimodal.decode_assign.python_ms"] = self.sql(act, ("MapInPandas",), _PY_TIME)
        m["multimodal.decode_assign.python_bytes_in"] = self.sql(act, ("MapInPandas",), _PY_SENT)
        m["multimodal.decode_assign.verified_frac"] = (
            statistics.mean(s["verified_frac"] for s in act) if act else 0.0)

        call = self.named("lib:spatial.knn_join", top=True)
        act = self.named("spatial.knn.action") + self.named("transit_spatial.snap.action")
        both = call + act
        scanned = self.sql(both, ("Scan",), "number of output rows")
        m["spatial.knn.call_s"] = d(call)
        m["spatial.knn.action_s"] = d(act) if call else 0.0
        m["spatial.knn.jobs"] = len(self.jobs(both))
        m["spatial.knn.shuffle_bytes"] = sum(s["shuffle_write"] for s in self.stages(both))
        m["spatial.knn.python_ms"] = self.py_ms(both)
        m["spatial.knn.replication"] = (
            self.sql(both, ("Generate",), "number of output rows") / scanned if scanned else 0.0)

        call, act = self.named("linear_ref.snap.call"), self.named("linear_ref.snap.action")
        pts = sum(s.get("points", 0) for s in act)
        m["linear_ref.snap.action_s"] = d(act)
        m["linear_ref.snap.candidates_per_point"] = (
            self.sql(act, _JOIN, "number of output rows") / pts if pts else 0.0)
        m["linear_ref.snap.shuffle_bytes"] = sum(s["shuffle_write"] for s in self.stages(call + act))

        rel = [s for s in self.spans if s["name"].startswith("lib:relational.")
               and not self.by_id.get(s["parent"], {}).get("name", "").startswith("lib:relational.")]
        m["relational.call_s"] = d(rel)
        m["relational.calls"] = len(rel)

        for f in FORMATS:
            m[f"formats.{f}.call_s"] = d(self.named(f"lib:formats.{f}"))
            m[f"formats.{f}.jobs"] = len(self.jobs(self.named("pipeline.run", fmt=f)))

        sinks = self.named("lib:sinks.write")
        m["sinks.write_s"] = d(sinks)
        m["sinks.bytes"] = sum(s.get("bytes", 0) for s in sinks)
        m["sinks.files"] = len(sinks)

        m["geoagg.line_buffer.python_ms"] = self.sql(
            self.named("pipeline.run", fmt="lines-dissolved"), ("MapInPandas",), _PY_TIME)
        dis = self.named("lib:geoagg.dissolve_polygons")
        geo = [s for s in self.spans if s["name"].startswith("lib:geometry.")
               and not self.by_id.get(s["parent"], {}).get("name", "").startswith("lib:geometry.")
               and self._inside(dis, s["start"])]
        m["geoagg.dissolve.call_s"] = d(dis)
        m["geoagg.dissolve.driver_s"] = d(geo)

        runs = self.named("pipeline.run")
        m["pipeline.run_s"] = d(runs)
        m["pipeline.jobs"] = len(self.jobs(runs))
        m["pipeline.groups"] = sum(s.get("groups", 0) for s in runs)
        m["pipeline.stage_wait_ms"] = sum(s["wait_ms"] for s in self.stages(runs))

        call = self.named("transit_spatial.snap.call")
        m["transit_spatial.snap.call_s"] = d(call)
        m["transit_spatial.snap.jobs"] = len(self.jobs(call))
        m["transit_spatial.snap.action_s"] = d(self.named("transit_spatial.snap.action"))

        st = self.stages(P)
        med = sum(s["task_med_ms"] for s in st if s["tasks"] > 1)
        m["spark.jobs"] = len(self.jobs(P))
        m["spark.tasks"] = sum(s["tasks"] for s in st)
        m["spark.exchange_bytes"] = sum(s["shuffle_write"] for s in st)
        m["spark.spill_bytes"] = sum(s["spill"] for s in st)
        m["spark.python_ms"] = self.py_ms(P)
        m["spark.task_skew"] = (
            sum(s["task_max_ms"] for s in st if s["tasks"] > 1) / med if med else 1.0)
        return m


def unit_of(name: str) -> str:
    if name.startswith("images.decode_us."):
        return "us"
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_us", "us"), ("_ns", "ns"),
                         ("_frac", "ratio"), ("_ratio", "ratio"), ("replication", "ratio"),
                         ("task_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def layer_metrics(spans: list[dict], harvest: dict) -> dict[str, float]:
    """Median over the traced passes of every per-pass layer metric."""
    per_pass = []
    for p in sorted({s["pass"] for s in spans if s["name"] == "pass"}):
        per_pass.append(PassView([s for s in spans if s["pass"] == p], harvest).metrics())
    if not per_pass:
        return {}
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
