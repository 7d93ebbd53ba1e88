"""In-memory spans, wrappers around library calls, the Spark status-store
harvest and process-tree memory sampling.

Spans are recorded from outside the library: the benchmark opens a span
around each call and each action it makes, and ``Instrumented`` wraps the
public functions of the library modules (module attributes, so calls made
by one library module into another are seen too). Spans stay in memory
and are written out when the run ends; Spark jobs, stages and SQL
executions are read from the status store once, after the timed passes,
and attributed to spans by submission time.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time


class NullTracer:
    """Tracing off: spans cost one attribute lookup and a no-op context."""

    enabled = False

    def span(self, name, **attrs):
        return contextlib.nullcontext({})


class Tracer:
    """Spans: name, start, end, parent, run id, pass index, thread."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.pass_idx = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a pool thread started inside a span (the pipeline's per-group
        # fan-out) has an empty stack: its parent is the main thread's
        # innermost open span, which is blocked waiting for it
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "name": name, "parent": parent, "run": self.run_id,
            "pass": self.pass_idx, "thread": threading.get_ident(),
            "start": time.time(), "end": None, **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its duration minus the part of
        its interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, cur_a, cur_b = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            s["self_s"] = (s["end"] - s["start"]) - covered


class Instrumented:
    """Wrap module-level functions with spans for the life of the
    context; ``targets`` holds ``(owner, attr, span_name)`` where owner
    is a module or a dict (the formats registry)."""

    def __init__(self, tracer: Tracer, targets):
        self.tracer = tracer
        self.targets = targets
        self._saved: list[tuple] = []

    def __enter__(self):
        for owner, attr, name in self.targets:
            get = owner.__getitem__ if isinstance(owner, dict) else functools.partial(getattr, owner)
            orig = get(attr)
            wrapped = self._wrap(orig, name)
            if isinstance(owner, dict):
                owner[attr] = wrapped
            else:
                setattr(owner, attr, wrapped)
            self._saved.append((owner, attr, orig))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._saved):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, dict) and "n_features" in out:
                    rec["bytes"] = int(out.get("bytes", 0))  # sink manifests
                return out

        return wrapper


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_SIZE_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_sql_metric(text: str | None) -> float:
    """SQL metric display string → number (ms for timings, bytes for
    sizes). Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (<min>, ...)``; the total is the first value of the last line."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    try:
        val = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    if len(parts) > 1:
        val *= _TIME_MS.get(parts[1], _SIZE_B.get(parts[1], 1))
    return val


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


def harvest(spark, since: float) -> dict:
    """Jobs, stages and SQL executions submitted at or after ``since``
    (epoch seconds), read from the status store in one sweep."""
    jsc = spark.sparkContext._jsc.sc()
    with contextlib.suppress(Exception):
        jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        t = _opt_ms(j.submissionTime())
        if t is None or t < since:
            continue
        sids = j.stageIds()
        jobs.append({"id": j.jobId(), "submit": t,
                     "stages": [sids.apply(k) for k in range(sids.size())]})
    want = {s for j in jobs for s in j["stages"]}
    gw = spark.sparkContext._gateway
    quant = gw.new_array(gw.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    no_q = gw.new_array(gw.jvm.double, 0)
    stages = {}
    sl = store.stageList(None, False, False, no_q, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        sid = s.stageId()
        if sid not in want or sid in stages:
            continue
        submit, first = _opt_ms(s.submissionTime()), _opt_ms(s.firstTaskLaunchedTime())
        rec = {
            "submit": submit,
            "wait_ms": (first - submit) * 1e3 if submit is not None and first is not None else 0.0,
            "tasks": s.numCompleteTasks(),
            "run_ms": float(s.executorRunTime()),
            "shuffle_write": float(s.shuffleWriteBytes()),
            "spill": float(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            "task_med_ms": 0.0, "task_max_ms": 0.0,
        }
        summ = store.taskSummary(sid, s.attemptId(), quant)
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            rec["task_med_ms"], rec["task_max_ms"] = float(rt.apply(0)), float(rt.apply(1))
        stages[sid] = rec
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = []
    el = sql.executionsList()
    for i in range(el.size()):
        e = el.apply(i)
        t = e.submissionTime() / 1000.0
        if t < since:
            continue
        eid = e.executionId()
        values = sql.executionMetrics(eid)
        nodes = []
        graph = sql.planGraph(eid)
        _walk_graph(graph.nodes(), values, nodes, None)
        ed = graph.edges()
        edges = [(ed.apply(k).fromId(), ed.apply(k).toId()) for k in range(ed.size())]
        execs.append({"id": eid, "submit": t, "nodes": nodes, "edges": edges})
    return {"jobs": jobs, "stages": stages, "executions": execs}


def _walk_graph(seq, values, out: list, cluster: str | None) -> None:
    """Flatten plan-graph nodes to ``{id, name, cluster, metrics}``;
    ``cluster`` names the enclosing WholeStageCodegen stage."""
    for i in range(seq.size()):
        n = seq.apply(i)
        name = n.name().strip()
        ms = n.metrics()
        metrics = {}
        for k in range(ms.size()):
            m = ms.apply(k)
            v = values.get(m.accumulatorId())
            metrics[m.name()] = parse_sql_metric(v.get() if v.isDefined() else None)
        out.append({"id": n.id(), "name": name, "cluster": cluster, "metrics": metrics})
        if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
            _walk_graph(n.nodes(), values, out, name)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, by kind: the
    Python driver (``root``), the JVM it launched, and the Python
    workers under the JVM."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [(root, "driver")]
    while todo:
        pid, kind = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if kind == "driver" and pid != root and comm == "java":
            kind = "jvm"
        # a child the JVM is still spawning shares, and so reports, the
        # JVM's whole resident set; only the Python workers count there
        if kind != "workers" or comm.startswith("python"):
            out[kind] += rss
        sub = "workers" if kind in ("jvm", "workers") else "driver"
        todo.extend((k, sub) for k in kids.get(pid, []))
    return out


class RssSampler:
    """Peak process-tree RSS, sampled on a daemon thread; ``at_peak``
    keeps the by-kind split of the peak sample."""

    def __init__(self, root: int | None = None, period_s: float = 0.25):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        by_kind = tree_rss(self.root)
        total = sum(by_kind.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by_kind

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.period_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
