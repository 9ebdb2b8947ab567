"""Spans and Spark counters for the traced run.

Spans are recorded from outside the program: the benchmark wraps the
calls it makes into each layer (``spark_fn``, ``toPandas``) and patches
module attributes that name a layer function (``tables.load``,
``ckpt.materialize_once``, ``flatten.flatten_listings``,
``merge.merge_upsert``) wherever a program module imported them. Spark's
own counters are read after each operation: Catalyst phase times from
the final DataFrame's ``QueryExecution.tracker()``, jobs, stages, bytes
and GC time from the UI REST API, SQL operator metrics for Python UDF
traffic and written files, and per-trigger durations from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


PROGRAM_PACKAGE = "etl_mudah_spark"   # the modules whose layer functions are wrapped


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Recorder:
    """In-memory span log. Spans opened on a thread with no open span of
    its own (a foreachBatch callback, say) take the main thread's
    innermost open span as parent, so they land in the operation that
    caused them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            outer = stack or self._stacks.get(self._main, [])
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   outer[-1] if outer else None, self.op))
            stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx].end = time.perf_counter()
                stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def replace(self, fn, new) -> int:
        """Put ``new`` in place of ``fn`` in every loaded module of
        ``PROGRAM_PACKAGE`` that holds ``fn`` as a global (so ``from x
        import f`` call sites are covered too); returns the count."""
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PROGRAM_PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, new)
                    n += 1
        return n

    def patch(self, fn, name: str) -> int:
        return self.replace(fn, self.wrap(fn, name))

    def unpatch(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()

    def dump(self, path: str) -> None:
        rows = [s.__dict__ for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its children (the union, clipped to the parent,
    so overlapping children on other threads are not counted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def layer_self_times(spans: list[Span], op: str) -> dict[str, float]:
    """Self time per span name for one operation."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s, t in zip(spans, selfs):
        if s.op == op:
            out[s.name] = out.get(s.name, 0.0) + t
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds of the DataFrame's own
    QueryExecution (AQE re-planning at run time is not included)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = phases.apply(k).durationMs() / 1000.0 if phases.contains(k) else 0.0
    return out


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(value: str) -> float:
    """A SQL UI metric string ("1,234", "3.2 MiB", or the task summary
    form "total (min, med, max ...)\\n3.2 MiB (...)") as a number."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _SIZE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.search(r"[\d.,]+", text)
    return float(m.group(0).replace(",", "")) if m else 0.0


SQL_METRICS = {
    "merge.files_written": "number of written files",
    "merge.bytes_written": "written output",
}


class SparkCounters:
    """Per-operation job, stage and SQL-operator counters read from the
    Spark UI REST API of this application (a localhost port)."""

    def __init__(self, spark) -> None:
        self.url = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId
        self.last_job = -1
        self.last_sql = 0

    def _get(self, path: str):
        with urllib.request.urlopen(
            f"{self.url}/api/v1/applications/{self.app}/{path}", timeout=10
        ) as r:
            return json.load(r)

    def mark(self) -> None:
        """Skip everything run so far (untraced rounds)."""
        jobs = self._settled_jobs()
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        done = self._get(f"sql?details=false&offset={self.last_sql}&length=10000")
        for e in done:
            if e["status"] == "RUNNING":
                break
            self.last_sql += 1

    def _settled_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, once none is running (the
        status store is fed asynchronously by the listener bus)."""
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [j for j in self._get("jobs") if j["jobId"] > self.last_job]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def collect(self, build_group: str) -> dict[str, float]:
        jobs = self._settled_jobs()
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        out = {
            "exec.jobs": float(len(jobs)),
            "plans.build_jobs": float(sum(j.get("jobGroup") == build_group for j in jobs)),
            "exec.stages": 0.0, "exec.tasks": 0.0, "exec.input_bytes": 0.0,
            "exec.shuffle_write_bytes": 0.0, "exec.spill_bytes": 0.0,
            "exec.gc_s": 0.0,
        }
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for a in self._get(f"stages/{sid}?details=false"):
                if a["status"] == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += a["numCompleteTasks"]
                out["exec.input_bytes"] += a["inputBytes"]
                out["exec.shuffle_write_bytes"] += a["shuffleWriteBytes"]
                out["exec.spill_bytes"] += a["memoryBytesSpilled"] + a["diskBytesSpilled"]
                out["exec.gc_s"] += a["jvmGcTime"] / 1000.0
        for k in SQL_METRICS:
            out[k] = 0.0
        job_ids = {j["jobId"] for j in jobs}
        execs = self._get(f"sql?details=true&planDescription=false&offset={self.last_sql}&length=10000")
        for e in execs:
            if e["status"] == "RUNNING":
                break
            self.last_sql += 1
            if not job_ids.intersection(e["successJobIds"] + e["failedJobIds"]):
                continue
            for node in e["nodes"]:
                for m in node["metrics"]:
                    for k, label in SQL_METRICS.items():
                        if m["name"] == label:
                            out[k] += parse_metric(m["value"])
        return out


class TriggerLog:
    """Per-trigger progress of every streaming query, kept by a listener
    the benchmark registers (``spark.streams.addListener``)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log.lock:
                    log.progress.append(
                        {"run_id": str(p.runId), "rows": p.numInputRows,
                         "duration_ms": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def clear(self) -> None:
        with self.lock:
            self.progress.clear()

    def take(self, expected: int, timeout: float = 5.0) -> list[dict]:
        """The next ``expected`` progress records with input rows (the
        listener bus is asynchronous, so wait for them)."""
        deadline = time.monotonic() + timeout
        while True:
            with self.lock:
                done = [p for p in self.progress if p["rows"] > 0]
                if len(done) >= expected or time.monotonic() > deadline:
                    self.progress.clear()
                    return done
            time.sleep(0.02)


# Layer functions wrapped in the traced rounds: (module, attribute, span).
LAYER_FUNCS = [
    ("etl_mudah_spark.tables", "load", "tables.load"),
    ("etl_mudah_spark.operators.ckpt", "materialize_once", "ckpt.materialize"),
    ("etl_mudah_spark.operators.flatten", "flatten_listings", "flatten"),
    ("etl_mudah_spark.operators.merge", "merge_upsert", "merge.upsert"),
]
# Span self times, in seconds; with the Catalyst phases they add up to
# the operation's wall time ("op" is what no other span covers).
SPAN_LAYERS = {
    "plans.build": "plans.build_s",
    "exec.action": "exec.action_s",
    "tables.load": "tables.load_s",
    "ckpt.materialize": "ckpt.materialize_s",
    "flatten": "flatten.s",
    "merge.upsert": "merge.upsert_s",
    "streaming.query": "streaming.query_s",
    "op": "trace.unattributed_s",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "tables.load_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "ckpt.materialize_calls": "count",
    "streaming.jobs_per_trigger": "count",
    "merge.files_written": "count",
    "merge.bytes_written_per_byte_in": "ratio",
    "table.files": "count",
    "table.bytes_per_row": "B",
    "tables.load_s": "s",
    "ckpt.materialize_s": "s",
    "flatten.s": "s",
    "merge.upsert_s": "s",
    "streaming.trigger_s": "s",
    "streaming.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_pct": "%",
}


def _mean(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return sum(vals) / len(vals) if vals else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Tracing:
    """Everything the traced rounds record, and its reduction to the
    per-layer metrics."""

    def __init__(self, spark) -> None:
        self.recorder = Recorder()
        self.counters = SparkCounters(spark)
        self.triggers = TriggerLog()
        spark.streams.addListener(self.triggers.listener())
        self.layer_funcs = [
            (getattr(importlib.import_module(m), a), name) for m, a, name in LAYER_FUNCS
        ]
        self.ops: list[dict] = []

    def begin_round(self) -> None:
        """Start a traced round: wrap the layer functions and skip the
        counters and trigger progress of the untraced round before."""
        for fn, name in self.layer_funcs:
            self.recorder.patch(fn, name)
        self.counters.mark()
        self.triggers.clear()

    def end_round(self) -> None:
        self.recorder.unpatch()

    def op_layers(self, op_id: str, res, wl) -> None:
        spans = self.recorder.spans
        selfs = layer_self_times(spans, op_id)
        wall = next(s.end - s.start for s in spans if s.op == op_id and s.name == "op")
        d = {"op": op_id, "name": res.name, "kind": res.kind, "wall_s": wall}
        for span, key in SPAN_LAYERS.items():
            d[key] = selfs.get(span, 0.0)
        cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for df in res.dfs:
            for k, v in catalyst_phases(df).items():
                cat[k] += v
        # The final DataFrame is analysed while the plan is built and
        # optimised and planned inside the action.
        d["plans.build_s"] -= cat["analysis"]
        d["exec.action_s"] -= cat["optimization"] + cat["planning"]
        for k, v in cat.items():
            d[f"catalyst.{k}_s"] = v
        d["tables.load_calls"] = float(sum(s.op == op_id and s.name == "tables.load" for s in spans))
        d["ckpt.materialize_calls"] = float(
            sum(s.op == op_id and s.name == "ckpt.materialize" for s in spans))
        d.update(self.counters.collect(f"{op_id}:build"))
        if res.kind == "trigger":
            prog = self.triggers.take(1)
            total = sum(p["duration_ms"].get("triggerExecution", 0) for p in prog) / 1000.0
            add = sum(p["duration_ms"].get("addBatch", 0) for p in prog) / 1000.0
            d["streaming.trigger_s"] = total
            d["streaming.overhead_s"] = total - add
            d["streaming.triggers"] = float(len(prog))
            d["merge.bytes_in"] = float(res.input_bytes)
        if res.kind == "read":
            files, size = wl.layout()
            d["table.files"] = float(files)
            d["table.bytes_per_row"] = size / max(1, len(wl.model.rows))
        self.ops.append(d)

    def overhead_pct(self, results) -> float:
        """Median over operation names of (traced / untraced median
        latency - 1), from the same run's alternating rounds."""
        by: dict[tuple[str, bool], list[float]] = {}
        for _, traced, res in results:
            if res.ok:
                by.setdefault((res.name, traced), []).append(res.latency)
        ratios = [
            statistics.median(by[(n, True)]) / statistics.median(by[(n, False)])
            for (n, t) in by if t and (n, False) in by
        ]
        return 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0

    def per_layer(self, run) -> tuple[dict, dict]:
        ops = self.ops
        trig = [d for d in ops if d["kind"] == "trigger"]
        reads = [d for d in ops if d["kind"] == "read"]
        m = {"session.get_spark_s": statistics.median(run.session_s)}
        for k in ("plans.build_s", "plans.build_jobs", "tables.load_calls",
                  "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
                  "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
                  "exec.input_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
                  "ckpt.materialize_calls", "tables.load_s", "ckpt.materialize_s"):
            m[k] = _mean(ops, k)
        m["streaming.jobs_per_trigger"] = _ratio(
            sum(d["exec.jobs"] for d in trig), sum(d["streaming.triggers"] for d in trig))
        m["merge.files_written"] = _mean(trig, "merge.files_written")
        m["merge.bytes_written_per_byte_in"] = _ratio(
            sum(d["merge.bytes_written"] for d in trig), sum(d["merge.bytes_in"] for d in trig))
        m["table.files"] = _mean(reads, "table.files")
        m["table.bytes_per_row"] = _mean(reads, "table.bytes_per_row")
        for k in ("flatten.s", "merge.upsert_s", "streaming.trigger_s", "streaming.overhead_s"):
            m[k] = _mean(trig, k)
        m["trace.unattributed_s"] = _mean(ops, "trace.unattributed_s")
        m["trace.overhead_pct"] = self.overhead_pct(run.results)
        return m, PER_LAYER_UNITS

    def full_layers(self) -> dict:
        """Per-operation-kind means of every recorded number, plus the
        largest share of an operation's wall time that no layer accounts
        for."""
        out = {}
        for kind in sorted({d["kind"] for d in self.ops}):
            rows = [d for d in self.ops if d["kind"] == kind]
            keys = sorted({k for d in rows for k, v in d.items() if isinstance(v, float)})
            out[kind] = {"n": len(rows), **{k: _mean(rows, k) for k in keys}}
            out[kind]["unattributed_share_max"] = max(
                d["trace.unattributed_s"] / d["wall_s"] for d in rows)
        return out
