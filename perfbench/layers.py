"""Per-layer tracing for the benchmark, recorded from outside the program.

``Tracer.install`` wraps the public entry points of each layer of
``topic_modeling_ajin_spark`` (and the two pyspark calls every layer funnels
into: ``DataFrameWriter.parquet`` and ``Estimator.fit``) so that each call
records a span: layer, name, start, end, parent and thread.  Each span tags
the Spark jobs it submits with a job group (the ``spark.jobGroup.id``
property ``setJobGroup`` sets), which lets ``summarize``
attribute the Spark event log's per-task metrics to spans.  The Python UDF
profiler (``spark.sql.pyspark.udf.profiler=perf``) gives the time spent in
each Python kernel.  Nothing here runs unless ``--trace 1`` is given.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "topic_modeling_ajin_spark"

# Python kernels, told apart by the file and function names in their
# profiles (a worker reports the file the closure was pickled from).  The
# topic pipeline's only Python UDF is the coherence co-occurrence kernel.
KERNELS = (
    ("cooccurrence", lambda file, fn: file == "metrics.py"),
)
LAYERS = ("bench", "pipeline", "registry", "cache", "operators", "sources",
          "plots", "report", "streaming")

# name -> unit of every per-layer metric ``summarize`` reports
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "driver.peak_rss_mb": "MB",
    "registry.calls": "count",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "cache.builds": "count",
    "cache.hits": "count",
    "cache.hit_ratio": "ratio",
    "cache.build_s": "s",
    "cache.wait_s": "s",
    "cache.entries": "count",
    "cache.storage_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.result_mb": "MB",
    "spark.task_skew": "ratio",
    "functions.udf_s": "s",
    **{f"functions.{kernel}_s": "s" for kernel, _ in KERNELS},
    "operators.fit_jobs": "count",
    "operators.fit_result_mb": "MB",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.mb_written": "MB",
    "plots.render_s": "s",
    "report.render_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.rows_per_s": "1/s",
    "trace.wall_s": "s",
    "trace.self_sum_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


# the metric that sums the outermost spans of a layer
TOP_LEVEL_TIME = {
    "sources": "sources.write_s",
    "plots": "plots.render_s",
    "report": "report.render_s",
}


# per-layer metrics where more is better; for the rest less is
HIGHER_IS_BETTER = frozenset(("cache.hits", "cache.hit_ratio", "streaming.rows_per_s"))


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    query: str | None = None
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans around calls into the program's layers."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_top: int | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, name: str, query: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1].id if st else self._main_top
        if query is None and st:
            query = st[-1].query
        sp = Span(next(self._ids), layer, name, parent,
                  threading.get_ident(), time.perf_counter(), query=query)
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        if threading.current_thread() is threading.main_thread():
            self._main_top = sp.id
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{sp.id}")
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        st.pop()
        top = st[-1] if st else None
        if threading.current_thread() is threading.main_thread():
            self._main_top = top.id if top else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"span-{top.id}" if top else None
        )

    def call(self, layer, name, fn, *args, query=None, **kw):
        sp = self.begin(layer, name, query=query)
        try:
            return fn(*args, **kw)
        finally:
            self.end(sp)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, owner, attr: str, layer: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            return self.call(layer, name, orig, *args, **kw)

        self._patch_everywhere(orig, wrapper)
        setattr(owner, attr, wrapper)

    def _patch_everywhere(self, orig, new) -> None:
        """Rebind ``orig`` in every package module that imported it."""
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    def install(self) -> None:
        import importlib

        from pyspark.ml.base import Estimator
        from pyspark.sql.readwriter import DataFrameWriter

        from topic_modeling_ajin_spark import cache, plots, report
        from topic_modeling_ajin_spark.registry import REGISTRY, QuerySpec, load_all
        from topic_modeling_ajin_spark.sources import io as sio
        from topic_modeling_ajin_spark.streaming import pipelines as stp

        load_all()
        importlib.import_module(f"{PKG}.pipeline")
        tracer = self

        for qname, spec in list(REGISTRY.items()):
            REGISTRY[qname] = QuerySpec(
                fn=self._query_fn(qname, spec.fn), sql=spec.sql, tags=spec.tags
            )

        orig_memo = cache.memo

        def memo(spark, key, build, **kw):
            ran = []

            def traced_build():
                ran.append(True)
                return tracer.call("cache", "memo.build", build)

            sp = tracer.begin("cache", "memo")
            try:
                return orig_memo(spark, key, traced_build, **kw)
            finally:
                tracer.end(sp)
                sp.extra["built"] = bool(ran)

        self._patch_everywhere(orig_memo, memo)
        self._wrap(cache, "materialized", "cache", "materialized")
        self._wrap(sio, "write_parquet", "sources", "write_parquet")
        self._wrap(DataFrameWriter, "parquet", "sources", "DataFrameWriter.parquet")
        self._wrap(Estimator, "fit", "operators", "Estimator.fit")
        for attr in dir(plots):
            if attr.startswith(("plot_", "export_")) and callable(getattr(plots, attr)):
                self._wrap(plots, attr, "plots", attr)
        self._wrap(report, "render_text_report", "report", "render_text_report")
        self._wrap(stp, "run_incremental_manifest", "streaming",
                   "run_incremental_manifest")
        pipe = sys.modules[f"{PKG}.pipeline"]
        for attr in ("run_full_analysis", "run_word_frequency", "run_visual_report"):
            self._wrap(pipe, attr, "pipeline", attr)

    def _query_fn(self, qname, fn):
        def construct(spark, sf_dir):
            return self.call("registry", "construct", fn, spark, sf_dir, query=qname)

        return construct


# -- summarizing ---------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(sp.id, [])
            if e > sp.start and s < sp.end
        ]
        out[sp.id] = (sp.end - sp.start) - _union(clipped)
    return out


def read_event_log(path: str, t0_ms: float, t1_ms: float) -> dict:
    """Jobs, stages and task metrics of the jobs submitted in [t0, t1]."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sub = ev.get("Submission Time", 0)
                if not t0_ms <= sub <= t1_ms:
                    continue
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"group": props.get("spark.jobGroup.id")}
                for s in ev.get("Stage IDs", []):
                    stage_job[s] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if sid not in stage_job:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "job": stage_job[sid],
                        "stage": (sid, ev.get("Stage Attempt ID", 0)),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "result": m.get("Result Size", 0),
                    }
                )
    return {"jobs": jobs, "tasks": tasks}


def udf_kernel_seconds(spark, top: dict | None = None) -> dict[str, float]:
    """Python UDF time, in total and per kernel, from the session's perf
    profiles: each profiled UDF counts toward the kernel whose functions
    take the most cumulative time in it.  ``top`` receives each UDF's
    costliest functions."""
    out = {"functions.udf_s": 0.0, **{f"functions.{k}_s": 0.0 for k, _ in KERNELS}}
    for udf_id, stats in spark._profiler_collector._perf_profile_results.items():
        entries = stats.stats  # (file, line, fn) -> (cc, nc, tt, ct, callers)
        total = max((v[3] for v in entries.values()), default=0.0)
        out["functions.udf_s"] += total
        best: dict[str, float] = {}
        for (path, _line, fn), v in entries.items():
            for kernel, match in KERNELS:
                if match(os.path.basename(path), fn):
                    best[kernel] = max(best.get(kernel, 0.0), v[3])
                    break
        if best:
            out[f"functions.{max(best, key=best.get)}_s"] += total
        if top is not None:
            calls = sorted(
                ((v[3], f"{os.path.basename(p)}:{fn}") for (p, _l, fn), v in entries.items()
                 if p != "~"),
                reverse=True,
            )
            top[str(udf_id)] = {"total_s": total, "top": calls[:4]}
    return out


def summarize(tracer: Tracer, events: dict, wall: tuple[float, float],
              extra: dict) -> dict[str, float]:
    """Fold spans, event-log tasks and kernel profiles into the
    per-layer metrics of ``PER_LAYER_UNITS``."""
    t0, t1 = wall
    spans = [sp for sp in tracer.spans if sp.end and t0 <= sp.start and sp.end <= t1]
    by_id = {sp.id: sp for sp in spans}
    selfs = self_times(spans)
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
    m.update({k: v for k, v in extra.items() if k in m})

    for sp in spans:
        dur = sp.end - sp.start
        m[f"self.{sp.layer}_s"] += selfs[sp.id]
        if sp.layer == "registry" and sp.name == "construct":
            m["registry.calls"] += 1
            m["registry.construct_s"] += dur
        elif sp.name == "memo":
            if sp.extra.get("built"):
                m["cache.builds"] += 1
            else:
                m["cache.hits"] += 1
                if dur > 0.001:
                    m["cache.wait_s"] += dur
        elif sp.name == "memo.build":
            m["cache.build_s"] += dur
        elif sp.layer in ("sources", "plots", "report") and (
            sp.parent not in by_id or by_id[sp.parent].layer != sp.layer
        ):
            m[TOP_LEVEL_TIME[sp.layer]] += dur
    lookups = m["cache.builds"] + m["cache.hits"]
    m["cache.hit_ratio"] = m["cache.hits"] / lookups if lookups else 0.0

    def ancestors(sid):
        while sid in by_id:
            yield by_id[sid]
            sid = by_id[sid].parent

    job_span = {}
    for jid, job in events["jobs"].items():
        g = job["group"] or ""
        sid = int(g[5:]) if g.startswith("span-") else None
        job_span[jid] = sid
    m["spark.jobs"] = len(events["jobs"])
    stages: dict[tuple, list[float]] = {}
    for t in events["tasks"]:
        stages.setdefault(t["stage"], []).append(t["run_ms"])
        m["spark.tasks"] += 1
        m["spark.executor_run_s"] += t["run_ms"] / 1e3
        m["spark.executor_cpu_s"] += t["cpu_ns"] / 1e9
        m["spark.shuffle_write_mb"] += t["shuffle_write"] / 1e6
        m["spark.spill_mb"] += t["spill"] / 1e6
        m["spark.result_mb"] += t["result"] / 1e6
        chain = list(ancestors(job_span.get(t["job"])))
        if any(a.layer == "operators" for a in chain):
            m["operators.fit_result_mb"] += t["result"] / 1e6
    m["spark.stages"] = len(stages)
    # stages of a few 1-ms tasks would read as huge ratios: floor the
    # median at 10 ms and skip stages too small to be skewed
    skews = [
        max(v) / max(statistics.median(v), 10.0) for v in stages.values() if len(v) >= 4
    ]
    m["spark.task_skew"] = max(skews, default=1.0)
    for jid, sid in job_span.items():
        chain = list(ancestors(sid))
        if any(a.layer == "operators" for a in chain):
            m["operators.fit_jobs"] += 1
        if any(a.layer == "registry" and a.name == "construct" for a in chain):
            m["registry.construct_jobs"] += 1

    m["trace.wall_s"] = t1 - t0
    m["trace.self_sum_s"] = sum(selfs.values())
    return m
