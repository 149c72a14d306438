"""Spans and counters recorded from outside the engine.

Tracing wraps the engine's layer-boundary functions on the driver (the
wrappers live only in this process; executors import the untouched
modules) and parses the Spark event log for executor work. Nothing under
``pyfusedb_spark/`` changes.

A span carries name, start, end, parent and request id. Spans stay in
memory and are written out once, when the run ends. A layer is the span
name up to its first dot; self times are reduced in ``layers.py``.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.request: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        # span times are perf_counter seconds; + epoch_offset gives epoch seconds
        self.epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[name] += value

    # -- wrapping engine functions ------------------------------------------
    def wrap(self, owner, attr: str, name: str, static: bool = False, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper (restored by
        ``unwrap_all``). ``on_call(span, args, kwargs, result)`` may add
        counters once the call returns."""
        orig = owner.__dict__[attr] if static else getattr(owner, attr)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, out)
                return out

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    @contextlib.contextmanager
    def aside(self):
        """Run a block whose spans and counters are discarded afterwards."""
        spans, counters, enabled = self.spans, self.counters, self.enabled
        self.spans, self.counters = [], defaultdict(float)
        try:
            yield
        finally:
            self.spans, self.counters, self.enabled = spans, counters, enabled

    def totals(self, name: str) -> tuple[float, int]:
        """(summed duration, call count) of spans with this exact name."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]
        return sum(d), len(d)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap every driver-side layer boundary the per-layer table names."""
    from pyfusedb_spark import analysis
    from pyfusedb_spark.functions import codec
    from pyfusedb_spark.operators import build, query
    from pyfusedb_spark.plans import sqlfront
    from pyfusedb_spark.sources import catalog
    from pyfusedb_spark.streaming import incremental

    w = tracer.wrap
    # build: orchestration stages (driver), Spark work waits inside them
    w(build, "build_index", "build.build_index")
    w(build, "_file_shuffle_postings", "build.postings")
    w(build, "_assemble_doc_stats", "build.doc_stats")
    w(build, "_lexicon_local", "build.lexicon")
    # catalog
    def _commit_key(sp, args, kwargs, out):
        if sp is not None:
            sp["key"] = args[1]

    w(catalog.ManifestCatalog, "commit", "catalog.commit", on_call=_commit_key)
    w(catalog.ManifestCatalog, "promote_dir", "catalog.promote", static=True)
    # analysis
    w(analysis.Analyzer, "preprocess_query", "analysis.query_parse")

    # query
    def _fetch_counts(sp, args, kwargs, out):
        if sp is not None and len(out):
            tracer.count("query.chunk_bytes_read", int(out["payload"].map(len).sum()))

    def _cache_probe(fn):
        @functools.wraps(fn)
        def probe(self, terms):
            hit = sum(1 for t in terms if t in self._chunk_cache)
            tracer.count("query.chunk_cache_hits", hit)
            tracer.count("query.chunk_cache_lookups", len(terms))
            return fn(self, terms)

        return probe

    w(query.FuseIndex, "search", "query.search", on_call=_path_counts(tracer))
    w(query.FuseIndex, "_fetch_dfs", "query.lexicon_probe")
    w(query.FuseIndex, "_fetch_chunks", "query.chunk_fetch")
    orig_fetch = query.FuseIndex._fetch_chunks
    query.FuseIndex._fetch_chunks = _cache_probe(orig_fetch)
    tracer._patched.append((query.FuseIndex, "_fetch_chunks", orig_fetch))
    w(query.FuseIndex, "_fetch_chunks_uncached", "query.chunk_read", on_call=_fetch_counts)
    w(query.FuseIndex, "_blockmax_vectorized", "query.score")
    w(query.FuseIndex, "_exhaustive", "query.score")
    w(query, "wand_topk", "query.score")
    w(query.FuseIndex, "_norms_for", "query.norms")
    w(query.FuseIndex, "_load_stats", "query.reload")

    # codec (driver decode)
    def _decode_counts(first_arg: int | None, last_arg: int | None):
        """Counters for one decode entry point. Block decodes read from
        their first block's offset to the end of their last block."""

        def on_call(sp, args, kwargs, out):
            if sp is None:
                return
            tracer.count("codec.postings_decoded", len(out[0]))
            payload = args[0]
            if first_arg is None:
                tracer.count("codec.payload_bytes_decoded", len(payload))
                return
            offsets = args[1]
            first, last = int(args[first_arg]), int(args[last_arg])
            end = int(offsets[last + 1]) if last + 1 < len(offsets) else len(payload)
            tracer.count("codec.payload_bytes_decoded", end - int(offsets[first]))

        return on_call

    w(codec, "decode_postings", "codec.decode", on_call=_decode_counts(None, None))
    w(codec, "decode_block_run", "codec.decode", on_call=_decode_counts(2, 3))
    w(codec, "decode_block", "codec.decode", on_call=_decode_counts(2, 2))
    # sqlfront
    w(sqlfront, "parse_query", "sqlfront.parse")
    w(sqlfront.FuseSession, "_project", "sqlfront.project")
    # incremental
    W = incremental.IncrementalIndexWriter
    w(W, "process_batch", "incremental.batch")
    w(W, "_refresh_global", "incremental.refresh")
    w(W, "_compact_lexicon", "incremental.lexicon_compact")
    w(W, "_fold_segment", "incremental.fold")
    _label_writes(tracer)


def _label_writes(tracer: Tracer) -> None:
    """PySpark names a job after the Python line that ran it for actions
    such as collect(), but DataFrameWriter jobs carry a JVM call site.
    Set the engine's calling line as the job's call site so the event log
    attributes write stages like every other stage."""
    from pyspark.sql.readwriter import DataFrameWriter

    def label(meth, orig):
        @functools.wraps(orig)
        def wrapped(self, *args, **kwargs):
            frame = sys._getframe(1)
            while frame is not None and "pyfusedb_spark" not in frame.f_code.co_filename:
                frame = frame.f_back
            if frame is None:
                return orig(self, *args, **kwargs)
            sc = self._spark.sparkContext
            site = f"{meth} at {frame.f_code.co_filename}:{frame.f_lineno}"
            sc.setLocalProperty("callSite.short", site)
            sc.setLocalProperty("callSite.long", site)
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", None)
                sc.setLocalProperty("callSite.long", None)

        return wrapped

    for meth in ("parquet", "save"):
        orig = getattr(DataFrameWriter, meth)
        setattr(DataFrameWriter, meth, label(meth, orig))
        tracer._patched.append((DataFrameWriter, meth, orig))


def span_cost_s(n: int = 20000) -> float:
    """Seconds one enabled span adds, measured on a throwaway tracer."""
    t = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def _path_counts(tracer: Tracer):
    def on_call(sp, args, kwargs, out):
        if sp is None:
            return
        st = args[0].last_search_stats or {}
        path = st.get("path")
        # last_search_stats is only rewritten when a scorer ran
        if path and st is not getattr(on_call, "_last", None):
            tracer.count(f"query.path.{path}")
            tracer.count("query.postings_scored", st.get("postings_total", 0))
            total = st.get("hot_blocks_total", st.get("blocks_total", 0))
            tracer.count("query.blocks_total", total)
            tracer.count("query.blocks_skipped",
                         st.get("hot_blocks_skipped", st.get("blocks_skipped", 0)))
        on_call._last = st

    return on_call


# -- Spark event log ---------------------------------------------------------

# (engine file, enclosing function, text in the calling statement) -> the
# udfs sub-layer whose executor tasks that stage runs. Stages matching no
# rule are reported as spark.other_task_s, so drift stays visible.
STAGE_RULES = [
    ("operators/build.py", "build_index", "make_tf_fused_task", "scan"),
    ("operators/build.py", "build_index", "make_tf_combine_task", "combine"),
    ("operators/build.py", "_file_shuffle_postings", "TPART_STATS_SCHEMA", "encode"),
    ("streaming/incremental.py", "process_batch", "tok.", "scan"),
    ("streaming/incremental.py", "process_batch", "writer.parquet", "encode"),
]


class _SourceIndex:
    """Maps a pyfusedb_spark file:line to (enclosing function, statement)."""

    def __init__(self, pkg_root: str):
        self.pkg_root = pkg_root
        self._cache: dict[str, list[tuple[int, int, str, str]]] = {}

    def _load(self, rel: str) -> list[tuple[int, int, str, str]]:
        if rel not in self._cache:
            path = os.path.join(self.pkg_root, rel)
            src = open(path).read()
            tree = ast.parse(src)
            rows = []
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for st in ast.walk(fn):
                        if isinstance(st, ast.stmt) and not isinstance(
                            st, (ast.FunctionDef, ast.If, ast.For, ast.While, ast.With, ast.Try)
                        ):
                            rows.append((st.lineno, st.end_lineno, fn.name,
                                         ast.get_source_segment(src, st) or ""))
            self._cache[rel] = rows
        return self._cache[rel]

    def locate(self, rel: str, line: int) -> tuple[str, str] | None:
        best = None
        for lo, hi, fn, text in self._load(rel):
            if lo <= line <= hi and (best is None or hi - lo < best[1] - best[0]):
                best = (lo, hi, fn, text)
        return (best[2], best[3]) if best else None


def _callsite(s: str | None) -> tuple[str, int] | None:
    """'collect at /x/pyfusedb_spark/operators/build.py:616' -> (rel, 616)."""
    if not s or "pyfusedb_spark/" not in s:
        return None
    tail = s.rsplit("pyfusedb_spark/", 1)[1]
    rel, _, line = tail.rpartition(":")
    try:
        return rel, int(line)
    except ValueError:
        return None


def parse_event_log(log_dir: str) -> list[dict]:
    """Spark jobs of the event log: submission and completion (epoch
    seconds), call site, and the run/CPU/Python-worker seconds of each
    task of the stages they ran."""
    job_site: dict[int, object] = {}
    exec_site: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    job_site[jid] = props.get("callSite.short")
                    eid = props.get("spark.sql.execution.id")
                    if job_site[jid] is None and eid is not None:
                        job_site[jid] = ("exec", int(eid))
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                    jobs[jid] = {"start": e["Submission Time"] / 1e3, "end": None, "tasks": []}
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                    exec_site[int(e["executionId"])] = e.get("description")
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    py_ms = 0.0
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            py_ms += float(acc.get("Update") or 0)
                    tasks[e["Stage ID"]].append({
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "py_s": py_ms / 1e3,
                    })
    for sid, tl in tasks.items():
        if stage_job.get(sid) in jobs:
            jobs[stage_job[sid]]["tasks"].extend(tl)
    for jid, job in jobs.items():
        site = job_site.get(jid)
        job["site"] = exec_site.get(site[1]) if isinstance(site, tuple) else site
    return [j for j in jobs.values() if j["end"] is not None]


def stage_layer(site: str | None, src: _SourceIndex) -> str:
    """The udfs sub-layer (STAGE_RULES) a job's tasks belong to, or 'other'."""
    loc = _callsite(site)
    found = src.locate(*loc) if loc is not None else None
    if found is not None:
        fn, text = found
        for rel, func, needle, name in STAGE_RULES:
            if loc[0] == rel and fn == func and needle in text:
                return name
    return "other"


def executor_metrics(jobs: list[dict], pkg_root: str) -> dict:
    """Executor task totals per udfs sub-layer over ``jobs``, plus the
    job count and summed job wall."""
    src = _SourceIndex(pkg_root)
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for job in jobs:
        by_layer[stage_layer(job["site"], src)].extend(job["tasks"])
    res = {"spark.jobs": len(jobs), "spark.job_wall_s": sum(j["end"] - j["start"] for j in jobs)}
    for layer, tl in by_layer.items():
        run = [t["run_s"] for t in tl]
        res[f"{layer}.task_s"] = sum(run)
        res[f"{layer}.cpu_s"] = sum(t["cpu_s"] for t in tl)
        res[f"{layer}.py_s"] = sum(t["py_s"] for t in tl)
        res[f"{layer}.tasks"] = len(tl)
        med = statistics.median(run) if run else 0.0
        res[f"{layer}.skew"] = (max(run) / med) if med > 0 else 0.0
    return res
