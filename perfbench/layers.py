"""Per-layer metrics of a traced run.

A traced run times three builds of the workload's index docs, its loop
(queries or appends) and, on ``query``, one round of the operator
suite. Query-side values are per query of the loop (per post-append
query on ``ingest``), incremental values per append, build values are
the first timed build's, dedup/knn/textstats the one operator round's. Executor,
catalog and self-time values are totals over all timed work of the run.
Idle layers read 0.

Self time has one reduction (``self_split``): a span's duration minus
the part its child spans cover. The part of that self time during which
a Spark job was running is driver wait on executors and goes to the
``spark`` layer; the rest goes to the span's layer, except for the entry
points (the benchmark's own op span and the engine calls it makes),
whose remaining self time is unattributed. Coverage is the share of the
timed op wall that is not unattributed.
"""

from __future__ import annotations

import bisect
import os
import statistics
from collections import defaultdict

from inputs import dir_bytes
from tracing import executor_metrics

# Spans whose own time no named sub-layer explains.
ENTRY_POINTS = ("bench.op", "build.build_index", "query.search", "incremental.batch")
LAYERS = ["build", "catalog", "analysis", "query", "codec", "sqlfront",
          "incremental", "dedup", "knn", "textstats", "spark", "unattributed"]

PER_LAYER: list[tuple[str, str]] = [
    ("udfs.scan_task_s", "s"), ("udfs.scan_cpu_s", "s"), ("udfs.scan_py_s", "s"),
    ("udfs.scan_skew", "ratio"), ("udfs.combine_task_s", "s"),
    ("udfs.encode_task_s", "s"), ("udfs.encode_cpu_s", "s"),
    ("udfs.tf_bytes_written", "B"), ("udfs.tasks", "count"), ("spark.other_task_s", "s"),
    ("build.stage_tf_s", "s"), ("build.stage_stats_s", "s"), ("build.stage_postings_s", "s"),
    ("build.stage_lexicon_s", "s"), ("build.stage_norms_s", "s"), ("build.driver_only_s", "s"),
    ("build.spark_jobs", "count"), ("build.files_written", "count"),
    ("build.bytes.index", "B"), ("build.bytes.lexicon", "B"), ("build.bytes.doc_stats", "B"),
    ("build.bytes.doc_stats_full", "B"), ("build.bytes.tf", "B"), ("build.bytes.doc_sha", "B"),
    ("catalog.commit_calls", "count"), ("catalog.commit_s", "s"), ("catalog.promote_s", "s"),
    ("analysis.query_parse_s", "s"),
    ("query.lexicon_probe_s", "s"), ("query.chunk_fetch_s", "s"),
    ("query.chunk_cache_hit_ratio", "ratio"), ("query.chunk_bytes_read", "B"),
    ("query.score_s", "s"), ("query.path.bmx", "count"), ("query.path.exhaustive", "count"),
    ("query.path.wand", "count"), ("query.blocks_skipped_ratio", "ratio"),
    ("query.postings_scored", "count"), ("query.norms_s", "s"), ("query.reload_s", "s"),
    ("codec.decode_s", "s"), ("codec.postings_decoded", "count"),
    ("codec.payload_bytes_decoded", "B"),
    ("sqlfront.parse_s", "s"), ("sqlfront.project_s", "s"),
    ("incremental.batch_s", "s"), ("incremental.tokenize_encode_s", "s"),
    ("incremental.refresh_s", "s"), ("incremental.lexicon_compact_s", "s"),
    ("incremental.fold_s", "s"), ("incremental.folds", "count"),
    ("incremental.fold_failures", "count"), ("incremental.write_amp", "ratio"),
    ("incremental.live_batch_dirs", "count"), ("incremental.doc_stats_dirs", "count"),
    ("dedup.exact_s", "s"), ("dedup.minhash_s", "s"), ("dedup.embedding_s", "s"),
    ("knn.ivf_probe_ms", "ms"), ("knn.graph_probe_ms", "ms"), ("knn.brute_probe_ms", "ms"),
    ("knn.ivf_recall_at_10", "ratio"), ("knn.graph_recall_at_10", "ratio"),
    ("textstats.profile_s", "s"),
    *[(f"self.{layer}_s", "s") for layer in LAYERS],
    ("trace.coverage", "ratio"), ("trace.overhead_ms", "ms"),
    ("trace.span_cost_ms", "ms"), ("trace.spans", "count"),
]


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def _merge(windows: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for lo, hi in sorted(windows):
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def _overlap(lo: float, hi: float, merged: list[tuple[float, float]], starts: list[float]) -> float:
    tot = 0.0
    for wlo, whi in merged[max(0, bisect.bisect_right(starts, lo) - 1):]:
        if wlo >= hi:
            break
        tot += max(0.0, min(hi, whi) - max(lo, wlo))
    return tot


def self_split(spans: list[dict], job_windows: list[tuple[float, float]]) -> dict[str, list[float]]:
    """Per span name: [self seconds outside Spark jobs, self seconds
    during Spark jobs]. ``job_windows`` are in the spans' clock."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    merged = _merge(job_windows)
    starts = [lo for lo, _ in merged]
    out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for s in spans:
        if s["end"] is None:
            continue
        cur, spark, total = s["start"], 0.0, 0.0
        for lo, hi in sorted(kids[s["id"]]) + [(s["end"], s["end"])]:
            if lo > cur:
                total += lo - cur
                spark += _overlap(cur, lo, merged, starts)
            cur = max(cur, hi)
        out[s["name"]][0] += total - spark
        out[s["name"]][1] += spark
    return dict(out)


def self_total(split: dict[str, list[float]], *names: str) -> float:
    return sum(sum(split.get(n, (0.0, 0.0))) for n in names)


def common(res, tracer, split: dict[str, list[float]]) -> None:
    """catalog, self times per layer, coverage and span count (every workload)."""
    _, commits = tracer.totals("catalog.commit")
    res.layer["catalog.commit_calls"] = float(commits)
    res.layer["catalog.commit_s"] = self_total(split, "catalog.commit")
    res.layer["catalog.promote_s"] = self_total(split, "catalog.promote")
    selfs = dict.fromkeys(LAYERS, 0.0)
    for name, (driver, spark) in split.items():
        layer = "unattributed" if name in ENTRY_POINTS else name.split(".", 1)[0]
        selfs[layer] += driver
        selfs["spark"] += spark
    for layer in LAYERS:
        res.layer[f"self.{layer}_s"] = selfs[layer]
    op_wall, _ = tracer.totals("bench.op")
    res.layer["trace.coverage"] = 1.0 - _div(selfs["unattributed"], op_wall)
    res.layer["trace.spans"] = float(len(tracer.spans))


def query_side(res, tracer, split: dict[str, list[float]], n_queries: int) -> None:
    c = tracer.counters

    def per_q(*names: str) -> float:
        return _div(self_total(split, *names), n_queries)

    res.layer["analysis.query_parse_s"] = per_q("analysis.query_parse")
    res.layer["query.lexicon_probe_s"] = per_q("query.lexicon_probe")
    res.layer["query.chunk_fetch_s"] = per_q("query.chunk_fetch", "query.chunk_read")
    res.layer["query.chunk_cache_hit_ratio"] = _div(c["query.chunk_cache_hits"],
                                                     c["query.chunk_cache_lookups"])
    res.layer["query.chunk_bytes_read"] = _div(c["query.chunk_bytes_read"], n_queries)
    res.layer["query.score_s"] = per_q("query.score")
    for path in ("bmx", "exhaustive", "wand"):
        res.layer[f"query.path.{path}"] = _div(c[f"query.path.{path}"], n_queries)
    res.layer["query.blocks_skipped_ratio"] = _div(c["query.blocks_skipped"], c["query.blocks_total"])
    res.layer["query.postings_scored"] = _div(c["query.postings_scored"], n_queries)
    res.layer["query.norms_s"] = per_q("query.norms")
    res.layer["query.reload_s"] = per_q("query.reload")
    res.layer["codec.decode_s"] = per_q("codec.decode")
    res.layer["codec.postings_decoded"] = _div(c["codec.postings_decoded"], n_queries)
    res.layer["codec.payload_bytes_decoded"] = _div(c["codec.payload_bytes_decoded"], n_queries)
    res.layer["sqlfront.parse_s"] = per_q("sqlfront.parse")
    res.layer["sqlfront.project_s"] = per_q("sqlfront.project")


def build_disk(res, out_dir: str, manifests: dict) -> None:
    """The timed build's output, read right after it returns: stage
    seconds from the manifests it committed and on-disk files and bytes."""
    for stage in ("tf", "postings", "lexicon", "norms"):
        m = manifests.get(f"stage_{stage}", {})
        res.layer[f"build.stage_{stage}_s"] = float(m.get("seconds") or 0.0)
    files = 0
    for _root, _dirs, fs in os.walk(out_dir):
        files += len(fs)
    res.layer["build.files_written"] = float(files)
    for sub in ("index", "lexicon", "doc_stats", "doc_stats_full", "tf", "doc_sha"):
        p = os.path.join(out_dir, sub)
        res.layer[f"build.bytes.{sub}"] = float(dir_bytes(p)) if os.path.isdir(p) else 0.0
    res.layer["udfs.tf_bytes_written"] = res.layer["build.bytes.tf"]


def build_side(res, tracer, build_jobs: list[dict], build_wall_s: float) -> None:
    """The timed build's Spark jobs, driver-only share of its wall, and
    its stats stage (which commits no timing: the gap between its commit
    and stage_tf's)."""
    ends = {s["key"]: s["end"] for s in tracer.spans
            if s["name"] == "catalog.commit" and s.get("key") in ("stage_tf", "stage_stats")}
    res.layer["build.stage_stats_s"] = (ends["stage_stats"] - ends["stage_tf"]
                                        if len(ends) == 2 else 0.0)
    res.layer["build.spark_jobs"] = float(len(build_jobs))
    res.layer["build.driver_only_s"] = build_wall_s - sum(j["end"] - j["start"] for j in build_jobs)


def executor_side(res, jobs: list[dict], pkg_root: str) -> None:
    """udfs sub-layers from the event-log jobs of the timed windows."""
    ev = executor_metrics(jobs, pkg_root)
    for sub in ("scan", "combine", "encode"):
        res.layer[f"udfs.{sub}_task_s"] = ev.get(f"{sub}.task_s", 0.0)
    res.layer["udfs.scan_cpu_s"] = ev.get("scan.cpu_s", 0.0)
    res.layer["udfs.scan_py_s"] = ev.get("scan.py_s", 0.0)
    res.layer["udfs.scan_skew"] = ev.get("scan.skew", 0.0)
    res.layer["udfs.encode_cpu_s"] = ev.get("encode.cpu_s", 0.0)
    res.layer["udfs.tasks"] = float(sum(ev.get(f"{s}.tasks", 0) for s in ("scan", "combine", "encode")))
    res.layer["spark.other_task_s"] = ev.get("other.task_s", 0.0)


def ingest_side(res, tracer, split: dict[str, list[float]], root: str, writer, n_batches: int,
                stream_manifests: dict) -> None:
    batch = tracer.totals("incremental.batch")[0]
    res.layer["incremental.batch_s"] = _div(batch, n_batches)
    res.layer["incremental.refresh_s"] = _div(tracer.totals("incremental.refresh")[0], n_batches)
    res.layer["incremental.fold_s"] = _div(tracer.totals("incremental.fold")[0], n_batches)
    # the batch's own time: everything but its traced sub-spans
    res.layer["incremental.tokenize_encode_s"] = _div(self_total(split, "incremental.batch"),
                                                      n_batches)
    res.layer["incremental.lexicon_compact_s"] = _div(
        tracer.totals("incremental.lexicon_compact")[0], n_batches)
    folds = [s for s in tracer.spans if s["name"] == "incremental.fold"]
    res.layer["incremental.folds"] = float(sum(1 for s in folds if "error" not in s))
    res.layer["incremental.fold_failures"] = float(sum(1 for s in folds if "error" in s))
    batch_bytes = sum(int(m.get("bytes") or 0) for m in stream_manifests.values())
    res.layer["incremental.write_amp"] = _div(batch_bytes + writer.compaction_bytes_written,
                                              batch_bytes)
    upto = writer.folded_upto
    res.layer["incremental.live_batch_dirs"] = float(sum(
        1 for m in stream_manifests.values() if upto is None or int(m["batch_id"]) > upto))
    ds = os.path.join(root, "doc_stats")
    res.layer["incremental.doc_stats_dirs"] = float(
        sum(1 for d in os.listdir(ds) if d.startswith("batch=")))


def operator_side(res, tracer, ann_ms: dict, brute_ms: list, recall: dict) -> None:
    """The one operator round of a traced query run."""
    for kind in ("exact", "minhash", "embedding"):
        res.layer[f"dedup.{kind}_s"] = tracer.totals(f"dedup.{kind}")[0]
    for kind in ("ivf", "graph"):
        res.layer[f"knn.{kind}_probe_ms"] = statistics.median(ann_ms[kind])
        res.layer[f"knn.{kind}_recall_at_10"] = recall[kind]
    res.layer["knn.brute_probe_ms"] = statistics.median(brute_ms)
    res.layer["textstats.profile_s"] = tracer.totals("textstats.profile")[0]
