"""Smoke tests of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The run tests start Spark on tiny inputs (``--size tiny``, cached under
``.perfbench_cache/tiny-v3-<source hash>``) and take about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))

# The named end-to-end metrics each workload prints in its report.
REPORTED = {
    "query": {"setup_s": "s", "build_docs_per_s": "1/s", "class_p50_ms": "ms", "query_p50_ms": "ms",
              "query_tail_ms": "ms", "qps": "1/s", "bytes_per_doc": "B",
              "driver_peak_rss_mb": "MB"},
    "ingest": {"setup_s": "s", "build_docs_per_s": "1/s", "class_p50_ms": "ms", "docs_per_s": "1/s",
               "bytes_per_doc": "B", "append_p50_s": "s", "query_p50_ms": "ms",
               "query_tail_ms": "ms", "driver_peak_rss_mb": "MB"},
}
TRACED_QUERY_EXTRA = {"ann_query_ms": "ms", "dedup_s": "s", "textstats_s": "s"}


def _run(workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=900, cwd=REPO,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def test_benchmark_json_matches_code():
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == layers.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", list(REPORTED))
def test_every_metric_prints_with_unit(workload):
    rc, lines = _run(workload, 0)
    assert rc == 0, lines[-5:]
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(v["value"] > 0 for v in last["metrics"].values())
    report = json.loads(lines[-2])["report"]
    assert {"ops_attempted", "ops_failed", "nproc", "loadavg_start", "loadavg_end"} <= set(report)
    text = "\n".join(lines[:-2])
    printed = {**report["metrics"], "setup_s": {"unit": "s"}, "driver_peak_rss_mb": {"unit": "MB"}}
    for name, unit in REPORTED[workload].items():
        assert printed[name]["unit"] == unit
        assert f"  {name} " in text
    assert "ops_attempted" in text and "ops_failed" in text


def test_traced_run_prints_every_layer_metric():
    rc, lines = _run("query", 1)
    assert rc == 0, lines[-5:]
    last = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert last["metrics"]["trace.spans"]["value"] > 0
    report = json.loads(lines[-2])["report"]
    for name, unit in TRACED_QUERY_EXTRA.items():
        assert report["metrics"][name]["unit"] == unit


def test_self_split_leaves_entry_point_time_unattributed():
    # op [0, 10] > query.search [1, 9] > query.score [2, 4]; a Spark job
    # runs over [5, 6] inside the search's own time
    spans = [
        {"id": 0, "name": "bench.op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "query.search", "parent": 0, "start": 1.0, "end": 9.0},
        {"id": 2, "name": "query.score", "parent": 1, "start": 2.0, "end": 4.0},
    ]
    split = layers.self_split(spans, [(5.0, 6.0)])
    assert split["bench.op"] == [2.0, 0.0]
    assert split["query.search"] == [5.0, 1.0]
    assert split["query.score"] == [2.0, 0.0]

    class T:
        pass

    t = T()
    t.spans = spans
    t.totals = lambda name: (10.0, 1) if name == "bench.op" else (0.0, 0)
    res = workloads.Result()
    layers.common(res, t, split)
    assert res.layer["self.unattributed_s"] == 7.0
    assert res.layer["self.spark_s"] == 1.0
    assert res.layer["self.query_s"] == 2.0
    assert abs(res.layer["trace.coverage"] - 0.3) < 1e-12


def test_perturbed_topk_fails_the_gate():
    from pyfusedb_spark.analysis import Analyzer
    from pyfusedb_spark.oracle import OracleIndex

    docs = [(0, "merge sort index"), (1, "merge merge buffer"), (2, "sort index table"),
            (3, "index index index"), (4, "binary search tree")]
    oracle = OracleIndex(Analyzer("code")).build(docs)
    want = oracle.search_bm25("merge index", 10)
    assert len(want) >= 2

    def gate(got, want=want, text="merge index", orc=oracle):
        res = workloads.Result()
        scores = dict(orc.search_bm25(text, 20))
        workloads.rank_gate(res, "g", [(text, got, want, scores)])
        return res.gates[0][1], res.failed

    assert gate(list(want)) == (True, 0)
    swapped = [want[1], want[0], *want[2:]]
    nudged = [(want[0][0], want[0][1] * (1 + 1e-6)), *want[1:]]
    assert not gate(swapped)[0]
    assert not gate(nudged)[0]
    assert not gate(want[:-1])[0]
    # docs 5 and 6 are identical: swapping them is the known tie-order
    # defect, a failed op rather than a failed gate
    dup = OracleIndex(Analyzer("code")).build(docs + [(5, "zeta merge"), (6, "zeta merge")])
    tied = dup.search_bm25("zeta", 10)
    assert [d for d, _ in tied] == [5, 6] and tied[0][1] == tied[1][1]
    assert gate([tied[1], tied[0]], tied, "zeta", dup) == (True, 1)
