"""The one batch build pipeline (fused scan -> tpart files -> per-tpart
encoder): stage stats come from the scan's own sums, legacy manifests
and streamed roots are refused, TF-IDF norms are bit-stable for equal
docs, and a streaming fold over a batch-built base works."""

import json
import os
import random

import numpy as np
import pandas as pd
import pytest

from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex
from pyfusedb_spark.sources.catalog import ManifestCatalog

from tests.test_oracle import PANGRAMS

QUERIES = ["quick fox", "jumping wizards", "flower bloom dog", "quick"]


def _df(spark, docs, base=0):
    return spark.createDataFrame(
        [(base + i, c) for i, c in enumerate(docs)], "doc_id long, content string"
    )


def _assert_matches_oracle(idx, oracle, queries=QUERIES):
    for q in queries:
        got = idx.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expect], q
        np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)


def test_scan_stats_equal_doc_stats_recount_and_oracle(spark, tmp_path):
    """n_docs, total_len, avgdl and the sha256 lineage sum come from the
    fused scan's per-task sums; they must equal a recount over the
    doc_stats/ rows the same scan wrote, and the oracle."""
    import hashlib

    out = str(tmp_path / "idx")
    docs = PANGRAMS + ["", "   "]  # empty docs count toward N with doc_len 0
    stats = build_index(
        spark, _df(spark, docs), out, doc_id_col="doc_id",
        config=IndexConfig(n_buckets=3, n_tparts=4, shuffle_partitions=4),
    )
    ds = pd.read_parquet(os.path.join(out, "doc_stats")).sort_values("doc_id")
    assert ds["doc_id"].tolist() == list(range(len(docs)))
    oracle = OracleIndex(Analyzer("english")).build(docs)
    total = int(ds["doc_len"].sum())
    lineage = sum(int(h[:15], 16) for h in ds["sha256"])
    assert ds["sha256"].tolist() == [
        hashlib.sha256(c.encode("utf-8")).hexdigest() for c in docs
    ]
    assert stats["n_docs"] == len(ds) == oracle.n_docs
    assert stats["total_len"] == total
    assert stats["avgdl"] == total / len(ds) == oracle.avgdl  # bitwise
    assert stats["sha256_lineage_sum"] == str(lineage)
    assert ds["doc_len"].tolist()[-2:] == [0, 0]
    # sha256 lives in doc_stats/ only (no separate sha directory)
    assert set(os.listdir(out)) == {
        "_manifests", "doc_stats", "doc_stats_full", "index", "lexicon", "stats.json", "tf"
    }
    m = json.load(open(os.path.join(out, "_manifests", "stage_stats.json")))
    assert m["avgdl"] == stats["avgdl"] and m["n_docs"] == stats["n_docs"]


def test_legacy_manifest_refused(spark, tmp_path):
    """A stage_tf manifest without the tpart layout (written by the
    removed live-exchange posting modes) cannot resume: loud ValueError,
    never a silent fallback."""
    out = str(tmp_path / "idx")
    cfg = IndexConfig(n_buckets=2, shuffle_partitions=4)
    build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg)
    cat = ManifestCatalog(out)
    m = cat.read_manifest("stage_tf")
    m.pop("n_tparts")
    cat.commit("stage_tf", m)
    with pytest.raises(ValueError, match="rebuild"):
        build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg)
    # stage_tf without the scan sums can't re-derive stage_stats either
    m = cat.read_manifest("stage_tf")
    m["n_tparts"] = 1
    m.pop("total_len")
    cat.commit("stage_tf", m)
    cat.uncommit("stage_stats")
    with pytest.raises(ValueError, match="rebuild"):
        build_index(spark, _df(spark, PANGRAMS), out, doc_id_col="doc_id", config=cfg)


def test_build_refuses_streamed_root(spark, tmp_path):
    """The posting stage's pre-wave cleanup removes tpart=P dirs under
    every bucket= dir; on a root a streaming writer appended to, those
    include live streamed postings. build_index must refuse it and
    leave the streamed data untouched."""
    from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

    out = str(tmp_path / "idx")
    cfg = IndexConfig(n_buckets=2, n_tparts=2, shuffle_partitions=2)
    base = PANGRAMS[:12]
    build_index(spark, _df(spark, base), out, doc_id_col="doc_id", config=cfg)
    writer = IncrementalIndexWriter(spark, out, config=cfg)
    writer.process_batch(_df(spark, PANGRAMS[12:], base=12), 0)
    before = {
        os.path.join(r, f) for r, _, fs in os.walk(os.path.join(out, "index")) for f in fs
    }
    with pytest.raises(ValueError, match="stream"):
        build_index(spark, _df(spark, base), out, doc_id_col="doc_id", config=cfg)
    after = {
        os.path.join(r, f) for r, _, fs in os.walk(os.path.join(out, "index")) for f in fs
    }
    assert after == before
    _assert_matches_oracle(FuseIndex(spark, out),
                           OracleIndex(Analyzer("english")).build(PANGRAMS))


def test_first_fold_on_batch_built_base(spark, tmp_path):
    """A batch-built base has index/bucket=K/tpart=P dirs and appended
    batches follow that layout, so the first posting fold reads several
    bucket= roots that each hold tpart= partition dirs. Reading them
    without a basePath raised CONFLICTING_DIRECTORY_STRUCTURES."""
    from pyfusedb_spark.streaming.incremental import IncrementalIndexWriter

    docs = [PANGRAMS[i % len(PANGRAMS)] + f" tail{i}" for i in range(420)]
    out = str(tmp_path / "idx")
    cfg = IndexConfig(n_buckets=2, n_tparts=2, shuffle_partitions=2)
    build_index(spark, _df(spark, docs[:400]), out, doc_id_col="doc_id", config=cfg)
    writer = IncrementalIndexWriter(spark, out, config=cfg)
    writer.compact_postings_every = 2
    writer.process_batch(_df(spark, docs[400:410], base=400), 0)
    writer.process_batch(_df(spark, docs[410:], base=410), 1)
    assert writer.stream_segments, "batch 1 must fold batches 0-1 into a segment"
    oracle = OracleIndex(Analyzer("english")).build(docs)
    _assert_matches_oracle(FuseIndex(spark, out), oracle,
                           QUERIES + ["tail405 tail417 tail3"])


def test_tfidf_norms_bitwise_equal_for_identical_docs(spark, tmp_path):
    """Identical docs must get bitwise-equal TF-IDF norms, so they tie
    exactly and rank in id order. Copies sit on both sides of doc-range
    bucket boundaries, where their postings route to different tparts
    and reach the norms sum in different orders."""
    rng = random.Random(5)
    vocab = [f"w{i:03d}" for i in range(300)]
    docs = [" ".join(rng.choice(vocab) for _ in range(rng.randint(40, 90)))
            for _ in range(64)]
    pairs = [(15, 16), (31, 32), (47, 48), (7, 8), (55, 56)]
    for a, b in pairs:
        docs[b] = docs[a]
    out = str(tmp_path / "idx")
    build_index(
        spark, _df(spark, docs), out, doc_id_col="doc_id",
        config=IndexConfig(preset="simple", n_buckets=4, n_tparts=4, shuffle_partitions=4),
    )
    norms = pd.read_parquet(os.path.join(out, "doc_stats_full")).set_index("doc_id")["norm"]
    oracle = OracleIndex(Analyzer("simple")).build(docs)
    for a, b in pairs:
        assert norms[a] == norms[b], (a, b, norms[a].hex(), norms[b].hex())
        assert norms[a] == pytest.approx(oracle.norms[a], rel=1e-12)
    idx = FuseIndex(spark, out)
    for a, b in pairs:
        q = " ".join(docs[a].split()[:6])
        got = idx.search(q, 5, mode="tfidf")
        ids = [d for d, _ in got]
        assert ids.index(a) + 1 == ids.index(b), (q, got)
        assert got[ids.index(a)][1] == got[ids.index(b)][1]

