"""Force the Spark (real-cluster) branches of build_index.

The build uses driver-local DuckDB aggregations for manifest stats at
toy scale, with Spark fallbacks for real clusters / non-local
filesystems. Round-1 review: "the DuckDB branch is what actually ran in
all evidence" — so this test blocks duckdb (sys.modules poisoning makes
`import duckdb` raise) and proves the Spark paths produce an
identically-searchable index, with and without bucket-salted tpart
routing (n_buckets > 1 spreads a term's lexicon rows over several
tparts, which takes the distinct-vocabulary path)."""

import sys

import numpy as np
import pytest

from pyfusedb_spark.analysis import Analyzer
from pyfusedb_spark.operators.build import IndexConfig, build_index
from pyfusedb_spark.operators.query import FuseIndex
from pyfusedb_spark.oracle import OracleIndex

from tests.test_oracle import PANGRAMS

QUERIES = ["quick fox", "jumping wizards", "flower bloom dog"]


@pytest.mark.parametrize(
    "n_buckets,n_tparts", [(1, 1), (3, 4)], ids=["buckets1-tparts1", "buckets3-tparts4"]
)
def test_build_without_duckdb_matches_oracle(spark, tmp_path, monkeypatch, n_buckets, n_tparts):
    monkeypatch.setitem(sys.modules, "duckdb", None)  # import duckdb -> ImportError
    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(PANGRAMS)], "doc_id long, content string"
    )
    out = str(tmp_path / f"idx_{n_buckets}_{n_tparts}")
    stats = build_index(
        spark, docs, out, doc_id_col="doc_id",
        config=IndexConfig(preset="english", n_buckets=n_buckets, n_tparts=n_tparts,
                           shuffle_partitions=4),
    )
    oracle = OracleIndex(Analyzer("english")).build(PANGRAMS)
    assert stats["n_docs"] == oracle.n_docs
    assert stats["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-9)
    assert stats["vocabulary"] == len(oracle.vocabulary())
    assert stats["n_tparts"] == n_tparts
    idx = FuseIndex(spark, out)
    for q in QUERIES:
        got = idx.search(q, 10)
        expect = oracle.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expect], q
        np.testing.assert_allclose([s for _, s in got], [s for _, s in expect], atol=1e-9)
