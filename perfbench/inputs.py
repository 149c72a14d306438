"""Benchmark inputs: sizes, the on-disk input cache and the seeded streams.

Inputs that do not depend on the seed (the synthetic code corpus, the
embeddings table and the IVF/graph ANN indexes), and the values the
gates check against, are materialized once into ``.perfbench_cache/``
at the repository root and reused. The cache directory is keyed by a hash
of the engine's sources (and of this file), so every engine revision
reads only inputs its own code made. Indexes the workloads time or query
are built in every run.
The seed drives only what is cheap to derive per run: the query stream,
the ingest batch slicing and its queries, and the ANN query vectors.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# One size set is measured; "tiny" exists for the benchmark's own smoke test.
SIZES = {
    "full": {
        "corpus_rows": 6000,
        "query_docs": 4000,   # the query workload's index
        "ingest_base": 2000,  # batch-built base the appends land on
        "batch_docs": 100,
        "n_batches": 8,       # one posting fold at compact_postings_every=8
        "op_docs": 5000,      # sf0.1 `documents` row count
        "op_vecs": 2000,      # sf0.1 `embeddings` row count
        "ann_queries": 4,     # per ANN index per operator round
    },
    "tiny": {
        "corpus_rows": 700,
        "query_docs": 500,
        "ingest_base": 200,
        "batch_docs": 20,
        "n_batches": 8,
        "op_docs": 600,
        "op_vecs": 300,
        "ann_queries": 2,
    },
}

# build_index settings shared by the query index and the ingest base
INDEX_PRESET = "code"
INDEX_BUCKETS = 4
EMB_DIM = 64

# Search classes of the stream (FIXTURES.md section 7 shapes), equally
# weighted: each deck holds one query of every class, in seeded order.
# Equal weight is a design choice, not measured traffic; no query log is in
# the repository. Head keywords hit the chunk cache; mid/project-tier and
# absent terms miss it.
QUERY_CLASSES = ["head", "mid", "project", "or", "wand", "and", "tfidf", "absent"]
# The SQL front (plans.sqlfront.FuseSession.sql with row projection) gets
# one query after every SQL_EVERY decks: a fixed share of 1 in
# 8 * SQL_EVERY + 1, also a design choice. One SQL-front query runs a
# Spark job and costs about as much as 40 search queries, so at equal
# weight it would take most of the loop and leave every class a handful
# of samples.
SQL_EVERY = 4
# Term popularity within a tier follows the corpus generator's own draw
# for that tier (sources.corpus._row_content): keywords Zipf with its
# exponent, mid-tier and project-tier terms uniform.
ZIPF_A = 1.3
# Zipf head of the generator's code keywords (sources.corpus)
HEAD_TERMS = (
    "def return self import class public static void func var val if else "
    "for while try except finally new int string bool none null true false"
).split()
IDENT_HEADS = "parse build merge sort scan read write load store index query fetch emit".split()
IDENT_TAILS = "buffer index table request response handler writer reader block segment cursor".split()
ENGLISH = "binary search tree inverted posting list term frequency document ranking relevance score".split()


def source_hash(repo_root: str) -> str:
    """sha256 over the engine's Python sources and this file."""
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, "pyfusedb_spark")
    files = [os.path.join(r, f) for r, _d, fs in os.walk(pkg) for f in fs if f.endswith(".py")]
    for path in sorted(files) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, repo_root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def cache_root(repo_root: str, size: str) -> str:
    return os.path.join(repo_root, ".perfbench_cache", f"{size}-v3-{source_hash(repo_root)}")


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(tmp, final)


def input_paths(root: str) -> dict[str, str]:
    paths = {name: os.path.join(root, name) for name in ("corpus", "embeddings", "ann")}
    paths["project_terms"] = os.path.join(root, "project_terms.json")
    return paths


def missing(paths: dict[str, str]) -> bool:
    return not all(os.path.exists(p) for p in paths.values())


def materialize(spark, paths: dict[str, str], sz: dict) -> None:
    """Make the seed-independent inputs that do not exist yet."""
    from pyfusedb_spark.operators import knn
    from pyfusedb_spark.sources.corpus import synthetic_code_corpus, synthetic_embeddings

    def ann(tmp):
        emb = spark.read.parquet(paths["embeddings"])
        ivf = knn.PersistedIVF.build(emb, tmp, nlist=8, sample_n=512)
        knn.PersistedGraphANN.build(ivf, m=8, seg_target=4096)

    steps = [
        ("corpus", lambda tmp: synthetic_code_corpus(
            spark, sz["corpus_rows"], 8, with_doc_id=True).write.parquet(tmp)),
        ("embeddings", lambda tmp: synthetic_embeddings(
            spark, sz["op_vecs"], EMB_DIM, n_partitions=4).write.parquet(tmp)),
        ("ann", ann),
    ]
    for name, make in steps:
        if not os.path.exists(paths[name]):
            tmp = paths[name] + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            make(tmp)
            _publish(tmp, paths[name])
    if not os.path.exists(paths["project_terms"]):
        with open(paths["project_terms"] + ".tmp", "w") as f:
            json.dump(present_project_terms(paths["corpus"], sz["query_docs"]), f)
        os.replace(paths["project_terms"] + ".tmp", paths["project_terms"])


def present_project_terms(corpus_dir: str, n: int) -> list[str]:
    """Project-tier terms (in pool order) that occur in the first ``n``
    corpus rows. The generator gives each doc 3 of its 20k project terms,
    so at a few thousand docs about half the pool is absent; drawing only
    present terms keeps the project class a rare-term query (df ~ 1) and
    leaves absent terms to their own class."""
    from pyfusedb_spark.sources.corpus import project_vocab_sample

    tokens: set[str] = set()
    for _, text in read_docs(corpus_dir, n):
        tokens.update((text or "").split())
    return [t for t in (project_vocab_sample(k) for k in range(20000)) if t in tokens]


def load_project_terms(paths: dict[str, str]) -> list[str]:
    with open(paths["project_terms"]) as f:
        return json.load(f)


def index_config():
    from pyfusedb_spark.operators.build import IndexConfig

    return IndexConfig(preset=INDEX_PRESET, n_buckets=INDEX_BUCKETS)


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_docs(corpus_dir: str, limit: int) -> list[tuple[int, str]]:
    """(doc_id, content) of the first ``limit`` corpus rows, read with pyarrow."""
    import pyarrow.dataset as pads

    tbl = pads.dataset(corpus_dir, format="parquet").to_table(columns=["doc_id", "content"])
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("content").to_pylist()
    return sorted((i, t) for i, t in zip(ids, texts) if i < limit)


def expected_build(root: str, corpus_dir: str, n: int) -> dict:
    """n_docs, n_postings and sha256 lineage recomputed from the corpus
    parquet with the shared analyzer and hashlib (cached; untimed)."""
    path = os.path.join(root, f"expected_build_{n}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from pyfusedb_spark.analysis import Analyzer

    an = Analyzer(INDEX_PRESET)
    docs = read_docs(corpus_dir, n)
    out = {
        "n_docs": len(docs),
        "n_postings": sum(len(an.term_freqs(t or "")) for _, t in docs),
        "sha256_lineage_sum": str(sum(
            int(hashlib.sha256((t or "").encode()).hexdigest()[:15], 16) for _, t in docs
        )),
    }
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


# -- seeded streams ------------------------------------------------------------

def _zipf_pick(rng, pool_len: int) -> int:
    return int(min(rng.zipf(ZIPF_A) - 1, pool_len - 1))


def _term(rng, tier: str, project: list[str]) -> str:
    from pyfusedb_spark.sources.corpus import mid_vocab_sample

    if tier == "head":
        return HEAD_TERMS[_zipf_pick(rng, len(HEAD_TERMS))]
    if tier == "mid":
        return mid_vocab_sample(int(rng.integers(500)))
    if tier == "project":
        return project[int(rng.integers(len(project)))]
    if tier == "ident":
        return f"{IDENT_HEADS[rng.integers(len(IDENT_HEADS))]}{IDENT_TAILS[rng.integers(len(IDENT_TAILS))].title()}"
    return ENGLISH[rng.integers(len(ENGLISH))]


def query_stream(seed: int, project: list[str]):
    """Endless seeded stream of query dicts (class, text, mode, conjunctive,
    sql). Search classes come in decks holding each of QUERY_CLASSES once,
    in seeded order; one SQL-front query follows every SQL_EVERY decks, so
    every round of ROUND queries has the stated mix. ``project`` is the
    project-tier vocabulary (``present_project_terms``)."""
    rng = np.random.default_rng([seed, 1])
    while True:
        for _ in range(SQL_EVERY):
            for cls in rng.permutation(QUERY_CLASSES):
                yield _query(rng, str(cls), project)
        yield _query(rng, "sql", project)


ROUND = len(QUERY_CLASSES) * SQL_EVERY + 1  # queries per round of the stream


def _query(rng, cls: str, project: list[str]) -> dict:
    def term(tier):
        return _term(rng, tier, project)

    q = {"cls": cls, "mode": "bm25", "conjunctive": False, "sql": False}
    if cls in ("head", "mid", "project"):
        q["text"] = term(cls)
    elif cls == "or":
        # a fixed shape: with a head keyword in some queries only, the
        # class median would flip between the two cost clusters by seed
        q["text"] = f"{term('head')} {term('ident')} {term('mid')}"
    elif cls == "wand":
        q["text"] = " ".join([term("head"), term("project"), term("project"),
                              term("mid"), term("mid"), term("ident")])
    elif cls == "and":
        q["text"] = f"{term('ident')} {term('english')}"
        q["conjunctive"] = True
    elif cls == "tfidf":
        q["text"] = f"{term('mid')} {term('ident')}"
        q["mode"] = "tfidf"
    elif cls == "absent":
        q["text"] = "zq" + "".join(chr(97 + c) for c in rng.integers(0, 26, 9))
    else:  # sql: the SQL front with row projection
        q["text"] = f"{term('ident')} {term('mid')}"
        q["sql"] = True
    return q


def ingest_plan(seed: int, sz: dict, project: list[str]) -> tuple[list[list[int]], list[dict]]:
    """Seeded slicing of the append pool into batches, plus the fixed few
    queries issued after every append."""
    rng = np.random.default_rng([seed, 2])
    lo = sz["ingest_base"]
    pool = lo + rng.permutation(sz["n_batches"] * sz["batch_docs"])
    batches = [sorted(int(x) for x in b) for b in np.split(pool, sz["n_batches"])]
    qs = query_stream(seed + 7919, project)
    queries = []
    while len(queries) < 3:
        q = next(qs)
        if q["cls"] in ("head", "or", "mid", "project", "wand"):
            queries.append(q)
    return batches, queries


def ann_queries(seed: int, vecs: np.ndarray, n: int) -> list[list[float]]:
    """Seeded query vectors near stored ones (so true neighbours exist)."""
    rng = np.random.default_rng([seed, 3])
    ids = rng.choice(len(vecs), size=n, replace=False)
    q = vecs[ids] + 0.1 * rng.standard_normal((n, vecs.shape[1])) / np.sqrt(vecs.shape[1])
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return [list(map(float, row)) for row in q]


def planted_counts(n_docs: int, n_vecs: int) -> dict[str, int]:
    """Duplicates the generators plant by construction (sources.corpus):
    row i is empty when i % 997 == 0 and copies row i-1 when
    i % 500 == 499; embedding i is a near-copy of i-1 when i % 50 == 1."""
    exact = sum(1 for i in range(1, n_docs) if i % 997 == 0 or i % 500 == 499)
    copies = sum(1 for i in range(1, n_docs) if i % 500 == 499 and i % 997 != 0 and (i - 1) % 997 != 0)
    return {
        "exact": exact,
        "minhash": copies,
        "embedding": sum(1 for i in range(1, n_vecs) if i % 50 == 1),
    }
