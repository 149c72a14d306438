"""Iceberg-semantics manifest layer: atomic snapshot commits + resume.

No Iceberg jars are available in this sandbox (no network to Maven
Central), so we implement the *semantics* the north rule needs — per-
partition posting-segment manifests (term range, doc count, bytes, sha256
lineage, per-stage metrics) committed transactionally, and kill-resume
that skips committed segments — in plain Python over Parquet directories:

    <root>/
      tf/tpart=P/*.parquet           stage-1 packed term-frequency runs
      doc_stats/*.parquet            (doc_id, doc_len, sha256)
      doc_stats_full/*.parquet       (doc_id, doc_len, sha256, norm)
      index/bucket=K/tpart=P/*.parquet   encoded posting chunks
      lexicon/tpart=P/*.parquet      (term, df, total_tf, max_partial, n_chunks)
      _manifests/<key>.json          one manifest per committed unit
      _manifests/snapshot.json       atomic snapshot listing all manifests
      stats.json                     global stats (N, avgdl, config)

Commit protocol: data is written to ``<dir>.tmp-<nonce>`` and atomically
moved into place, then the manifest JSON is written tmp+rename, then
snapshot.json is rewritten tmp+rename. A killed build leaves either
no manifest (unit re-runs) or a complete one (unit is skipped) — the
reference's temp-file rename dance (``app/InvertedIndex.py:283-296``)
generalized to a transactional catalog. All IO routes through
``pyfusedb_spark.fsio`` so root may be a plain path OR a pyarrow.fs URI
(file://, hdfs://, s3://); on rename-less object stores the manifest
commit itself is the atomicity boundary (fsio module docstring). Keep
this interface thin so real Iceberg ``writeTo(...).append()`` can slot
in when jars are available.
"""

from __future__ import annotations

import json
import uuid

from pyfusedb_spark import fsio


def write_json_atomic(path: str, payload: dict) -> None:
    """tmp + rename JSON write — readers never observe a torn file.

    Used for stats.json (rewritten per streaming micro-batch while a
    held-open FuseIndex re-reads it on every search) and any other
    sidecar JSON that has live readers."""
    fsio.write_json_atomic(path, payload)


class ManifestCatalog:
    def __init__(self, root: str):
        self.root = root
        self.mdir = fsio.join(root, "_manifests")
        fsio.makedirs(self.mdir)

    # -- atomic file helpers ------------------------------------------------
    @staticmethod
    def staging_dir(final_dir: str) -> str:
        return f"{final_dir}.tmp-{uuid.uuid4().hex[:8]}"

    @staticmethod
    def promote_dir(staging: str, final_dir: str) -> None:
        """Atomically move a finished staging dir into place (and drop
        any orphaned sibling stagings from earlier killed attempts —
        they'd otherwise match `dir/*/*.parquet` globs and double-count).
        Rename-based (atomic) on local/file:///HDFS; per-file copy on
        object stores, where the subsequent manifest commit is the real
        visibility gate."""
        if fsio.exists(final_dir):
            fsio.rmtree(final_dir)
        fsio.move(staging, final_dir)
        prefix = fsio.basename(final_dir) + ".tmp-"
        parent = fsio.dirname(final_dir) or "."
        for name in fsio.listdir(parent):
            if name.startswith(prefix):
                fsio.rmtree(fsio.join(parent, name))

    @staticmethod
    def clean_orphan_staging(root: str) -> None:
        """Remove every `*.tmp-*` staging dir under root (recursive). 
        Called on build resume BEFORE any stage reads/aggregates — a
        killed run's leftovers must not be scanned."""
        for d in fsio.find_tmp_dirs(root):
            fsio.rmtree(d)

    # -- manifests ------------------------------------------------------------
    def manifest_path(self, key: str) -> str:
        return fsio.join(self.mdir, f"{key}.json")

    def is_committed(self, key: str) -> bool:
        p = self.manifest_path(key)
        try:
            m = fsio.read_json(p)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return False
        data_dir = m.get("data_dir")
        return data_dir is None or fsio.exists(data_dir)

    def read_manifest(self, key: str) -> dict | None:
        if not self.is_committed(key):
            return None
        return fsio.read_json(self.manifest_path(key))

    def commit(self, key: str, manifest: dict) -> None:
        """Commit one unit (a bucket segment / a stage) + refresh snapshot."""
        fsio.write_json_atomic(self.manifest_path(key), manifest)
        self._refresh_snapshot()

    def uncommit(self, key: str) -> None:
        fsio.remove(self.manifest_path(key))
        self._refresh_snapshot()

    def _refresh_snapshot(self) -> None:
        keys = sorted(
            f[:-5] for f in fsio.listdir(self.mdir)
            if f.endswith(".json") and f != "snapshot.json" and ".tmp-" not in f
        )
        manifests = {}
        for k in keys:
            try:
                manifests[k] = fsio.read_json(self.manifest_path(k))
            except (FileNotFoundError, json.JSONDecodeError, OSError):
                continue
        fsio.write_json_atomic(
            fsio.join(self.mdir, "snapshot.json"),
            {"snapshot_of": keys, "manifests": manifests},
        )

    def snapshot(self) -> dict:
        try:
            return fsio.read_json(fsio.join(self.mdir, "snapshot.json"))
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return {"snapshot_of": [], "manifests": {}}
