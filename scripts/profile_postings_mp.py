"""Spark-free repro of stage_postings over the REAL tf files.

Runs the exact per-tpart work the stage's mapInArrow task does —
pyarrow.dataset read of tpart=P, extract, make_packed_encoder merge
(dictionary-encode + integer lexsort + delta/varint/block-max pack) —
under plain multiprocessing at two pinned parallelism levels, against
the tf directory an actual bench build left behind. Isolates whether
the observed per-task encode-wall inflation at local[32] (6x vs
local[8] for identical work, r5 pair protocol) is the WORK (then it
reproduces here) or the Spark worker context (then it doesn't).

Usage: python scripts/profile_postings_mp.py [tf_dir] [avgdl] [--write]
  --write also writes the encoded chunks to a throwaway parquet per
  tpart (adds the IO half of the real task).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pyfusedb_bench_synth_32/tf"
AVGDL = float(sys.argv[2]) if len(sys.argv) > 2 else 60.0
WRITE = "--write" in sys.argv


def work(tp: int, out_dir: str) -> float:
    import pyarrow as pa
    import pyarrow.dataset as pads

    from pyfusedb_spark.functions.udfs import concat_runs, extract_runs, make_packed_encoder

    encode_arrays = make_packed_encoder(AVGDL, 1.2, 0.75, 128)
    src = os.path.join(TF_DIR, f"tpart={tp}")
    ds = pads.dataset(src, format="parquet")
    parts = [
        extract_runs(bt)
        for bt in ds.to_batches(columns=["term", "bucket", "docs", "tfs", "dls"])
        if bt.num_rows
    ]
    c0 = time.process_time()
    t0 = time.perf_counter()
    chunk = encode_arrays(*concat_runs(parts), pid=tp)
    micros = time.perf_counter() - t0
    cpu = time.process_time() - c0
    if WRITE:
        import pyarrow.parquet as pq

        tbl = pa.Table.from_batches([chunk])
        pq.write_table(tbl, os.path.join(out_dir, f"t{tp}.parquet"),
                       compression="snappy", use_dictionary=False)
    return (micros, cpu)


def run_level(procs: int, tparts: list[int]) -> dict:
    os.sched_setaffinity(0, set(range(procs)))
    out_dir = tempfile.mkdtemp(prefix=f"postmp_{procs}_")
    try:
        ctx = mp.get_context("fork")
        with ctx.Pool(procs) as pool:
            pool.starmap(work, [(tparts[0], out_dir)] * procs)  # warm
            t0 = time.perf_counter()
            res = pool.starmap(work, [(tp, out_dir) for tp in tparts])
            wall = time.perf_counter() - t0
            encs = [r[0] for r in res]
            cpus = [r[1] for r in res]
    finally:
        os.sched_setaffinity(0, set(range(os.cpu_count())))
        shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "procs": procs,
        "n_tparts": len(tparts),
        "wall_sec": round(wall, 3),
        "enc_wall_sum": round(sum(encs), 3),
        "enc_wall_mean": round(sum(encs) / len(encs), 4),
        "enc_cpu_mean": round(sum(cpus) / len(cpus), 4),
        "write": WRITE,
    }


def main() -> None:
    tparts = sorted(
        int(d.split("=")[1]) for d in os.listdir(TF_DIR) if d.startswith("tpart=")
    )
    out = {}
    for procs in (8, 32):
        r = run_level(procs, tparts)
        print(json.dumps(r), flush=True)
        out[procs] = r["wall_sec"]
    if 8 in out and 32 in out:
        print(json.dumps({"pair": "8->32", "efficiency": round(out[8] / out[32] / 4, 3)}))


if __name__ == "__main__":
    main()
