"""pyfusedb_spark benchmark: one workload per run, from one driver process.

    python3 perfbench/run.py --workload {query,ingest} \
        --seed N --seconds S --trace {0,1} [--size full|tiny]

Runs Spark at local[nproc] on the cores this process may use, measures
the workload (the query loop's length scales with ``--seconds``; the
ingest workload's append count is fixed), checks the engine's outputs
and prints a report. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The exit
code is 1 when a correctness gate fails and 2 when the engine cannot be
found or imported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

END_TO_END = [("setup_s", "s"), ("build_docs_per_s", "1/s"), ("class_p50_ms", "ms"),
              ("work_per_s", "1/s"), ("bytes_per_doc", "B"), ("driver_peak_rss_mb", "MB")]
DRIVER_MEMORY = "4g"


def process_start_epoch() -> float:
    """Wall-clock start of this process (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Host-wide user..steal ticks from /proc/stat (steal is the time the
    hypervisor ran something else while this VM wanted the CPU)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def start_spark(nproc: int, work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp")
        .config("spark.local.dir", f"{work}/tmp")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    return b.getOrCreate()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


class Context:
    """What a workload needs: session, inputs, timing hooks, tracer."""

    def __init__(self, args, spark, tracer, sz, paths, cache, work, event_log):
        self.spark = spark
        self.tracer = tracer
        self.sz = sz
        self.paths = paths
        self.cache = cache
        self.work = work
        self.event_log = event_log
        self.pkg_root = os.path.join(REPO, "pyfusedb_spark")
        self.traced = bool(args.trace)
        self.seed = args.seed
        self.seconds = args.seconds
        # Random 64-d unit vectors: beyond the stored vector a query is made
        # from, its true neighbours fall in IVF lists at random, so expected
        # recall@10 is about 0.1 + 0.9 * nprobe / nlist = 0.775. The floor
        # catches a broken index, not chance.
        self.recall_floor = 0.6
        self.windows: list[list[float]] = []  # epoch seconds of each timed window
        self.peak_rss_mb = 0.0
        self.phases: dict[str, float] = {}    # wall seconds of each phase of the run
        self._phase_t = time.time()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.time()
        self.phases[name] = round(now - self._phase_t, 3)
        self._phase_t = now

    def start_timed(self) -> None:
        gc.collect()  # garbage of set-up work is not collected inside a timed window
        self.windows.append([time.time(), float("inf")])
        self.tracer.enabled = self.traced

    def end_timed(self) -> None:
        self.windows[-1][1] = time.time()
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        self.tracer.enabled = False  # set-up and checking work is not traced

    @contextlib.contextmanager
    def op(self, request):
        self.tracer.request = str(request)
        with self.tracer.span("bench.op"):
            yield
        self.tracer.request = None

    def trace_basis(self):
        """(self-time split, Spark jobs of every timed window, Spark jobs of
        the first window, the build) from the spans and the event log."""
        from layers import self_split
        from tracing import parse_event_log

        jobs = parse_event_log(self.event_log)

        def within(job, win):
            return win[0] <= job["start"] <= win[1]

        timed = [j for j in jobs if any(within(j, w) for w in self.windows)]
        build_jobs = [j for j in jobs if within(j, self.windows[0])]
        off = self.tracer.epoch_offset
        split = self_split(self.tracer.spans, [(j["start"] - off, j["end"] - off) for j in timed])
        return split, timed, build_jobs

    @staticmethod
    def read_manifests(out_dir: str) -> dict:
        with open(os.path.join(out_dir, "_manifests", "snapshot.json")) as f:
            return json.load(f)["manifests"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["query", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--materialize", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_proc = process_start_epoch()
    if not os.path.isfile(os.path.join(REPO, "pyfusedb_spark", "operators", "build.py")):
        print(f"perfbench: engine package not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    try:
        import pyspark  # noqa: F401

        import pyfusedb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import inputs
    import workloads
    from tracing import Tracer, install_layer_spans

    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)  # pin (what `taskset` does) before the JVM forks
    nproc = len(cpus)
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    sz = inputs.SIZES[args.size]
    cache = inputs.cache_root(REPO, args.size)
    work = os.path.join(cache, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)

    tracer = Tracer(enabled=False)
    try:
        paths = inputs.input_paths(cache)
        materialize_s = 0.0
        if args.materialize:
            spark = start_spark(nproc, work, None)
            try:
                inputs.materialize(spark, paths, sz)
            finally:
                stop_spark(spark)
            return 0
        if inputs.missing(paths):
            # a child process with its own session makes the inputs, so the
            # measured session starts as cold as in every later run
            t0 = time.time()
            given = sys.argv[1:] if argv is None else list(argv)
            subprocess.run([sys.executable, os.path.abspath(__file__), *given, "--materialize"],
                           stdout=sys.stderr, check=True)
            materialize_s = time.time() - t0
        spark = start_spark(nproc, work, event_log)
        try:
            from pyfusedb_spark.shipping import ensure_shipped

            ensure_shipped(spark)
            ctx = Context(args, spark, tracer, sz, paths, cache, work, event_log)
            ctx.phases["spark_start"] = round(ctx._phase_t - t_proc - materialize_s, 3)
            if args.trace:
                install_layer_spans(tracer)
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            tracer.unwrap_all()
            stop_spark(spark)
        ctx.phase("gates")
        setup_s = ctx.windows[0][0] - t_proc - materialize_s
        return report(args, ctx, res, tracer, setup_s, cpus, (load_start, ticks_start), event_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, ctx, res, tracer, setup_s, cpus, host_start, event_log) -> int:
    """Derive the metrics, print the report and the result line."""
    import layers
    from tracing import span_cost_s

    load_start, ticks_start = host_start
    load_end = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    steal_share = ticks[7] / max(1, sum(ticks))
    nproc = len(cpus)
    # geometric mean over op classes of each class's median latency
    class_p50 = math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in res.op_ms.values()))
    res.report["class_p50_ms"] = (class_p50, "ms")

    metrics: dict[str, dict] = {}
    if args.trace:
        res.layer["trace.span_cost_ms"] = span_cost_s() * 1e3 * len(tracer.spans) / res.n_ops
        trace_dir = os.path.join(ctx.cache, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        shutil.rmtree(stem + ".eventlog", ignore_errors=True)
        os.rename(event_log, stem + ".eventlog")
        for name, unit in layers.PER_LAYER:
            metrics[name] = {"value": float(res.layer.get(name, 0.0)), "unit": unit}  # idle: 0
    else:
        e2e = {"setup_s": setup_s, "build_docs_per_s": res.report["build_docs_per_s"][0],
               "class_p50_ms": class_p50, "work_per_s": res.work_per_s,
               "bytes_per_doc": res.report["bytes_per_doc"][0],
               "driver_peak_rss_mb": ctx.peak_rss_mb}
        for name, unit in END_TO_END:
            metrics[name] = {"value": e2e[name], "unit": unit}

    correct = all(ok for _, ok, _ in res.gates)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "nproc": nproc, "cpus": cpus,
        "loadavg_start": load_start, "loadavg_end": load_end, "steal_share": steal_share,
        "ops_attempted": res.attempted, "ops_failed": res.failed,
        "setup_s": setup_s, "driver_peak_rss_mb": ctx.peak_rss_mb,
        "timed_wall_s": res.timed_wall, "phase_s": ctx.phases,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.report.items()},
        "notes": res.notes,
        "gates": [{"name": n, "ok": ok, "detail": d} for n, ok, d in res.gates],
    }
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"loadavg start={load_start[0]:.2f} end={load_end[0]:.2f} steal={steal_share:.3f}")
    for name, val in [("setup_s", (setup_s, "s")), *res.report.items(),
                      ("driver_peak_rss_mb", (ctx.peak_rss_mb, "MB"))]:
        print(f"  {name:<22} {val[0]:>14.4f} {val[1]}")
    print(f"  {'ops_attempted':<22} {res.attempted:>14d}")
    print(f"  {'ops_failed':<22} {res.failed:>14d}")
    for k, v in res.notes.items():
        print(f"  note {k}: {v}")
    print(f"  note phase_s: {ctx.phases}")
    for n, ok, d in res.gates:
        print(f"  gate {n}: {'PASS' if ok else 'FAIL'} ({d})")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
