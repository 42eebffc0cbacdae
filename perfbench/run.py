"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``,
run against the engine's public API at local[4] and local[1] from this
single Python process, and every answer is checked against oracle.py.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` re-runs the workload with spans, counters and the Spark event log
and prints the per-layer metrics. Earlier stdout lines echo the settings
and the workload's own metrics (with units and sample counts); the last
line is the result. All scratch files live under ``.perfbench_work/``
in the checkout and are removed at exit.

``--size tiny`` and ``--inject-wrong`` exist for the self-check
(``perfbench/test_selfcheck.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPARK_CONF = {
    "spark.driver.memory": "3g",  # of the box's 15 GB; the JVM is shared by both legs
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    # local mode defaults to one attempt per task: a transient worker
    # death would fail the operation instead of showing as a retry
    "spark.task.maxFailures": "4",
}


class Context:
    """The Spark sessions of one run and the settings they share."""

    def __init__(self, workdir: str, tracer, inject_wrong: bool):
        self.work = workdir
        self.tracer = tracer
        self.traced = tracer.enabled  # fixed per run; set-up pauses the tracer
        self.inject_wrong = inject_wrong
        self.spark = None
        self.app_ids: dict[int, str] = {}
        self.layer: dict[str, float] = {}
        self.event_dir = os.path.join(workdir, "eventlog")
        self.conf: dict[int, dict[str, str]] = {}  # per leg (core count)

    def start(self, cores: int) -> None:
        """(Re)start the session at local[cores]; the first call starts the JVM."""
        from pyspark.sql import SparkSession

        self.stop()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.event_dir, exist_ok=True)
        conf = self.conf[cores] = dict(SPARK_CONF, **{
            "spark.master": f"local[{cores}]",
            "spark.app.name": f"perfbench-local{cores}",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.eventLog.enabled": str(self.traced).lower(),
            "spark.eventLog.dir": self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_ids[cores] = self.spark.sparkContext.applicationId
        self.tracer.sc = self.spark.sparkContext
        self.tracer.run_id = f"local[{cores}]"

    def stop(self) -> None:
        if self.spark is not None:
            self.tracer.sc = None
            self.spark.stop()
            self.spark = None

    def maybe_corrupt(self, got):
        """Self-check hook: hand the gate one wrong answer per run."""
        if not self.inject_wrong:
            return got
        self.inject_wrong = False
        return [(d + 1, s) for d, s in got] if got else [(0, 1.0)]

    def after_hi(self, run, html_path: str, index_dir: str) -> None:
        """Traced run only, outside the timed section, before the local[4]
        session ends: the extraction and tokenize probes, and the
        index's storage footprint."""
        if not self.traced:
            return
        # the untraced run times exactly these local[4] phases
        self.layer["trace.timed_wall_s"] = run.timed_s
        self.layer["trace.top_level_spans_s"] = self.tracer.top_level("local[4]")
        with self.tracer.paused():
            from super_rag_spark.index.build import extract, tokens_from_text

            def noop(df) -> float:
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t

            html = self.spark.read.parquet(html_path)
            ext, tok = float("inf"), float("inf")
            for _ in range(2):  # best of two: the probes share the page cache
                ext = min(ext, noop(extract(html)))
                tok = min(tok, noop(tokens_from_text(extract(html))))
        self.layer["extraction.extract_s"] = ext
        self.layer["analysis.tokenize_s"] = tok - ext
        self.layer.update(storage_metrics(index_dir))


def storage_metrics(index_dir: str) -> dict[str, float]:
    import pyarrow.dataset as ds

    from inputs import dir_bytes
    from super_rag_spark.index.storage import IndexStorage

    store = IndexStorage(index_dir)
    epoch = int(store.read_manifest()["epoch"])
    postings = store.postings_dir_for(epoch)
    n_postings = ds.dataset(postings, format="parquet", partitioning="hive") \
        .to_table(columns=["n"])["n"].to_numpy().sum()
    p_bytes = dir_bytes(postings)
    return {
        "index.storage.n_segments": int(store.read_manifest().get("n_segments", 1)),
        "index.storage.postings_bytes": p_bytes,
        "index.storage.term_stats_bytes": dir_bytes(store.term_stats_dir_for(epoch)),
        "index.storage.doc_stats_bytes": dir_bytes(store.doc_stats_dir_for(epoch)),
        "codec.bytes_per_posting": p_bytes / max(1, int(n_postings)),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def layer_metrics(run, ctx, tracer) -> dict[str, float]:
    from spans import event_log_metrics

    c = tracer.counters

    def ratio(a: str, b: str) -> float:
        return c[a] / c[b] if c[b] else 0.0

    out = dict(ctx.layer)
    out.update({
        "index.build.build_index_self_s": tracer.self_time("index.build.build_index"),
        "index.build.postings_bucketed_s": tracer.total("index.build.postings_bucketed"),
        "index.build.postings_stream_s": tracer.total("index.build.postings_stream"),
        "query.engine.topk_self_s": tracer.self_time("query.engine.topk"),
        "query.engine.block_read_s": tracer.total("query.engine.block_read"),
        "query.engine.block_rows_read": c["query.engine.block_rows_read"],
        "query.engine.df_probe_s": tracer.total("query.engine.df_probe"),
        "query.engine.term_cache_hit_ratio": ratio("query.engine.term_cache_hits",
                                                   "query.engine.term_cache_lookups"),
        "query.engine.decoded_cache_hit_ratio": ratio("query.engine.decoded_cache_hits",
                                                      "query.engine.decoded_cache_lookups"),
        "query.engine.driver_fallbacks": c["query.engine.driver_fallbacks"],
        "query.engine.first_query_after_append_ms":
            c["query.engine.first_query_after_append_ms"],
        "codec.decode_s": tracer.total("codec.decode"),
        "codec.postings_decoded": c["codec.postings_decoded"],
        "query.wand.kernel_s": tracer.total("query.wand.kernel"),
        "query.wand.postings_scored": c["query.wand.postings_scored"],
        "query.wand.block_path_s": tracer.total("query.wand.block_path"),
        "query.scoring.batch_driver_s": tracer.total("query.scoring.batch_driver"),
        "query.scoring.batch_exec_s": tracer.total("query.scoring.batch_exec"),
        "index.merge.append_bytes_written": ratio("index.merge.append_bytes_written",
                                                  "index.merge.append_delta_text_bytes"),
        "index.merge.compact_bytes_rewritten": c["index.merge.compact_bytes_rewritten"],
        "index.storage.n_segments": max(ctx.layer["index.storage.n_segments"],
                                        c["index.storage.n_segments"]),
    })
    out.update(event_log_metrics(os.path.join(ctx.event_dir, ctx.app_ids[4]),
                                 tracer, "local[4]", 4))
    return out


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it the Python workers) and
    wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM's Python workers once the JVM
    has exited) children of this process, so reap_descendants sees them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; ppid follows it
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has ended; kill the
    ones still running after ``grace_s``."""
    import signal

    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, live or zombie
        if time.monotonic() > deadline:
            for pid in children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-wrong", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "super_rag_spark", "__init__.py")):
        print(f"perfbench: no super_rag_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import numpy
    import pyarrow
    import pyspark

    from inputs import SIZES, Inputs
    from spans import Tracer, instrument
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space, temp files and the Python workers' import
    # path all point into the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")

    become_subreaper()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(work, tracer, args.inject_wrong)
    run = Run(ctx, tracer, Inputs(args.seed, SIZES[args.size]), work)
    try:
        with instrument(tracer):
            WORKLOADS[args.workload](run, args.seconds)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        metrics = layer_metrics(run, ctx, tracer) if args.trace else {}
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        try:
            ctx.stop()
            shutdown_jvm()
        finally:
            reap_descendants()
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    ok_frac = 1.0 - run.failed / max(1, run.attempted)
    e2e = dict(run.metrics,
               setup_s=run.setup_s,
               index_bytes_per_text_byte=run.index_bytes / max(1, run.text_bytes),
               peak_rss_mb=peak_rss,
               ok_frac=ok_frac)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    source = metrics if args.trace else e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
                    for m in declared},
    }

    report = dict(run.report)
    report.update({
        "setup_s": {"value": run.setup_s, "unit": "s"},
        "timed_wall_s": {"value": run.timed_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        "index_bytes_per_text_byte": {"value": e2e["index_bytes_per_text_byte"],
                                      "unit": "ratio"},
        "failed_frac": {"value": 1.0 - ok_frac, "unit": "ratio",
                        "n": run.attempted},
    })
    print(json.dumps({"config": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "nproc": len(os.sched_getaffinity(0)),
        "legs_cores": sorted(ctx.conf, reverse=True), "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "spark_conf": ctx.conf, "sizes": vars(run.sizes),
    }}))
    print(json.dumps({"report": report, "phases": [
        {"phase": n, "wall_s": round(dt, 3), "steal": round(st, 3)}
        for n, dt, st in run.phases]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
