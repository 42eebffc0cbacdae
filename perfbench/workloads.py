"""The two benchmark workloads, run against the engine's public API.

Both are closed loops with one client: a RAG caller waits for each
write or retrieval before it sends the next. Every timed operation's
top-k is checked against ``oracle.py``; a mismatch or an exception is
counted as failed and the run goes on.

Read latency is taken per query and index state, as the minimum over
repeats, and the percentiles are over queries: on a shared 4-core box
other tenants' load comes in bursts of a few seconds, and the minimum
keeps a burst from moving the figure. A query's *cold* latency is
measured on fresh ``BM25Engine`` objects (empty LRUs, page cache warm),
its *warm* latency on a long-lived engine that has answered it before.

``build_serve``: a bulk build from the raw ``html`` column at local[4]
(after an untimed warm-up build of the same corpus), then read-only
traffic on that index: cold and warm passes over the query log, and
``query_batch_wand`` on the same index.

``ingest``: writes beside reads on one long-lived engine: segment
appends of fresh-url deltas (small enough for the streaming builder),
``delete_urls`` (tombstones pending: the block path, decoded cache
bypassed), ``compact_index``, each followed by reads, then the batch
on the compacted index.

The traced run adds local[1] legs for the scaling efficiencies.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

from inputs import Oracle, dir_bytes, same_topk, text_bytes, write_corpus

CORES_HI, CORES_LO = 4, 1
COLD_PASSES = 2   # fresh engines per index state
WARM_PASSES = 2   # long-lived engine passes after each cold pass


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class StealClock:
    """Wall time and the share of this VM's busy CPU time the host stole
    over the same interval. Timings are reported net of steal,
    ``wall * (1 - steal)``: the time the work had the CPU. Steal is 0 on
    a dedicated machine, where this is the wall time."""

    def __init__(self):
        self.t, (self.busy, self.stolen) = time.perf_counter(), cpu_jiffies()

    def read(self) -> tuple[float, float]:
        """-> (wall seconds, steal share) since construction."""
        wall = time.perf_counter() - self.t
        busy, stolen = cpu_jiffies()
        stolen -= self.stolen
        return wall, stolen / max(1, busy - self.busy + stolen)


def pct(xs, q: int) -> float:
    """Percentile ``q`` (1-99) with linear interpolation; 0.0 when empty."""
    xs = list(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Run:
    """State and tallies shared by the phases of one workload run."""

    def __init__(self, ctx, tracer, inputs, workdir):
        self.ctx = ctx            # run.Context: Spark sessions + settings
        self.tracer = tracer
        self.inputs = inputs
        self.sizes = inputs.sizes
        self.work = workdir
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.timed_s = 0.0        # wall of the timed phases only
        # (index state, query id) -> minimum latency over repeats, ms
        self.cold_ms: dict[tuple, float] = {}
        self.warm_ms: dict[tuple, float] = {}
        self.metrics: dict[str, float] = {}   # contract (BENCHMARK.json) names
        self.report: dict[str, dict] = {}     # per-workload names, with units
        # (phase, wall seconds, share of busy CPU time stolen by the host)
        self.phases: list[tuple[str, float, float]] = []

    # ------------------------------------------------------------ helpers
    def attempt(self, fn):
        """Run one operation; an exception counts as failed, not fatal."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(limit=3, file=sys.stderr)
            return False, None

    def check(self, ok: bool, got, want) -> None:
        """Count a result that came back but is not rank-identical."""
        if ok and not same_topk(self.ctx.maybe_corrupt(got), want):
            self.failed += 1

    def setup(self, name: str, fn) -> None:
        """Untimed set-up work; counts in setup_s (net of steal), not traced."""
        with self.tracer.paused():
            clock = StealClock()
            fn()
            wall, steal = clock.read()
        self.setup_s += wall * (1 - steal)
        self.phases.append((f"setup.{name}", wall, steal))

    @contextlib.contextmanager
    def phase(self, name: str):
        """A timed phase: a top-level span whose wall time is timed_s."""
        with self.tracer.span(name):
            clock = StealClock()
            try:
                yield
            finally:
                wall, steal = clock.read()
                self.timed_s += wall
                self.phases.append((name, wall, steal))

    def timed(self, phase: str, fn, layer: str | None = None):
        """One timed operation -> (ok, result, seconds net of steal)."""
        with self.phase(phase):
            clock = StealClock()
            with self.tracer.span(layer) if layer else contextlib.nullcontext():
                ok, out = self.attempt(fn)
            wall, steal = clock.read()
        return ok, out, wall * (1 - steal)

    def query_pass(self, engine, queries, want, into: dict | None, state=None) -> list[float]:
        """One top-k per query, each checked. Latencies are net of the
        pass's steal share; each query's minimum goes to ``into`` under
        (state, query id). Returns the latencies."""
        lat = []
        clock = StealClock()
        for q in queries:
            t = time.perf_counter()
            ok, got = self.attempt(lambda: engine.topk(q["text"], q["k"]))
            lat.append((time.perf_counter() - t) * 1e3)
            self.check(ok, got, want[q["query_id"]])
        keep = 1 - clock.read()[1]
        lat = [ms * keep for ms in lat]
        if into is not None:
            for q, ms in zip(queries, lat):
                key = (state, q["query_id"])
                into[key] = min(ms, into.get(key, ms))
        return lat

    def reads(self, state, fresh, engine, queries, want, budget_s: float) -> list[float]:
        """Each cold pass (a fresh engine) is followed by warm passes on
        ``engine``, and warm passes go on until ``budget_s`` has passed,
        so a query's repeats are spread over the phase. Returns the warm
        latencies in pass order."""
        with self.phase("phase.reads"):
            t0 = time.perf_counter()
            warm = []
            for _ in range(COLD_PASSES):
                self.query_pass(fresh(), queries, want, self.cold_ms, state)
                for _ in range(WARM_PASSES):
                    warm += self.query_pass(engine, queries, want, self.warm_ms, state)
            while time.perf_counter() - t0 < budget_s:
                warm += self.query_pass(engine, queries, want, self.warm_ms, state)
        return warm

    def batches(self, engine, queries, want, repeats: int) -> float:
        """``repeats`` query_batch_wand calls, each checked; best seconds."""
        def go():
            df = engine.query_batch_wand(queries, k=queries[0]["k"])
            with self.tracer.span("query.scoring.batch_exec"):
                return df.collect()
        best = float("inf")
        for _ in range(repeats):
            ok, rows, dt = self.timed("phase.batch", go, layer="query.scoring.batch")
            best = min(best, dt)
            if ok:
                by_q: dict[int, list] = {q["query_id"]: [] for q in queries}
                for r in rows:
                    by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
                self.attempted += len(by_q) - 1  # the call itself counted once
                for qid, hits in by_q.items():
                    self.check(True, [(d, sc) for _, d, sc in sorted(hits)],
                               want[qid % len(want)])
        return best

    def build(self, path: str, index_dir: str) -> None:
        from super_rag_spark.query.engine import BM25Engine

        shutil.rmtree(index_dir, ignore_errors=True)
        BM25Engine(self.ctx.spark, index_dir).build(
            self.ctx.spark.read.parquet(path), text_is_extracted=False)

    def note(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.report[name] = {"value": value, "unit": unit}
        if n is not None:
            self.report[name]["n"] = n

    def latency_metrics(self) -> None:
        """Cold and warm percentiles over (state, query) pairs; p90
        leaves at least ten pairs beyond it at the full sizes. Only the
        cold ones are end-to-end metrics: sub-millisecond warm latencies
        moved by more than the largest bound between seeds."""
        for kind, per_query in (("cold", self.cold_ms), ("warm", self.warm_ms)):
            for q in (50, 90):
                name = f"query_{kind}_p{q}_ms"
                self.note(name, pct(per_query.values(), q), "ms", len(per_query))
                if kind == "cold":
                    self.metrics[name] = self.report[name]["value"]


def batch_log(queries: list[dict], n: int) -> list[dict]:
    """``n`` batch queries cycling through the log (distinct query ids;
    id % len(log) is the log entry)."""
    return [{"query_id": i, "text": queries[i % len(queries)]["text"],
             "k": queries[i % len(queries)]["k"]} for i in range(n)]


def scaling(hi_rate: float, lo_rate: float) -> float:
    return hi_rate / (CORES_HI * lo_rate) if lo_rate > 0 else 0.0


# ---------------------------------------------------------------- build_serve
def build_serve(run: Run, seconds: float) -> None:
    from super_rag_spark.query.engine import BM25Engine

    sz, inp, ctx, tr = run.sizes, run.inputs, run.ctx, run.tracer
    corpus, warm_docs = inp.docs(sz.corpus_docs), inp.docs(sz.warmup_docs)
    queries = inp.queries()
    corpus_path = os.path.join(run.work, "corpus.parquet")
    warm_path = os.path.join(run.work, "warmup.parquet")
    write_corpus(corpus, corpus_path)
    write_corpus(warm_docs, warm_path)
    oracle = Oracle()
    oracle.add(corpus)
    want = oracle.expected(queries)
    idx_hi, idx_lo = (os.path.join(run.work, f"index_{s}") for s in ("hi", "lo"))

    def engine(path=idx_hi):
        return BM25Engine(ctx.spark, path)

    # set-up: JVM start and a warm-up build. The first timed build still
    # compiles the bucketed builder's plan (the warm-up corpus is under
    # its threshold); keeping the best of the timed builds drops that.
    run.setup("start_local4", lambda: ctx.start(CORES_HI))
    run.setup("warmup_build", lambda: run.build(warm_path, idx_hi))
    builds = [run.timed("phase.build", lambda: run.build(corpus_path, idx_hi))[2]
              for _ in range(sz.builds)]
    run.setup("page_cache", lambda: engine().warm())
    run.reads("hi", engine, engine(), queries, want, seconds)
    run.index_bytes, run.text_bytes = dir_bytes(idx_hi), text_bytes(corpus)

    n = len(corpus)
    run.metrics["write_docs_per_s"] = n / min(builds)
    run.note("build_docs_per_s", n / min(builds), "docs/s", len(builds))
    run.latency_metrics()
    if ctx.traced:
        ctx.after_hi(run, corpus_path, idx_hi)
        batch_qs = batch_log(queries, sz.batch_queries)
        run.setup("warmup_batch", lambda: engine().query_batch_wand(queries).collect())
        batch_hi = run.batches(engine(), batch_qs, want, sz.batches)
        # local[1] legs: same JVM, new context; the batch reads the same
        # index as the local[4] batch
        run.setup("start_local1", lambda: ctx.start(CORES_LO))
        run.setup("warmup_batch", lambda: engine().query_batch_wand(queries).collect())
        ok, _, build_lo = run.timed("phase.build", lambda: run.build(corpus_path, idx_lo))
        if ok:  # the local[1] index must answer like the oracle too (untimed)
            with tr.paused():
                run.query_pass(engine(idx_lo), queries, want, None)
        batch_lo = run.batches(engine(), batch_qs, want, 1)
        nb = len(batch_qs)
        ctx.layer["query.scoring.batch_qps"] = nb / batch_hi
        ctx.layer["index.build.scaling_eff"] = scaling(n / min(builds), n / build_lo)
        ctx.layer["query.scoring.scaling_eff"] = scaling(nb / batch_hi, nb / batch_lo)
    ctx.stop()


# --------------------------------------------------------------------- ingest
def ingest(run: Run, seconds: float) -> None:
    from super_rag_spark.index.merge import compact_index, merge_append
    from super_rag_spark.query.engine import BM25Engine

    sz, inp, ctx, tr = run.sizes, run.inputs, run.ctx, run.tracer
    base = inp.docs(sz.base_docs)
    warm_delta, lo_delta = inp.docs(sz.delta_docs), inp.docs(sz.delta_docs)
    deltas = [inp.docs(sz.delta_docs) for _ in range(sz.n_appends)]
    queries = inp.queries()
    read_qs = inp.sample(queries, sz.burst_queries)
    victims = inp.sample([d["url"] for d in base + deltas[0]], sz.n_deletes)
    base_path = os.path.join(run.work, "base.parquet")
    write_corpus(base, base_path)
    delta_paths = []
    for i, d in enumerate([warm_delta, lo_delta] + deltas):
        delta_paths.append(os.path.join(run.work, f"delta_{i}.parquet"))
        write_corpus(d, delta_paths[-1])
    idx = os.path.join(run.work, "index")
    oracle = Oracle()
    oracle.add(base + warm_delta)
    batch_qs = batch_log(queries, sz.batch_queries)
    budget_s = seconds / (len(deltas) + 2)  # reads after each write
    long_lived: list[float] = []
    first_after_append: list[float] = []

    def engine():
        return BM25Engine(ctx.spark, idx)

    def delta_df(i):
        return ctx.spark.read.parquet(delta_paths[i]).select("url", "text")

    def reads_after(state, eng, after_append=False):
        want = oracle.expected(read_qs)  # oracle time stays outside the phase
        lat = run.reads(state, engine, eng, read_qs, want, budget_s)
        long_lived.extend(lat)
        if after_append:  # the long-lived engine's first query in the new epoch
            first_after_append.append(lat[0])

    def append(i, docs) -> float:
        before = dir_bytes(idx)
        _, _, dt = run.timed(
            "phase.append",
            lambda: merge_append(ctx.spark, idx, delta_df(i), mode="segment"),
            layer="index.merge.merge_append")
        tr.add("index.merge.append_bytes_written", dir_bytes(idx) - before)
        tr.add("index.merge.append_delta_text_bytes", text_bytes(docs))
        oracle.add(docs)
        return dt

    # set-up: JVM start, the base build (the JIT/codegen warm-up too),
    # the first merge, a warm-up batch; then the long-lived engine
    # answers the read sample once
    run.setup("start_local4", lambda: ctx.start(CORES_HI))
    run.setup("base_build", lambda: run.build(base_path, idx))
    run.setup("first_merge", lambda: merge_append(ctx.spark, idx, delta_df(0),
                                                   mode="segment"))
    eng = engine()
    run.setup("page_cache", eng.warm)
    with tr.paused():
        run.query_pass(eng, read_qs, oracle.expected(read_qs), None)

    append_s = []
    for i, docs in enumerate(deltas):
        append_s.append(append(2 + i, docs))
        reads_after(f"append{i}", eng, after_append=True)
    _, _, delete_s = run.timed("phase.delete", lambda: eng.delete_urls(victims))
    oracle.tombstone(victims)
    reads_after("tombstones", eng)
    tr.add("index.storage.n_segments", eng.manifest["n_segments"])
    _, _, compact_s = run.timed("phase.compact", lambda: compact_index(ctx.spark, idx),
                                layer="index.merge.compact_index")
    tr.add("index.merge.compact_bytes_rewritten", dir_bytes(idx))
    oracle.compact()
    reads_after("compacted", eng)
    live = [d for d in base + warm_delta + sum(deltas, []) if d["url"] not in set(victims)]
    run.index_bytes, run.text_bytes = dir_bytes(idx), text_bytes(live)

    nd = sz.delta_docs
    written_s = sum(append_s) + delete_s + compact_s
    run.metrics["write_docs_per_s"] = nd * len(deltas) / written_s
    run.note("append_p50_s", statistics.median(append_s), "s", len(append_s))
    run.note("compact_s", compact_s, "s")
    run.note("ingest_docs_per_s", run.metrics["write_docs_per_s"], "docs/s")
    run.note("ingest_query_p50_ms", pct(long_lived, 50), "ms", len(long_lived))
    run.note("ingest_query_p99_ms", pct(long_lived, 99), "ms", len(long_lived))
    run.latency_metrics()
    if ctx.traced:
        ctx.after_hi(run, base_path, idx)
        want = oracle.expected(queries)
        run.setup("warmup_batch", lambda: engine().query_batch_wand(read_qs).collect())
        batch_hi = run.batches(engine(), batch_qs, want, 1)
        # local[1] legs: the batch on the same compacted index, then one
        # more append and its reads
        run.setup("start_local1", lambda: ctx.start(CORES_LO))
        run.setup("warmup_batch", lambda: engine().query_batch_wand(read_qs).collect())
        batch_lo = run.batches(engine(), batch_qs, want, 1)
        eng = engine()
        lo_append = append(1, lo_delta)
        reads_after("local1", eng, after_append=True)
        nb = len(batch_qs)
        ctx.layer["query.scoring.batch_qps"] = nb / batch_hi
        ctx.layer["index.build.scaling_eff"] = scaling(
            statistics.median(nd / s for s in append_s), nd / lo_append)
        ctx.layer["query.scoring.scaling_eff"] = scaling(nb / batch_hi, nb / batch_lo)
    ctx.stop()
    tr.add("query.engine.first_query_after_append_ms",
           statistics.median(first_after_append) if first_after_append else 0.0)


WORKLOADS = {"build_serve": build_serve, "ingest": ingest}
