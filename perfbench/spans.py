"""Spans, counters and Spark event-log metrics for the traced run.

Spans are ``(name, start, end, parent, run_id)`` tuples kept in memory;
self time is a span's duration minus the time its child spans cover.
The engine is instrumented from here, by wrapping the public functions
and the few engine methods each layer is entered through; nothing in
``super_rag_spark`` changes. With tracing off every hook is a no-op and
nothing is patched.

Each span also names the Spark jobs it starts: the job description is
the ``/``-joined stack of open spans, so the event log (enabled only in
the traced run) attributes every job, task, spill and GC pause to the
spans that caused it.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

# spans whose Spark jobs are read back from the event log
EVENT_LOG_SPANS = (
    "index.build.build_index",
    "index.build.postings_bucketed",
    "index.build.postings_stream",
    "index.merge.merge_append",
    "index.merge.compact_index",
    "query.scoring.batch",
)
EVENT_LOG_METRICS = ("shuffle_write_bytes", "spill_bytes", "gc_s",
                     "task_retries", "core_util", "executor_idle_s",
                     "task_skew")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, str]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.run_id = ""
        self.sc = None  # SparkContext whose jobs the open spans describe
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` for driver-only spans: they leave the Spark job
        description alone, which saves two py4j calls per span."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        if jobs:
            self._describe()
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p, rid = self.spans[idx]
            self.spans[idx] = (n, start, time.time(), p, rid)
            if jobs:
                self._describe()

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside the block (set-up and untimed checks)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def _describe(self) -> None:
        if self.sc is not None and self.sc._jsc is not None:
            path = "/".join(self.spans[i][0] for i in self._stack)
            self.sc.setJobDescription(path or None)

    # ------------------------------------------------------------ summaries
    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def self_time(self, name: str) -> float:
        """Σ over spans called ``name`` of duration minus child coverage
        (children nest strictly: one thread, no overlap)."""
        child = defaultdict(float)
        for _, s, e, p, _ in self.spans:
            if p is not None:
                child[p] += e - s
        return sum(e - s - child[i] for i, (n, s, e, _, _) in enumerate(self.spans)
                   if n == name)

    def top_level(self, run_id: str) -> float:
        return sum(e - s for _, s, e, p, r in self.spans if p is None and r == run_id)

    def intervals(self, name: str, run_id: str) -> list[tuple[float, float]]:
        return [(s, e) for n, s, e, _, r in self.spans if n == name and r == run_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for n, s, e, p, r in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e,
                                    "parent": p, "run_id": r}) + "\n")


# ----------------------------------------------------------- instrumentation
@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's layer entry points for the duration of the block."""
    if not tracer.enabled:
        yield
        return
    from super_rag_spark import codec
    from super_rag_spark.index import build as ibuild
    from super_rag_spark.index import merge as imerge
    from super_rag_spark.query import engine as qengine
    from super_rag_spark.query import wand as qwand

    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = _get(owner, attr)
        patches.append((owner, attr, orig))
        _set(owner, attr, make(orig))

    def spanned(name, jobs=True):
        def make(fn):
            def wrapper(*a, **k):
                with tracer.span(name, jobs):
                    return fn(*a, **k)
            return wrapper
        return make

    def stream_builder(fn):
        # build_postings only plans; its blocks are built by the write
        # action the caller runs on the returned frame, so the span
        # wraps that parquet write
        def wrapper(*a, **k):
            df = fn(*a, **k)

            class _Traced(type(df)):
                @property
                def write(self):
                    w = super().write
                    orig = w.parquet

                    def parquet(*pa, **pk):
                        with tracer.span("index.build.postings_stream"):
                            return orig(*pa, **pk)
                    w.parquet = parquet
                    return w
            df.__class__ = _Traced
            return df
        return wrapper

    def load_blocks(fn):
        def wrapper(self, terms):
            epoch = int(self.manifest["epoch"])
            tracer.add("query.engine.term_cache_hits",
                       sum((epoch, t) in self._term_cache for t in terms))
            tracer.add("query.engine.term_cache_lookups", len(terms))
            with tracer.span("query.engine.block_read", jobs=False):
                out = fn(self, terms)
            tracer.add("query.engine.block_rows_read",
                       sum(len(v[1]) for v in out.values()))
            return out
        return wrapper

    def load_arrays(fn):
        def wrapper(self, terms):
            epoch = int(self.manifest["epoch"])
            hits = sum((epoch, t) in self._dec_cache for t in terms)
            out = fn(self, terms)
            if out is not None:  # None: tombstones pending, cache bypassed
                tracer.add("query.engine.decoded_cache_hits", hits)
                tracer.add("query.engine.decoded_cache_lookups", len(terms))
            return out
        return wrapper

    def decode(fn):
        def wrapper(blocks):
            with tracer.span("codec.decode", jobs=False):
                out = fn(blocks)
            tracer.add("codec.postings_decoded", len(out[0]))
            return out
        return wrapper

    def kernel(fn):
        def wrapper(term_arrays, *a, **k):
            with tracer.span("query.wand.kernel", jobs=False):
                out = fn(term_arrays, *a, **k)
            tracer.add("query.wand.postings_scored",
                       sum(len(v[1]) for v in term_arrays.values()))
            return out
        return wrapper

    def topk(fn):
        def wrapper(self, *a, **k):
            before = self.driver_fallbacks
            with tracer.span("query.engine.topk", jobs=False):
                out = fn(self, *a, **k)
            tracer.add("query.engine.driver_fallbacks",
                       self.driver_fallbacks - before)
            return out
        return wrapper

    try:
        patch(qengine, "build_index", spanned("index.build.build_index"))
        patch(imerge, "build_index", spanned("index.build.build_index"))
        patch(ibuild, "build_postings_bucketed",
              spanned("index.build.postings_bucketed"))
        patch(ibuild, "build_postings", stream_builder)
        patch(imerge, "build_postings", stream_builder)
        patch(qengine.BM25Engine, "topk", topk)
        patch(qengine.BM25Engine, "_load_term_blocks", load_blocks)
        patch(qengine.BM25Engine, "_load_term_arrays", load_arrays)
        patch(qengine.BM25Engine, "_term_dfs", spanned("query.engine.df_probe", jobs=False))
        patch(codec, "decode_blocks_batch", decode)
        patch(qwand, "decode_blocks_batch", decode)
        patch(qwand, "vectorized_topk_arrays", kernel)
        patch(qengine._TOPK_METHODS, "vectorized",
              spanned("query.wand.block_path", jobs=False))
        patch(qengine, "score_query_batch_wand",
              spanned("query.scoring.batch_driver"))
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            _set(owner, attr, orig)


def _get(owner, attr):
    return owner[attr] if isinstance(owner, dict) else getattr(owner, attr)


def _set(owner, attr, value) -> None:
    # dict owners: the engine's top-k method table is patched by key
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


# ------------------------------------------------------------ event log
def event_log_metrics(log_path: str, tracer: Tracer, run_id: str,
                      cores: int) -> dict[str, float]:
    """Per-span counts and times from the event log of one session.

    For each span in EVENT_LOG_SPANS, its jobs are those whose
    description path contains the span name; span time is the span's
    own wall time in ``run_id``."""
    jobs: dict[int, list[str]] = {}  # job id -> span path of its description
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                jobs[ev["Job ID"]] = desc.split("/")
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    out: dict[str, float] = {}
    for span in EVENT_LOG_SPANS:
        intervals = tracer.intervals(span, run_id)
        span_s = sum(e - s for s, e in intervals)
        mine = [t for t in tasks
                if span in jobs.get(stage_job.get(t["Stage ID"], -1), ())]
        m = {k: 0.0 for k in EVENT_LOG_METRICS}
        durs_by_stage: dict[int, list[float]] = defaultdict(list)
        busy = []
        for t in mine:
            info, tm = t["Task Info"], t.get("Task Metrics") or {}
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            if info.get("Attempt", 0) > 0 or info.get("Failed"):
                m["task_retries"] += 1
            start, end = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
            durs_by_stage[t["Stage ID"]].append(end - start)
            busy.append((start, end))
        if span_s > 0:
            m["core_util"] = sum(e - s for s, e in busy) / (span_s * cores)
            m["executor_idle_s"] = _idle_time(intervals, busy, cores)
        if durs_by_stage:
            heavy = max(durs_by_stage.values(), key=sum)
            med = statistics.median(heavy)
            m["task_skew"] = max(heavy) / med if med > 0 else 1.0
        for k, v in m.items():
            out[f"{span}.{k}"] = v
    return out


def _idle_time(spans: list[tuple[float, float]], busy: list[tuple[float, float]],
               cores: int) -> float:
    """Time inside ``spans`` during which fewer than ``cores`` tasks ran."""
    edges = sorted([(s, 1) for s, _ in busy] + [(e, -1) for _, e in busy])
    idle = 0.0
    for s0, e0 in spans:
        running = sum(1 for s, e in busy if s <= s0 < e)
        t = s0
        for x, d in edges:
            if x <= s0:
                continue
            if x >= e0:
                break
            if running < cores:
                idle += x - t
            running += d
            t = x
        if running < cores:
            idle += e0 - t
    return idle
