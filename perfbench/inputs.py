"""Seeded benchmark inputs and the oracle answers they are checked against.

Everything a run feeds the engine is derived from ``--seed``: the
doc-index ranges passed to ``fixtures.make_doc`` (corpus, warm-up
corpus, fresh-url deltas), the query log (the reference generator over
derived seeds, so its head/mid/tail/OOV/"summarize" mix is kept) and
the delete sample. The engine only ever sees the generated rows.

The oracle (``super_rag_spark.oracle``) is the reference, not the
system under test: callers build and query it outside every timed
section and outside ``setup_s``.
"""

from __future__ import annotations

import math
import multiprocessing
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from super_rag_spark import fixtures
from super_rag_spark.analysis import doc_id_for_url
from super_rag_spark.oracle import OracleIndex

K = 10
GEN_PROCS = 3     # worker processes for doc generation (pure Python, ~0.6 ms/doc)
GEN_CHUNK = 1000
# doc-index space the seeded ranges are drawn from (make_doc is defined
# for any non-negative index; urls stay unique per index)
_INDEX_SPACE = 50_000_000


@dataclass
class Sizes:
    """Input sizes of one run (``tiny`` is the self-check size)."""
    corpus_docs: int        # build_serve corpus (bucketed builder above ~8.3k docs)
    warmup_docs: int        # untimed warm-up build
    builds: int             # timed local[4] builds of the corpus (best is kept)
    query_logs: int         # x100 queries from the reference generator
    batch_queries: int      # queries per query_batch_wand call
    batches: int            # timed local[4] build_serve batches (best is kept)
    base_docs: int          # ingest base index
    delta_docs: int         # docs per ingest delta
    n_appends: int          # timed local[4] appends (after the warm-up append)
    n_deletes: int          # urls tombstoned by delete_urls
    burst_queries: int      # queries read after each ingest write


SIZES = {
    "full": Sizes(corpus_docs=9_000, warmup_docs=300, builds=2, query_logs=2,
                  batch_queries=200, batches=2, base_docs=300, delta_docs=600,
                  n_appends=2, n_deletes=40, burst_queries=100),
    "tiny": Sizes(corpus_docs=300, warmup_docs=60, builds=1, query_logs=1,
                  batch_queries=20, batches=1, base_docs=200, delta_docs=40,
                  n_appends=1, n_deletes=5, burst_queries=20),
}


def _make_docs(bounds: tuple[int, int]) -> list[dict]:
    vocab, cdf = fixtures.build_vocab(), fixtures.zipf_cdf()
    return [fixtures.make_doc(i, vocab, cdf) for i in range(*bounds)]


class Inputs:
    """Seeded input generator: every range and sample comes from one RNG."""

    def __init__(self, seed: int, sizes: Sizes):
        self.sizes = sizes
        self.rng = random.Random(seed)
        self._next = self.rng.randrange(0, _INDEX_SPACE)

    def docs(self, n: int) -> list[dict]:
        """``n`` fresh docs from the next unused doc-index range."""
        start, self._next = self._next, self._next + n
        if n <= GEN_CHUNK:
            return _make_docs((start, start + n))
        chunks = [(a, min(a + GEN_CHUNK, start + n))
                  for a in range(start, start + n, GEN_CHUNK)]
        # fork, not spawn: a spawn pool's named semaphores start a resource
        # tracker process that outlives the run. Inputs are generated
        # before the Spark session starts, so no py4j thread is forked.
        with multiprocessing.get_context("fork").Pool(GEN_PROCS) as pool:
            parts = pool.map(_make_docs, chunks)
        return [d for part in parts for d in part]

    def queries(self) -> list[dict]:
        """The reference query generator over derived seeds, renumbered."""
        out = []
        for _ in range(self.sizes.query_logs):
            for q in fixtures.generate_queries(seed=self.rng.randrange(1 << 30)):
                out.append({"query_id": len(out), "text": q["text"], "k": K})
        return out

    def sample(self, items: list, n: int) -> list:
        return self.rng.sample(items, n)


def write_corpus(docs: list[dict], path: str, row_group_docs: int = 250) -> None:
    """Webtext parquet; small row groups so Spark can split the scan
    across cores."""
    pq.write_table(pa.Table.from_pylist(docs, schema=fixtures.WEBTEXT_SCHEMA),
                   path, row_group_size=row_group_docs)


def text_bytes(docs: list[dict]) -> int:
    return sum(len(d["text"].encode("utf-8")) for d in docs)


class Oracle:
    """oracle.py replaying the run's add/delete sequence, with the
    engine's lazy-delete semantics: while tombstones are pending the
    corpus statistics still count the deleted docs and only the hit
    set excludes them; the oracle deletes them for real at compaction."""

    def __init__(self):
        self.index = OracleIndex()
        self.pending_urls: list[str] = []
        self.pending: set[int] = set()

    def add(self, docs: list[dict]) -> None:
        for d in docs:
            self.index.add_document(d["url"], d["text"])

    def tombstone(self, urls: list[str]) -> None:
        self.pending_urls += urls
        self.pending |= {doc_id_for_url(u) for u in urls}

    def compact(self) -> None:
        for u in self.pending_urls:
            self.index.delete_url(u)
        self.pending_urls, self.pending = [], set()

    def expected(self, queries: list[dict]) -> dict[int, list[tuple[int, float]]]:
        out = {}
        for q in queries:
            hits = self.index.topk(q["text"], q["k"] + len(self.pending))
            hits = [h for h in hits if h[0] not in self.pending]
            out[q["query_id"]] = hits[:q["k"]]
        return out


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank identity: same doc ids in the same order, scores within 1e-9
    relative, and ties (equal 9-dp scores) ordered by doc_id ascending."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if int(gd) != int(wd) or not math.isclose(gs, ws, rel_tol=1e-9, abs_tol=0.0):
            return False
    keys = [(-round(s, 9), int(d)) for d, s in got]
    return keys == sorted(keys)


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            p = os.path.join(root, fn)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total
