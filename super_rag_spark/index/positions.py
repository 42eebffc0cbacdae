"""Opt-in POSITIONAL postings sidecar (r4, VERDICT stretch #8).

The default phrase path is match-then-verify against the source corpus
(query/phrase.py — the classic trade: no positions stored, 2-3x smaller
index, rare phrase queries pay a corpus touch). This sidecar makes slop
phrase queries INDEX-ONLY: per (term, doc) the token positions are
stored as delta-varint runs, blocked exactly like postings (128-doc
blocks, bucket = term_id % B dirs, term_id-sorted files for row-group
pruning), so a phrase query reads candidates' position runs with the
same bucket + term pruning the scorer uses and never opens the corpus.

Plan shape (build): tokenize -> posexplode -> groupBy(term, doc)
sorted positions [the ONE shuffle] -> repartition on the output bucket
-> sortWithinPartitions(term_id, doc_id) -> mapInPandas vectorized
block encode (whole-batch varint + byte carving, the same device as
index/build._build_blocks_arrays) -> partitionBy(bucket) write.

Lifecycle: positions are built per EPOCH (build_positions after
build_index) and CARRIED through merges at O(delta) cost (r5,
index/sidecars.py): a segment append hardlinks the delta's position
blocks in next to the old files, removal-hit groups rebuild, and
compact_index folds everything back to canonical blocking. Only a
crash-resume that lost the staging sidecar degrades — has_positions()
turns false and phrase queries transparently fall back to
match-then-verify until build_positions re-runs.
Head terms are not salted here (a phrase's rarest term bounds the
candidate work; position runs of one term stay doc-sorted and blocked
within a file; readers sort across segment files on load).

No reference analog: super-rag's dense retrieval has no positional
queries at all (/root/reference/service/query.py); this follows the
standard positional-index design (Manning IR ch.2) re-expressed as a
Spark build.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import analysis
from ..codec import decode_positions_block, encode_varint_sizes
from .build import sidecar_tokens, term_id_expr
from .storage import POSITIONS_SCHEMA, IndexStorage


def _build_position_blocks(term_ids: np.ndarray, doc_ids: np.ndarray,
                           flat_pos: np.ndarray, row_off: np.ndarray,
                           block_size: int, n_buckets: int) -> pd.DataFrame:
    """Vectorized positions-block build over a (term_id, doc_id)-sorted
    run of rows. ``row_off``: int64 array of len(rows)+1 — row i's
    positions are flat_pos[row_off[i]:row_off[i+1]]. Whole-batch varint
    encode + per-block byte carving (LEB128 values are independent, so
    slices are bit-identical to per-block encodes)."""
    n = len(term_ids)
    counts = (row_off[1:] - row_off[:-1]).astype(np.int64)

    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    np.not_equal(term_ids[1:], term_ids[:-1], out=new_group[1:])
    group_starts = np.flatnonzero(new_group)
    group_id = np.cumsum(new_group) - 1
    off_in_group = np.arange(n) - group_starts[group_id]
    is_block_start = new_group | (off_in_group % block_size == 0)
    block_starts = np.flatnonzero(is_block_start)
    block_ends = np.concatenate((block_starts[1:], [n]))
    block_of_row = np.cumsum(is_block_start) - 1
    block_group = group_id[block_starts]
    block_ids = (np.arange(len(block_starts))
                 - block_of_row[group_starts][block_group])

    doc_gaps = np.empty(n, dtype=np.int64)
    np.subtract(doc_ids[1:], doc_ids[:-1], out=doc_gaps[1:])
    doc_gaps[block_starts] = doc_ids[block_starts]

    pos_gaps = np.empty(len(flat_pos), dtype=np.int64)
    if len(flat_pos):
        pos_gaps[0] = flat_pos[0]
        np.subtract(flat_pos[1:], flat_pos[:-1], out=pos_gaps[1:])
        row_first = row_off[:-1][counts > 0]
        pos_gaps[row_first] = flat_pos[row_first]  # absolute per doc

    docs_buf, docs_nb = encode_varint_sizes(doc_gaps)
    cnt_buf, cnt_nb = encode_varint_sizes(counts)
    pos_buf, pos_nb = encode_varint_sizes(pos_gaps)

    def carve_rows(buf: bytes, nbytes: np.ndarray) -> list[bytes]:
        ends = np.cumsum(nbytes)
        lo = ends[block_starts] - nbytes[block_starts]
        hi = ends[block_ends - 1]
        return [buf[a:b] for a, b in zip(lo.tolist(), hi.tolist())]

    def carve_pos(buf: bytes, nbytes: np.ndarray) -> list[bytes]:
        ends = np.concatenate(([0], np.cumsum(nbytes)))
        lo = ends[row_off[block_starts]]
        hi = ends[row_off[block_ends]]
        return [buf[a:b] for a, b in zip(lo.tolist(), hi.tolist())]

    bterms = term_ids[block_starts]
    return pd.DataFrame({
        "term_id": bterms,
        "block_id": block_ids.astype(np.int32),
        "n": (block_ends - block_starts).astype(np.int32),
        "first_doc_id": doc_ids[block_starts],
        "last_doc_id": doc_ids[block_ends - 1],
        "docs_enc": carve_rows(docs_buf, docs_nb),
        "cnt_enc": carve_rows(cnt_buf, cnt_nb),
        "pos_enc": carve_pos(pos_buf, pos_nb),
        "bucket": (bterms % n_buckets).astype(np.int32),
    })


def _make_positions_builder(block_size: int, n_buckets: int):
    """mapInPandas body over a partition sorted by (term_id, doc_id):
    rows (term_id, doc_id, positions array<int>). Batches may split a
    term run; the trailing partial run carries into the next batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None  # (terms, docs, flat, row_off)
        for pdf in batches:
            if not len(pdf):
                continue
            terms = pdf["term_id"].to_numpy()
            docs = pdf["doc_id"].to_numpy()
            lists = [np.asarray(p, dtype=np.int64)
                     for p in pdf["positions"]]
            flat = (np.concatenate(lists) if lists
                    else np.empty(0, dtype=np.int64))
            row_off = np.concatenate(
                ([0], np.cumsum([len(p) for p in lists]))).astype(np.int64)
            if carry is not None:
                cterms, cdocs, cflat, coff = carry
                terms = np.concatenate((cterms, terms))
                docs = np.concatenate((cdocs, docs))
                flat = np.concatenate((cflat, flat))
                row_off = np.concatenate((coff, coff[-1] + row_off[1:]))
                carry = None
            bounds = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            if len(bounds) == 0:
                carry = (terms, docs, flat, row_off)
                continue
            cut = int(bounds[-1])
            fcut = int(row_off[cut])
            carry = (terms[cut:], docs[cut:], flat[fcut:],
                     row_off[cut:] - fcut)
            yield _build_position_blocks(
                terms[:cut], docs[:cut], flat[:fcut], row_off[:cut + 1],
                block_size, n_buckets)
        if carry is not None and len(carry[0]):
            yield _build_position_blocks(*carry, block_size, n_buckets)

    return gen


def build_positions(spark: SparkSession, docs_df: DataFrame, index_dir: str, *,
                    text_is_extracted: bool = True,
                    extract_mode: str = "html") -> IndexStorage:
    """Build the positional sidecar for the CURRENT epoch of an existing
    index. ``docs_df`` must be the same corpus build_index saw (same
    urls/text — positions are token indexes in the [a-z0-9]+ stream, so
    adjacency == position delta 1). Assumes unique doc_ids (build_index
    dedups duplicates; feed the deduped corpus)."""
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    n_buckets = int(manifest["n_buckets"])
    block_size = int(manifest["block_size"])
    epoch = int(manifest["epoch"])

    # duplicate-url guard, SAME deterministic survivor as build_index:
    # without it a url ingested twice would merge BOTH copies'
    # positions into one doc_id — phantom index-only phrase matches the
    # postings (which kept one copy) can never produce.
    toks = sidecar_tokens(docs_df, text_is_extracted=text_is_extracted,
                          extract_mode=extract_mode)
    pos_rows = (
        toks.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .select(term_id_expr("term").alias("term_id"), "doc_id",
                F.col("pos").cast("int").alias("pos"))
    )
    out_dir = store.positions_dir_for(epoch)
    # r6: same columnar spill device as the postings build
    # (index/build.build_postings_bucketed) — the former plan paid a
    # groupBy collect_list shuffle of every token position, a second
    # repartition of the same data as arrays, a Spark row sort, and a
    # per-row np.asarray in the Python builder. Now one spill write
    # partitioned by bucket, then a per-bucket numpy lexsort + run
    # collapse; positions within a (term, doc) run come out sorted by
    # the lexsort exactly as sort_array ordered them.
    est_bytes = None
    try:
        est_bytes = int(store.corpus_stats(spark, epoch).get(
            "total_tokens", 0)) * 20
    except Exception:
        est_bytes = None
    from .build import BUCKET_MEM_BUDGET
    if (est_bytes and (64 << 20) <= est_bytes
            and est_bytes // max(1, n_buckets) <= BUCKET_MEM_BUDGET):
        _build_positions_bucketed(spark, pos_rows, out_dir,
                                  block_size=block_size,
                                  n_buckets=n_buckets)
    else:
        blocks = (
            pos_rows
            .groupBy("term_id", "doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
            .withColumn("bucket_p",
                        F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
            .repartition(n_buckets, "bucket_p")
            .sortWithinPartitions("term_id", "doc_id")
            .select("term_id", "doc_id", "positions")
            .mapInPandas(_make_positions_builder(block_size, n_buckets),
                         schema=POSITIONS_SCHEMA)
        )
        blocks.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    return store


def _build_positions_bucketed(spark: SparkSession, pos_rows: DataFrame,
                              out_dir: str, *, block_size: int,
                              n_buckets: int) -> None:
    """Columnar per-bucket positions build (mirror of
    index/build.build_postings_bucketed; see there for the spill
    rationale and the exchange/file-count rule)."""
    import os
    import shutil

    spill_dir = out_dir.rstrip("/") + "._posspill"
    packed = pos_rows.withColumn(
        "bucket_p", F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
    n_map = packed.rdd.getNumPartitions()
    writer = (packed if n_map * n_buckets <= 16384
              else packed.repartition(n_buckets, "bucket_p"))
    shutil.rmtree(spill_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    bs, nb = int(block_size), int(n_buckets)
    try:
        (writer.write.mode("overwrite").partitionBy("bucket_p")
         .option("compression", "snappy")
         .option("parquet.enable.dictionary", "false").parquet(spill_dir))

        def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import pyarrow as pa
            import pyarrow.dataset as pads
            import pyarrow.parquet as pq

            for pdf in pdfs:
                for b in pdf["bucket"].tolist():
                    part = os.path.join(spill_dir, f"bucket_p={b}")
                    if not os.path.isdir(part):
                        continue
                    tbl = pads.dataset(part, format="parquet").to_table()
                    if tbl.num_rows == 0:
                        continue
                    terms = tbl["term_id"].to_numpy(zero_copy_only=False)
                    docs = tbl["doc_id"].to_numpy(zero_copy_only=False)
                    poss = tbl["pos"].to_numpy(
                        zero_copy_only=False).astype(np.int64)
                    del tbl
                    order = np.lexsort((poss, docs, terms))
                    terms, docs, poss = terms[order], docs[order], poss[order]
                    m = len(terms)
                    new_run = np.empty(m, dtype=bool)
                    new_run[0] = True
                    np.not_equal(terms[1:], terms[:-1], out=new_run[1:])
                    new_run[1:] |= docs[1:] != docs[:-1]
                    rstarts = np.flatnonzero(new_run)
                    row_off = np.concatenate((rstarts, [m])).astype(np.int64)
                    out_pdf = _build_position_blocks(
                        terms[rstarts], docs[rstarts], poss, row_off, bs, nb)
                    dest = os.path.join(out_dir, f"bucket={b}")
                    os.makedirs(dest, exist_ok=True)
                    pq.write_table(
                        pa.Table.from_pandas(
                            out_pdf.drop(columns=["bucket"]),
                            preserve_index=False),
                        os.path.join(dest, "part-00000.parquet"))
                    yield pd.DataFrame([{"bucket": b}])

        buckets_df = spark.createDataFrame(
            [(b,) for b in range(nb)], "bucket int").repartition(nb)
        os.makedirs(out_dir, exist_ok=True)
        buckets_df.mapInPandas(run, schema="bucket int").count()
        # has_positions() keys on the _SUCCESS marker Spark's own
        # committer would have written
        open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)


def decode_positions_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Position-block rows -> (term_id, doc_id, positions array<long>)
    rows (the distributed decode leg, mirror of
    scoring.decode_postings_map_in_pandas)."""
    for pdf in batches:
        if not len(pdf):
            yield pd.DataFrame({"term_id": np.array([], dtype="int64"),
                                "doc_id": np.array([], dtype="int64"),
                                "positions": []})
            continue
        terms, docs_all, lists = [], [], []
        for row in pdf.itertuples(index=False):
            docs, counts, flat = decode_positions_block(
                row.docs_enc, row.cnt_enc, row.pos_enc, int(row.n))
            terms.append(np.full(len(docs), row.term_id, dtype=np.int64))
            docs_all.append(docs)
            lists.extend(np.split(flat, np.cumsum(counts)[:-1]))
        yield pd.DataFrame({
            "term_id": np.concatenate(terms),
            "doc_id": np.concatenate(docs_all),
            "positions": lists,
        })


DECODED_POSITIONS_SCHEMA = "term_id long, doc_id long, positions array<long>"


def chain_match(pos_lists: list[np.ndarray], slop: int = 0) -> bool:
    """True iff the phrase whose i-th term has (sorted) positions
    ``pos_lists[i]`` occurs with each inter-term gap admitting at most
    ``slop`` extra tokens — i.e. exists p_1 < ... < p_n with
    1 <= p_{i+1} - p_i <= slop + 1. Exactly the language of the verify
    regex ' t1( tok){0,s} t2 ...' (equivalence property-tested in
    tests/test_positions.py). Vectorized searchsorted chain."""
    s = np.asarray(pos_lists[0], dtype=np.int64)
    for nxt in pos_lists[1:]:
        if not len(s):
            return False
        nxt = np.asarray(nxt, dtype=np.int64)
        lo = np.searchsorted(s, nxt - (slop + 1), side="left")
        hi = np.searchsorted(s, nxt - 1, side="right")
        s = nxt[hi > lo]
    return bool(len(s))


def span_match(pos_lists: "list[np.ndarray]", slop: int) -> bool:
    """Lucene SpanNearQuery(inOrder=false) acceptance for single-token
    clauses: some token window holds one occurrence of EVERY list with
    at most ``slop`` surplus width — i.e. min_cover_span(pos_lists)
    - n_lists <= slop (slop=0 means the n terms sit in n adjacent
    slots, any order). False when any list is empty."""
    span = min_cover_span(pos_lists)
    return span is not None and span - len(pos_lists) <= slop


def min_cover_span(pos_lists: "list[np.ndarray]") -> int | None:
    """Length of the SMALLEST token window containing at least one
    position from every list (the classic k-sorted-lists minimum
    covering range; the proximity signal ES/Lucene rescorers use).
    Returns None when any list is empty. Anchor argument: some optimal
    window starts at a term occurrence, so the merged-occurrence sweep
    below is exact."""
    k = len(pos_lists)
    if k == 0 or any(len(p) == 0 for p in pos_lists):
        return None
    tagged = np.concatenate(
        [np.stack([np.asarray(p, dtype=np.int64),
                   np.full(len(p), i, dtype=np.int64)], axis=1)
         for i, p in enumerate(pos_lists)])
    tagged = tagged[np.argsort(tagged[:, 0], kind="stable")]
    counts = np.zeros(k, dtype=np.int64)
    covered = 0
    best = None
    lo = 0
    for hi in range(len(tagged)):
        lid = int(tagged[hi, 1])
        if counts[lid] == 0:
            covered += 1
        counts[lid] += 1
        while covered == k:
            span = int(tagged[hi, 0] - tagged[lo, 0] + 1)
            if best is None or span < best:
                best = span
            left = int(tagged[lo, 1])
            counts[left] -= 1
            if counts[left] == 0:
                covered -= 1
            lo += 1
    return best
