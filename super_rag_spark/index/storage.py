"""Thin index-table layout over a directory of Parquet tables.

The reference's "index/collection create-if-absent" (SURVEY.md §2.1 S6,
e.g. /root/reference/vectordbs/qdrant.py:30-41) maps here to a directory
convention behind the Catalog seam in catalog.py; on a cluster with the
Iceberg runtime the same layout maps 1:1 onto Iceberg tables
(`postings` PARTITIONED BY (bucket), `term_stats`, `doc_stats`,
`corpus_stats`, `lineage`, `tombstones`) — see SURVEY.md §7.

EVERYTHING mutable is epoch-scoped and the manifest is the single
switch: postings_e<N>, term_stats_e<N>, doc_stats_e<N>,
corpus_stats_e<N>, tombstones_e<N>. A merge builds epoch N+1 side by
side and readers move with ONE atomic manifest replace; directories of
dead epochs are GC'd only after that replace succeeds, so a crash at
any point leaves the old epoch fully intact (including its pending
tombstones).

Postings blocks (v3) are STATS-FREE: they depend only on the (term,
salt) group's own postings — no df, no corpus-dependent block_max_score
— so an append rewrites only groups whose postings actually changed
(O(delta) merge) while staying bit-identical to a from-scratch build.
The WAND upper bound is computed at query time from (block_max_tf,
block_min_dl) + manifest stats + the term_stats df.

Layout:
  <root>/manifest.json          analyzer + index config + epoch + stats
  <root>/postings_e<N>/bucket=<b>/   posting blocks by term-hash bucket
  <root>/term_stats_e<N>/bucket=<b>/ (term_id, df) per bucket
  <root>/doc_stats_e<N>/             (doc_id, url, dl)
  <root>/corpus_stats_e<N>/          single row (n_docs, avgdl, total_tokens)
  <root>/lineage/                    per-bucket build/merge commit records
  <root>/tombstones_e<N>/            deleted doc_ids targeting epoch N

Row-group contract (postings and term_stats): every file in a bucket
dir is sorted by term_id and split into row groups of at most
TERM_ROW_GROUP_ROWS rows, zstd-compressed, with dictionary encoding
off on the ``*_enc`` payload columns (high-entropy bytes, where a
dictionary only costs). One exception: files written with pyarrow keep
``docs_enc`` snappy. Its doc-id delta varints are nearly
incompressible (zstd saves ~7% there), and zstd decode of that one
column was over half of a cold row-group read. parquet-mr sets one
codec per file, so Spark-written files are zstd throughout. Sorted,
bounded row groups give each group a narrow [min, max] term_id range
in the file footer. Every writer takes its settings from here:
``write_term_table`` for pyarrow writes, ``write_term_frame`` for
Spark writes. A segment-mode bucket dir holds several such files (one
per segment), each sorted on its own.

Driver-side reads of postings and term_stats go through ONE reader,
``read_terms(bucket_dirs, term_ids, columns)``: it reads each file's
footer, decodes only the row groups whose term_id [min, max] can hold
a wanted id, and filters the rows with ``pc.is_in``. The files of all
the given bucket dirs (a query's buckets, a segment-mode dir's several
files) are read concurrently. The footer pruning is only a
shortcut, so the reader returns the same rows for any file, sorted or
not — indexes written before the contract (one row group per file,
snappy) read unchanged, just without the pruning. A missing bucket dir
reads as an empty bucket. Nothing is cached between calls, so a cold
query stays cold.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# seg: Lucene-style segment id. A (term, salt, seg) run is doc-sorted
# and non-overlapping; different segs of the same term MAY overlap in
# doc range (WAND opens one cursor per run). seg=0 is the compacted
# base; merge_append(mode="segment") appends delta blocks as seg=<epoch>
# WITHOUT decoding old groups, and compact_index() folds everything
# back to seg=0 (bit-identical to a from-scratch build).
POSTINGS_SCHEMA = (
    "term_id long, salt int, seg int, block_id int, n int, "
    "first_doc_id long, last_doc_id long, "
    "docs_enc binary, tfs_enc binary, dls_enc binary, "
    "block_max_tf int, block_min_dl int, bucket int"
)

TERM_STATS_SCHEMA = "term_id long, df long, bucket int"

# r4 opt-in positional sidecar (index/positions.py): per-(term, doc)
# token positions, blocked like postings. counts[i] == tf; the pos
# stream delta-resets at each doc (codec.encode_positions_block).
POSITIONS_SCHEMA = (
    "term_id long, block_id int, n int, first_doc_id long, last_doc_id long, "
    "docs_enc binary, cnt_enc binary, pos_enc binary, bucket int"
)

# Row-group size of every postings and term_stats file (see Layout).
# A 2,048-row postings group holds ~1 MB of block payload at 128
# postings a block; 1,024 rows read faster but grew Spark-written
# segment files by 1-3%, where 2,048 rows shrank them by 8%.
TERM_ROW_GROUP_ROWS = 2048
_ENC_COLS = ("docs_enc", "tfs_enc", "dls_enc")

# DataFrameWriter options for postings and term_stats writes.
# parquet-mr cuts a row group at exactly this many rows; the
# ``#column`` suffix scopes a setting to one column.
_SPARK_TERM_TABLE_OPTIONS = {
    "compression": "zstd",
    "parquet.block.row.count.limit": str(TERM_ROW_GROUP_ROWS),
    **{f"parquet.enable.dictionary#{c}": "false" for c in _ENC_COLS},
}

LINEAGE_SCHEMA = (
    "bucket int, phase string, n_terms long, n_blocks long, n_postings long, "
    "status string, epoch int"
)


def bucket_of_term_id(term_id: int, n_buckets: int) -> int:
    """Term-hash bucket from the numeric term id (xxhash64-uniform), so
    the exact same arithmetic runs in the block builder, at query
    planning time on the driver, and in SQL — no dependence on Spark's
    Murmur3. Python ``%`` with a positive divisor is non-negative even
    for the signed ids, matching Spark's pmod."""
    return term_id % n_buckets


def dirs_for_terms(table_dir: str, term_ids, n_buckets: int) -> list[str]:
    """The bucket=<b> dirs of a postings or term_stats table that own
    ``term_ids``, in bucket order."""
    buckets = sorted({bucket_of_term_id(int(t), n_buckets) for t in term_ids})
    return [os.path.join(table_dir, f"bucket={b}") for b in buckets]


def bucket_of_term(term: str, n_buckets: int) -> int:
    from ..analysis import term_id_for

    return bucket_of_term_id(term_id_for(term), n_buckets)


def write_term_table(table: pa.Table, path: str) -> None:
    """pyarrow write of one term_id-sorted postings or term_stats file
    under the row-group contract (see Layout)."""
    cols = table.column_names
    pq.write_table(
        table, path, row_group_size=TERM_ROW_GROUP_ROWS,
        compression={c: "snappy" if c == "docs_enc" else "zstd" for c in cols},
        use_dictionary=[c for c in cols if c not in _ENC_COLS])


def write_term_frame(df: DataFrame, path: str, *, dynamic: bool = True) -> None:
    """Spark write of postings or term_stats rows (with a ``bucket``
    column) as bucket=<b> partitions under the row-group contract.
    ``dynamic``: replace only the buckets present in ``df`` (merge
    waves, resumable); otherwise the whole ``path`` is replaced.

    Rows are sorted by (bucket, term_id[, salt, block_id]) within each
    task. The partitioned write needs bucket order and adds a sort on
    bucket alone when the plan lacks it — and the optimizer drops any
    earlier term_id-only sort under that one."""
    keys = [c for c in ("bucket", "term_id", "salt", "block_id")
            if c in df.columns]
    w = (df.sortWithinPartitions(*keys).write.mode("overwrite")
         .options(**_SPARK_TERM_TABLE_OPTIONS))
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("bucket").parquet(path)


def read_terms(bucket_dirs: list[str], term_ids, columns: list[str]) -> pa.Table:
    """Rows of the postings or term_stats files in ``bucket_dirs`` whose
    term_id is in ``term_ids``, as one table with ``columns``.

    Row groups whose footer term_id [min, max] holds no wanted id are
    never read; the rest are filtered with ``pc.is_in``. All files of
    all dirs are read concurrently; rows keep dir order, file-name
    order, then file order. A missing dir reads as an empty bucket; no
    match gives an empty table (null-typed columns)."""
    wanted = np.unique(np.asarray(list(term_ids), dtype=np.int64))
    paths = []
    for d in bucket_dirs:
        try:
            names = sorted(os.listdir(d))
        except FileNotFoundError:
            continue
        # _SUCCESS, .crc and other side files: pyarrow datasets' skip rule
        paths += [os.path.join(d, n) for n in names
                  if not n.startswith(("_", "."))]
    value_set = pa.array(wanted)
    read_cols = list(columns) if "term_id" in columns else ["term_id", *columns]

    def read_file(path: str) -> pa.Table | None:
        with pq.ParquetFile(path) as pf:
            md = pf.metadata
            tid_col = md.schema.names.index("term_id")
            groups = []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(tid_col).statistics
                if st is not None and st.has_min_max:
                    j = np.searchsorted(wanted, st.min)
                    if j == len(wanted) or wanted[j] > st.max:
                        continue
                groups.append(i)
            if not groups:
                return None
            tbl = pf.read_row_groups(groups, columns=read_cols)
        return tbl.filter(pc.is_in(tbl["term_id"], value_set=value_set))

    parts = list(_reader_pool().map(read_file, paths) if len(paths) > 1
                 else map(read_file, paths))
    parts = [t for t in parts if t is not None]
    if not parts:
        return pa.table({c: pa.nulls(0) for c in columns})
    return pa.concat_tables(parts, promote_options="permissive").select(
        list(columns))


_POOL: "tuple[int, ThreadPoolExecutor] | None" = None


def _reader_pool() -> ThreadPoolExecutor:
    """Threads for read_terms' per-file reads (the decode releases the
    GIL), sized like pyarrow's I/O pool. It lives for the process
    because starting threads on every call cost more than the parallel
    read saved (cold top-k p50 +1.5 to +4 ms, 9,000 docs, 4-core host).
    Holds no data. Keyed by pid: a forked child has none of its
    parent's threads, so it makes its own."""
    global _POOL
    if _POOL is None or _POOL[0] != os.getpid():
        _POOL = (os.getpid(), ThreadPoolExecutor(
            pa.io_thread_count(), thread_name_prefix="read_terms"))
    return _POOL[1]


class IndexStorage:
    def __init__(self, root: str, catalog=None):
        from ..catalog import ParquetCatalog

        self.root = root
        # generic tables (doc/corpus/term stats, tombstones) go through
        # the Catalog seam; postings keep their specialized bucket-dir
        # layout (see catalog.py module docstring)
        self.catalog = catalog if catalog is not None else ParquetCatalog()
        self.lineage_dir = os.path.join(root, "lineage")
        self.manifest_path = os.path.join(root, "manifest.json")

    # ---- manifest -------------------------------------------------------
    def write_manifest(self, cfg: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cfg, f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def read_manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)

    def epoch(self) -> int:
        return int(self.read_manifest()["epoch"])

    # ---- per-epoch directories ------------------------------------------
    def postings_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"postings_e{epoch}")

    def term_stats_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"term_stats_e{epoch}")

    def doc_stats_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"doc_stats_e{epoch}")

    def corpus_stats_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"corpus_stats_e{epoch}")

    def tombstones_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"tombstones_e{epoch}")

    def positions_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"positions_e{epoch}")

    def vocab_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"vocab_e{epoch}")

    def has_vocab(self, epoch: int | None = None) -> bool:
        """True iff the vocabulary sidecar (index/vocab.py — fuzzy term
        matching) exists for this epoch. Merges carry it forward via
        the df fold in index/sidecars.py (r5); it only goes absent when
        a crash-resume lost the staging sidecar."""
        d = self.vocab_dir_for(self.epoch() if epoch is None else epoch)
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def has_positions(self, epoch: int | None = None) -> bool:
        """True iff the positional sidecar exists for this epoch.
        Merges carry it forward (segment links + hit-group rebuilds,
        index/sidecars.py r5); when absent (fresh index without it, or
        a degraded crash-resume) phrase queries fall back to
        match-then-verify until build_positions runs."""
        d = self.positions_dir_for(self.epoch() if epoch is None else epoch)
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    @property
    def postings_dir(self) -> str:
        return self.postings_dir_for(self.epoch())

    @property
    def doc_stats_dir(self) -> str:
        return self.doc_stats_dir_for(self.epoch())

    @property
    def corpus_stats_dir(self) -> str:
        return self.corpus_stats_dir_for(self.epoch())

    @property
    def tombstones_dir(self) -> str:
        return self.tombstones_dir_for(self.epoch())

    # ---- tables ---------------------------------------------------------
    def postings(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        d = self.postings_dir_for(self.epoch() if epoch is None else epoch)
        return spark.read.schema(POSTINGS_SCHEMA).parquet(d)

    def term_stats(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        d = self.term_stats_dir_for(self.epoch() if epoch is None else epoch)
        return self.catalog.read(spark, d, schema=TERM_STATS_SCHEMA)

    def doc_stats(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        d = self.doc_stats_dir_for(self.epoch() if epoch is None else epoch)
        return self.catalog.read(spark, d)

    def corpus_stats(self, spark: SparkSession, epoch: int | None = None) -> dict:
        d = self.corpus_stats_dir_for(self.epoch() if epoch is None else epoch)
        row = self.catalog.read(spark, d).collect()[0]
        return row.asDict()

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(LINEAGE_SCHEMA).json(self.lineage_dir)

    def tombstones(self, spark: SparkSession, epoch: int | None = None) -> DataFrame | None:
        d = self.tombstones_dir_for(self.epoch() if epoch is None else epoch)
        if not self.catalog.exists(spark, d):
            return None
        try:
            df = self.catalog.read(spark, d)
            return df if len(df.columns) else None
        except Exception:
            return None

    def append_tombstones(self, doc_ids_df: DataFrame) -> None:
        self.catalog.append(doc_ids_df.select("doc_id"),
                            self.tombstones_dir_for(self.epoch()))

    # ---- lineage ----------------------------------------------------------
    def append_lineage(self, spark: SparkSession, records: list[dict]) -> None:
        """Lineage records are tiny per-bucket commit markers; written as
        JSON lines so appends are atomic per file (north_rule: resumable
        merge needs bucket-level commits without table transactions)."""
        os.makedirs(self.lineage_dir, exist_ok=True)
        for rec in records:
            name = f"{rec['phase']}-epoch{rec['epoch']}-bucket{rec['bucket']}.json"
            tmp = os.path.join(self.lineage_dir, "." + name + ".tmp")
            with open(tmp, "w") as f:
                json.dump(rec, f)
            os.replace(tmp, os.path.join(self.lineage_dir, name))

    def committed_buckets(self, phase: str, epoch: int) -> set[int]:
        if not os.path.isdir(self.lineage_dir):
            return set()
        out = set()
        prefix = f"{phase}-epoch{epoch}-bucket"
        for name in os.listdir(self.lineage_dir):
            if name.startswith(prefix) and name.endswith(".json"):
                with open(os.path.join(self.lineage_dir, name)) as f:
                    rec = json.load(f)
                if rec.get("status") == "committed":
                    out.add(int(rec["bucket"]))
        return out

    # ---- GC ---------------------------------------------------------------
    def gc_stale_epochs(self) -> list[str]:
        """Remove directories of epochs other than the manifest's (safe
        any time AFTER a manifest switch; a crash between switch and GC
        is healed by calling this at the start of the next merge)."""
        import re
        import shutil

        live = self.epoch()
        removed = []
        pat = re.compile(
            r"^(postings|term_stats|doc_stats|corpus_stats|tombstones"
            r"|positions|vocab|staging)_e(\d+)$")
        for name in os.listdir(self.root):
            m = pat.match(name)
            if not m:
                continue
            kind, ep = m.group(1), int(m.group(2))
            # ONLY strictly-older epochs: dirs of epoch > live belong to
            # an in-flight (possibly crashed, resumable) merge and must
            # survive. staging dirs are keyed by their TARGET epoch, so
            # staging_e<live> (already consumed) is also stale.
            stale = (ep <= live) if kind == "staging" else (ep < live)
            if stale:
                p = os.path.join(self.root, name)
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed
