"""O(delta) external merge with per-bucket resumable commits + upserts.

The reference has NO retry/resume story — a failed ingest restarts from
zero (SURVEY.md §4.1 "Retry/resume" row); BASELINE.json north_rule makes
this a first-class requirement: "resumable from checkpoint with
per-partition lineage + metrics".

Protocol (incremental batch, SURVEY.md §2.10):
1. the delta corpus is built into a STAGING index (a normal build_index
   run, content-addressed by the target epoch so a resume reuses it);
2. removed = pending tombstones + upserted doc_ids (docs present in
   BOTH the old index and the staging delta — re-ingesting a url
   replaces its old postings, never double-counts them);
3. per term-hash bucket, ONLY the (term) groups that actually changed
   are decoded and rebuilt: terms with delta postings, plus terms whose
   blocks may contain a removed doc (block [first,last] range test —
   a conservative superset). Because v3 blocks are stats-free (no df,
   no corpus-dependent block_max_score — build.py), every untouched
   group's rows are byte-identical to what a from-scratch build over
   the merged corpus would emit, so they are carried over verbatim:
   buckets with no change at all are HARDLINKED (O(1) per file), and
   rebuilt buckets re-encode only the changed groups. Merge CPU is
   O(delta + removed-doc postings), not O(index).
4. each bucket commit appends a lineage record; a re-run (after a
   crash) skips committed buckets — bucket jobs are deterministic, so
   resume produces the identical index (FIXTURES.md invariant 5);
5. finalize: write epoch-scoped doc_stats / corpus_stats / term_stats,
   then atomically replace the manifest — the ONE switch point. Old
   epoch dirs (including consumed tombstones) are GC'd only AFTER the
   manifest write succeeds; a crash anywhere earlier leaves the old
   epoch fully live (ADVICE round 1: crash-atomic finalize).

Exactly-once streaming: ``stream_batch_id`` is recorded in the manifest
at finalize; a replayed micro-batch (same or older id) is a no-op, so
the Spark streaming checkpoint and the index can never double-apply a
batch (streaming.py).

Scale: changed buckets are rebuilt in WAVES (one Spark job per ~n/16
buckets — per-bucket jobs drown small deltas in fixed scheduling cost),
lineage still commits per bucket. mode="segment" (Lucene-style) skips
group rebuilds entirely for pure appends: the delta's blocks land as a
new segment next to the old files, and compact_index() folds segments
back to seg=0 on the compaction cadence. Bulk removals (above the
driver threshold) switch to a distributed removed-set and rebuild every
bucket — the logical change is O(index), so the cost is too.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query.scoring import DECODED_SCHEMA, decode_postings_map_in_pandas
from .build import build_index, build_postings, write_term_stats_and_lineage
from .storage import POSTINGS_SCHEMA, IndexStorage, write_term_frame


class SimulatedMergeFailure(RuntimeError):
    """Raised by merge_append(fail_after_bucket=...) in resume tests."""


def _staging_dir(store: IndexStorage, epoch: int) -> str:
    return os.path.join(store.root, f"staging_e{epoch}")


_EPOCH_PHASES = ("merge", "compact", "compact_tail")


def _wipe_foreign_epoch(store: IndexStorage, epoch: int, keep: str) -> None:
    """A crashed run of a DIFFERENT protocol (merge vs compact vs
    tiered fold) may have left partial bucket dirs + lineage at this
    target epoch; resuming a different protocol over them would
    interleave two write protocols' outputs (hardlink-keeps vs
    dynamic overwrites). If any foreign phase has commits, wipe the
    epoch's postings dir and ALL phases' lineage so this run starts the
    epoch clean. Same-protocol resume (only ``keep`` commits present)
    is untouched — that's the supported crash-resume path."""
    foreign_commits = any(store.committed_buckets(ph, epoch)
                          for ph in _EPOCH_PHASES if ph != keep)
    # zero commits ANYWHERE + an existing postings dir = a crash landed
    # between a wave's parquet job commit and its lineage append; the
    # protocol that wrote it is unknowable, so treat it as foreign too
    # (merge_append's idempotent hardlink would otherwise keep it as-is)
    orphan_dirs = (os.path.isdir(store.postings_dir_for(epoch))
                   and not any(store.committed_buckets(ph, epoch)
                               for ph in _EPOCH_PHASES))
    if not (foreign_commits or orphan_dirs):
        return
    shutil.rmtree(store.postings_dir_for(epoch), ignore_errors=True)
    shutil.rmtree(store.positions_dir_for(epoch), ignore_errors=True)
    shutil.rmtree(store.vocab_dir_for(epoch), ignore_errors=True)
    if os.path.isdir(store.lineage_dir):
        prefixes = tuple(f"{ph}-epoch{epoch}-" for ph in _EPOCH_PHASES) + (
            f"merge_stats-epoch{epoch}-", f"compact_stats-epoch{epoch}-")
        for name in os.listdir(store.lineage_dir):
            if name.startswith(prefixes):
                os.remove(os.path.join(store.lineage_dir, name))


def _hardlink_tree(src: str, dst: str) -> None:
    """Mirror a directory via hardlinks (fall back to copy across
    filesystems). Idempotent: an existing dst is kept as-is."""
    if os.path.exists(dst):
        return
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        shutil.copytree(src, tmp, copy_function=os.link)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src, tmp)
    os.replace(tmp, dst)


def merge_append(spark: SparkSession, index_dir: str,
                 new_docs_df: DataFrame | None = None, *,
                 text_is_extracted: bool = True,
                 extract_mode: str = "html",
                 fail_after_bucket: int | None = None,
                 stream_batch_id: int | None = None,
                 mode: str = "rebuild",
                 removed_driver_max: int = 2_000_000) -> IndexStorage:
    """Append/upsert ``new_docs_df`` (url, text|html) into an existing
    index, consuming pending tombstones.

    Call again with ``new_docs_df=None`` (or the same frame) after a
    crash to resume: the staging build is reused if present and
    committed buckets are skipped via lineage (resume with the SAME
    ``mode`` as the crashed run).

    ``mode``:
    - ``"rebuild"``: every term group touched by the delta is decoded
      and re-encoded. Bit-identical to a from-scratch build over the
      merged corpus — but Zipf means every realistic text delta contains
      the head vocabulary, so head-term groups (the bulk of the index)
      re-encode on EVERY append: cost is O(head terms), not O(delta).
    - ``"segment"``: Lucene-style. The staging blocks are stamped
      seg=<new epoch> and hardlinked into the bucket dirs NEXT TO the
      old blocks — no old group is decoded for a pure append. Only
      groups that lose postings (deletes/upserts, found by the doc-range
      probe) are rebuilt (collapsing that term's segments — a
      micro-compaction). Scores are IDENTICAL to a full rebuild (stats
      are exact; a doc lives in exactly one segment per term); the
      physical layout differs until compact_index() folds segments back
      to seg=0. This is the O(delta) path streaming ingest uses.

    Changed buckets are rebuilt in WAVES (one Spark job per ~n/16
    buckets) so a small delta pays a handful of job schedules, not one
    per bucket. Fault-injection runs (``fail_after_bucket``) force
    sequential single-bucket order so resume tests are deterministic.

    ``stream_batch_id``: exactly-once marker for streaming ingest — ids
    at or below the manifest's recorded value are already folded and
    return immediately.
    """
    if mode not in ("rebuild", "segment"):
        raise ValueError(f"unknown merge mode: {mode!r}")
    segment = mode == "segment"
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    if (stream_batch_id is not None
            and manifest.get("stream_batch_id") is not None
            and stream_batch_id <= int(manifest["stream_batch_id"])):
        return store  # replayed micro-batch: already applied
    store.gc_stale_epochs()  # heal a crash between manifest switch and GC
    old_epoch, epoch = int(manifest["epoch"]), int(manifest["epoch"]) + 1
    n_buckets = int(manifest["n_buckets"])
    _wipe_foreign_epoch(store, epoch, keep="merge")
    cfg = {k: manifest[k] for k in
           ("k1", "b", "block_size", "n_buckets", "salt_df_threshold", "salt_count")}

    # 1. staging build (idempotent: skipped when its manifest exists —
    #    unless it was built by a crashed run of the OTHER mode, whose
    #    blocks carry the wrong seg stamp)
    staging = _staging_dir(store, epoch)
    sstore = IndexStorage(staging)
    want_seg = epoch if segment else 0
    if os.path.exists(sstore.manifest_path):
        if int(sstore.read_manifest().get("seg", 0)) != want_seg:
            if new_docs_df is None:
                raise ValueError(
                    f"staging at {staging} was built for mode="
                    f"{'rebuild' if segment else 'segment'}; resume with "
                    "that mode or re-supply new_docs_df to rebuild staging")
            # the crashed run may have committed buckets of the other
            # mode into the target epoch: wipe its partial output and
            # lineage so this run starts the epoch clean
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(store.postings_dir_for(epoch), ignore_errors=True)
            if os.path.isdir(store.lineage_dir):
                for name in os.listdir(store.lineage_dir):
                    if name.startswith(f"merge-epoch{epoch}-") or \
                            name.startswith(f"merge_stats-epoch{epoch}-"):
                        os.remove(os.path.join(store.lineage_dir, name))
    if not os.path.exists(sstore.manifest_path):
        if new_docs_df is None:
            raise ValueError("no staging index found and no new_docs_df given")
        # title_weight / meta_cols are INDEX properties, not call-site
        # options: a weighted or meta-carrying index must append deltas
        # built the same way, or scores / doc_stats schemas diverge
        build_index(spark, new_docs_df, staging,
                    text_is_extracted=text_is_extracted,
                    extract_mode=extract_mode, staging=True,
                    seg=want_seg,
                    title_weight=int(manifest.get("title_weight", 1)),
                    meta_cols=tuple(manifest.get("meta_cols", [])),
                    **cfg)
    # the delta's sidecars (positions/vocab) build into staging right
    # away — iff the live epoch carries them — so a crash-resume with
    # new_docs_df=None finds them ready (index/sidecars.py; idempotent)
    from .sidecars import build_staging_sidecars, carry_sidecars_merge

    build_staging_sidecars(spark, store, sstore, new_docs_df,
                           text_is_extracted=text_is_extracted,
                           extract_mode=extract_mode)

    # 2. removed = explicit tombstones + upserts (old ∩ staging doc_ids).
    #    Applied to OLD-epoch rows only: the staging (newest) version of
    #    an upserted doc always survives, and a delete+re-add in one
    #    cycle resurrects the doc with its new content.
    old_ds = store.doc_stats(spark, old_epoch)
    stg_ds = sstore.doc_stats(spark, 0)
    tomb = store.tombstones(spark, old_epoch)
    upserts = old_ds.select("doc_id").join(
        stg_ds.select("doc_id"), "doc_id", "left_semi")
    removed = upserts if tomb is None else upserts.unionByName(
        tomb.select("doc_id")).distinct()
    # tombstones + upserts are normally delta-sized -> a driver-local
    # frame broadcasts cleanly; a BULK delete (say, half the corpus)
    # must never be collected, so above the threshold the removed set
    # stays a distributed frame (joins below fall back to shuffle joins
    # and the per-bucket hit probe keeps only its broadcast of term hits)
    n_removed = removed.count()
    removed_small = None
    if 0 < n_removed <= removed_driver_max:  # default ~16 MB of int64 ids
        removed_small = F.broadcast(
            spark.createDataFrame(removed.toPandas()))
    elif n_removed:
        removed_small = removed  # distributed; Catalyst picks the join

    # merged doc stats -> new global N / avgdl (manifest + corpus_stats)
    ds_merged = old_ds
    if removed_small is not None:
        ds_merged = ds_merged.join(removed_small, "doc_id", "left_anti")
    ds_merged = ds_merged.unionByName(stg_ds)
    st = ds_merged.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
                       F.sum("dl").alias("tot")).collect()[0]
    n_docs = int(st["n"])
    avgdl = float(st["avgdl"]) if st["avgdl"] is not None else 0.0
    total_tokens = int(st["tot"] or 0)

    # 3. upfront, DETERMINISTIC change detection (identical on resume):
    #    a bucket changes iff the staging delta wrote into it, or an old
    #    block's [first,last] window may contain a removed doc (metadata
    #    range probe, broadcast join, no decode; false positives only
    #    cost a no-op re-encode of identical postings).
    # removal_hits_df stays a DATAFRAME end-to-end (ADVICE r2): a
    # sub-threshold delete can still hit millions of distinct (bucket,
    # term_id) groups — Zipf head terms span every doc range — so the
    # hit set must never be collected. The driver only ever sees the
    # DISTINCT BUCKET list (bounded by n_buckets); per-wave term sets
    # are joined Spark-side inside merge_wave.
    removal_hits_df: DataFrame | None = None
    hit_bucket_set: set[int] = set()
    bulk_removal = n_removed > removed_driver_max
    if bulk_removal:
        # a bulk delete touches essentially every group: skip the probe
        # (its non-equi join only works broadcast) and rebuild every
        # bucket outright — this IS a compaction, and it costs O(index)
        # because the logical change is O(index)
        hit_bucket_set = set(range(n_buckets))
    elif removed_small is not None and os.path.isdir(store.postings_dir_for(old_epoch)):
        meta = (store.postings(spark, old_epoch)
                .select("bucket", "term_id", "first_doc_id", "last_doc_id"))
        removal_hits_df = (
            meta.join(removed_small,
                      (meta["first_doc_id"] <= F.col("doc_id"))
                      & (meta["last_doc_id"] >= F.col("doc_id")))
            .select("bucket", "term_id").distinct()
            .persist())  # probe scan runs once, every wave reuses it
        hit_bucket_set = {int(r["bucket"]) for r in
                          removal_hits_df.select("bucket").distinct().collect()}
    staging_buckets = {
        int(name.split("=")[1])
        for name in os.listdir(sstore.postings_dir_for(0))
        if name.startswith("bucket=")
    } if os.path.isdir(sstore.postings_dir_for(0)) else set()
    # rebuild_buckets: whose groups get decoded + re-encoded.
    #   segment mode: ONLY buckets losing postings — pure appends decode
    #   nothing at all (staging blocks land as a new segment).
    # stats_buckets: whose term_stats partitions need a recompute (df
    #   changes wherever postings were added OR removed).
    rebuild_buckets = set(hit_bucket_set) if segment else (
        staging_buckets | hit_bucket_set)
    stats_buckets = staging_buckets | hit_bucket_set

    # 4. merge in WAVES of changed buckets. One Spark job per wave (the
    #    round-1 per-bucket jobs drowned small deltas in fixed job
    #    overhead: 32 buckets x ~1.3 s of scheduling beat the actual
    #    work 4:1). Untouched buckets hardlink outside any job; lineage
    #    still commits PER BUCKET after its wave lands, so a driver
    #    crash loses at most one wave of work, keeping the north-rule
    #    mid-merge resume with bounded job count at any bucket count
    #    (4096 buckets / 256-bucket waves = 16 jobs, not 4096).
    new_dir = store.postings_dir_for(epoch)
    os.makedirs(new_dir, exist_ok=True)
    committed = store.committed_buckets("merge", epoch)
    old_root = store.postings_dir_for(old_epoch)
    stg_root = sstore.postings_dir_for(0)

    def commit_buckets(buckets: list[int]) -> None:
        store.append_lineage(spark, [{
            "bucket": b, "phase": "merge", "epoch": epoch,
            "n_terms": -1, "n_blocks": -1, "n_postings": -1,
            "status": "committed"} for b in buckets])

    def link_staging_blocks(bucket: int) -> None:
        """Segment mode: the staging bucket's parquet files (already
        stamped seg=<epoch> at build time) become part of the new
        epoch's bucket dir via hardlinks — zero decode, zero rewrite.
        Idempotent (resume re-runs skip existing links)."""
        src = os.path.join(stg_root, f"bucket={bucket}")
        if not os.path.isdir(src):
            return
        dst = os.path.join(new_dir, f"bucket={bucket}")
        os.makedirs(dst, exist_ok=True)
        for fn in os.listdir(src):
            if not fn.endswith(".parquet"):
                continue
            target = os.path.join(dst, f"seg{epoch}-{fn}")
            try:
                os.link(os.path.join(src, fn), target)
            except FileExistsError:
                pass
            except OSError:
                shutil.copy2(os.path.join(src, fn), target)

    def merge_wave(wave: list[int]) -> None:
        """Rebuild the changed term groups of these buckets in ONE job.
        Segment mode never decodes staging blocks — they join the index
        as their own segment (link_staging_blocks); here only the
        removal-hit groups of the OLD epoch are rebuilt (all old
        segments of a hit term collapse into one fresh seg=0 run,
        disjoint from the incoming seg=<epoch> run)."""
        old_parts = [os.path.join(old_root, f"bucket={b}") for b in wave]
        old_parts = [p for p in old_parts if os.path.isdir(p)]
        stg_parts = [] if segment else [
            os.path.join(stg_root, f"bucket={b}") for b in wave]
        stg_parts = [p for p in stg_parts if os.path.isdir(p)]

        def read_buckets(root: str, paths: list[str]):
            # ONE scan over exactly these bucket dirs; basePath recovers
            # the bucket partition column without a union-per-dir plan
            return (spark.read.option("basePath", root)
                    .schema(POSTINGS_SCHEMA).parquet(*paths))

        rebuild_terms = None
        if stg_parts:
            rebuild_terms = (read_buckets(stg_root, stg_parts)
                             .select("term_id").distinct())
        if removal_hits_df is not None and (set(wave) & hit_bucket_set):
            # Spark-side: the hit terms of this wave's buckets, never
            # materialized on the driver (can be O(vocabulary) rows)
            hit = (removal_hits_df.where(F.col("bucket").isin(wave))
                   .select("term_id").distinct())
            rebuild_terms = hit if rebuild_terms is None else (
                rebuild_terms.unionByName(hit).distinct())

        parts = []
        keep = None
        if old_parts:
            old_blocks = read_buckets(old_root, old_parts)
            if bulk_removal:
                # every group may lose postings: decode them all, no
                # carry-over (compaction-style rebuild of this wave)
                dec_old = (old_blocks.drop("bucket")
                           .mapInPandas(decode_postings_map_in_pandas,
                                        schema=DECODED_SCHEMA))
            else:
                # no forced broadcast: rebuild_terms is usually tiny (AQE
                # broadcasts it at runtime) but a head-term-heavy delete
                # can make it vocabulary-sized — a forced broadcast would
                # then OOM the driver
                keep = old_blocks.join(rebuild_terms,
                                       "term_id", "left_anti")
                dec_old = (old_blocks.join(rebuild_terms,
                                           "term_id", "left_semi")
                           .drop("bucket")
                           .mapInPandas(decode_postings_map_in_pandas,
                                        schema=DECODED_SCHEMA))
            if removed_small is not None:
                dec_old = dec_old.join(removed_small, "doc_id", "left_anti")
            parts.append(dec_old)
        if stg_parts:
            parts.append(read_buckets(stg_root, stg_parts).drop("bucket").mapInPandas(
                decode_postings_map_in_pandas, schema=DECODED_SCHEMA))
        decoded = parts[0]
        for extra in parts[1:]:
            decoded = decoded.unionByName(extra)
        rebuilt = build_postings(decoded, **cfg)
        out = rebuilt if keep is None else keep.unionByName(rebuilt)
        # dynamic partition overwrite: replaces exactly this wave's
        # bucket dirs, leaves hardlinked/committed buckets alone;
        # idempotent on resume re-runs
        write_term_frame(out.repartition("bucket"), new_dir)
        # buckets whose every group was rebuilt away (fully emptied) get
        # no partition dir from the writer; materialize them empty
        for b in wave:
            os.makedirs(os.path.join(new_dir, f"bucket={b}"), exist_ok=True)

    todo = [b for b in range(n_buckets) if b not in committed]
    unchanged_todo = [b for b in todo if b not in rebuild_buckets]
    changed_todo = [b for b in todo if b in rebuild_buckets]

    # hardlink the untouched buckets (O(1) per file — THE O(delta) fast
    # path; stats-free v3 blocks make old rows bit-identical to a
    # from-scratch rebuild's), then (segment mode) link the staging
    # blocks in as the new segment
    for b in unchanged_todo:
        old_p = os.path.join(old_root, f"bucket={b}")
        dst = os.path.join(new_dir, f"bucket={b}")
        if os.path.isdir(old_p):
            _hardlink_tree(old_p, dst)
        else:
            os.makedirs(dst, exist_ok=True)
        if segment:
            link_staging_blocks(b)
    if fail_after_bucket is None:
        commit_buckets(unchanged_todo)

    if fail_after_bucket is not None:
        # deterministic per-bucket order for fault-injection tests
        for b in unchanged_todo:
            commit_buckets([b])
            if b >= fail_after_bucket:
                raise SimulatedMergeFailure(f"injected failure after bucket {b}")
        for b in changed_todo:
            merge_wave([b])
            if segment:
                link_staging_blocks(b)
            commit_buckets([b])
            if b >= fail_after_bucket:
                raise SimulatedMergeFailure(f"injected failure after bucket {b}")
    elif changed_todo:
        # wave size: big enough that job-scheduling overhead amortizes
        # (a wave is ONE job regardless of bucket count), small enough
        # that a driver crash loses bounded work at huge bucket counts
        wave_size = max(64, n_buckets // 16)
        waves = [changed_todo[i:i + wave_size]
                 for i in range(0, len(changed_todo), wave_size)]
        for wave in waves:
            merge_wave(wave)
            if segment:
                # the wave's partition overwrite wiped any links a
                # crashed earlier attempt left; re-link before commit
                for b in wave:
                    link_staging_blocks(b)
            commit_buckets(wave)

    # 5. finalize: epoch-scoped stats tables, then the atomic manifest
    #    switch; GC strictly after. Everything below is idempotent, so a
    #    crash + resume rewrites it safely.
    store.catalog.overwrite(ds_merged, store.doc_stats_dir_for(epoch))
    store.catalog.overwrite(
        spark.createDataFrame(
            [(n_docs, float(avgdl), total_tokens)],
            "n_docs long, avgdl double, total_tokens long"),
        store.corpus_stats_dir_for(epoch))

    # term_stats: hardlink untouched buckets' partitions; buckets that
    # LOST postings (removal hits) recompute from the new block metadata
    # (no decode); buckets that only GAINED postings (pure segment
    # appends — every bucket of a streaming micro-batch) fold the
    # STAGING delta into the old term_stats table instead: df_new =
    # df_old + df_staging. That scan is O(delta metadata + old
    # term_stats), never O(merged block metadata) — at 10^12 docs the
    # block-metadata table is ~block_size x larger than term_stats.
    ts_new = store.term_stats_dir_for(epoch)
    os.makedirs(ts_new, exist_ok=True)
    ts_old = store.term_stats_dir_for(old_epoch)
    for b in range(n_buckets):
        src = os.path.join(ts_old, f"bucket={b}")
        if b not in stats_buckets and os.path.isdir(src):
            _hardlink_tree(src, os.path.join(ts_new, f"bucket={b}"))
    hit_buckets = sorted(hit_bucket_set & stats_buckets)
    gain_only = sorted(stats_buckets - hit_bucket_set) if segment else []
    write_term_stats_and_lineage(
        spark, store, phase="merge_stats", epoch=epoch,
        buckets=hit_buckets if segment else sorted(stats_buckets))
    if gain_only:
        _fold_term_stats_delta(spark, store, sstore, epoch, old_epoch, gain_only)

    # sidecars ride the same epoch switch (O(delta) carry — r5):
    # positions segment-link + hit-group rebuild, vocab df fold
    carry_sidecars_merge(spark, store, sstore, old_epoch=old_epoch,
                         epoch=epoch, removed_small=removed_small,
                         bulk_removal=bulk_removal,
                         removal_hits_df=removal_hits_df)

    manifest.update(epoch=epoch, n_docs=n_docs, avgdl=avgdl)
    if segment:
        # read-side cursor count per term grows with live segments; the
        # counter drives the auto-compaction policy (maybe_compact)
        manifest["n_segments"] = int(manifest.get("n_segments", 1)) + 1
    if stream_batch_id is not None:
        manifest["stream_batch_id"] = int(stream_batch_id)
    store.write_manifest(manifest)  # <- the switch

    # GC after the switch (crash here is healed by the next merge's
    # gc_stale_epochs call)
    store.gc_stale_epochs()
    if removal_hits_df is not None:
        removal_hits_df.unpersist()
    return store


def _fold_term_stats_delta(spark: SparkSession, store: IndexStorage,
                           sstore: IndexStorage, epoch: int, old_epoch: int,
                           buckets: list[int]) -> None:
    """term_stats for buckets that only GAINED postings in a segment
    merge: df_new = df_old (+) df_staging, an outer sum of the old
    term_stats table with the STAGING block metadata — the merged
    index's (much larger) block-metadata table is never scanned."""
    delta = (sstore.postings(spark, 0)
             .where(F.col("bucket").isin(buckets))
             .groupBy("bucket", "term_id").agg(F.sum("n").alias("df")))
    old_ts = (store.term_stats(spark, old_epoch)
              .where(F.col("bucket").isin(buckets))
              .select("bucket", "term_id", "df"))
    merged = (old_ts.unionByName(delta)
              .groupBy("bucket", "term_id").agg(F.sum("df").alias("df")))
    write_term_frame(merged.repartition("bucket").select("term_id", "df", "bucket"),
                     store.term_stats_dir_for(epoch))
    store.append_lineage(spark, [
        {"bucket": b, "phase": "merge_stats", "epoch": epoch,
         "n_terms": -1, "n_blocks": -1, "n_postings": -1,
         "status": "committed"} for b in buckets])


def compact_index(spark: SparkSession, index_dir: str, *,
                  fail_after_bucket: int | None = None) -> IndexStorage:
    """Fold every segment back into seg=0 and consume pending tombstones:
    decode ALL postings, rebuild blocks from scratch into the next epoch.

    After any sequence of segment-mode appends, compact(index) is
    BIT-IDENTICAL to a from-scratch build over the live corpus (v3
    blocks depend only on their group's postings; tests assert it).
    Total cost is O(index) by design — this is the Lucene compaction
    cadence: micro-batches pay O(delta) via mode="segment", and a
    periodic compaction restores the tight block layout + WAND skip
    efficiency. But it is NOT one monolithic job (ADVICE r2): buckets
    rebuild in WAVES with per-bucket lineage commits, exactly like
    merge_append — at 100 TB a crash mid-compaction resumes from the
    last committed wave instead of restarting a multi-hour job from
    zero. Bucket rebuilds are deterministic (a term's postings live
    wholly inside one bucket, so per-wave df == global df for the
    salting decision), so resume produces the identical index.
    The manifest replace stays the single switch point.
    """
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    store.gc_stale_epochs()
    old_epoch, epoch = int(manifest["epoch"]), int(manifest["epoch"]) + 1
    n_buckets = int(manifest["n_buckets"])
    _wipe_foreign_epoch(store, epoch, keep="compact")
    cfg = {k: manifest[k] for k in
           ("k1", "b", "block_size", "n_buckets", "salt_df_threshold", "salt_count")}

    # tombstones stay a DataFrame (a bulk delete can dwarf the driver);
    # AQE broadcasts the (usual) tiny case at runtime
    tomb = store.tombstones(spark, old_epoch)
    if tomb is not None:
        tomb = tomb.select("doc_id").distinct()

    new_dir = store.postings_dir_for(epoch)
    os.makedirs(new_dir, exist_ok=True)
    old_root = store.postings_dir_for(old_epoch)
    committed = store.committed_buckets("compact", epoch)

    def commit_buckets(buckets: list[int]) -> None:
        store.append_lineage(spark, [{
            "bucket": b, "phase": "compact", "epoch": epoch,
            "n_terms": -1, "n_blocks": -1, "n_postings": -1,
            "status": "committed"} for b in buckets])

    def compact_wave(wave: list[int]) -> None:
        parts = [os.path.join(old_root, f"bucket={b}") for b in wave]
        parts = [p for p in parts if os.path.isdir(p)]
        if parts:
            blocks = (spark.read.option("basePath", old_root)
                      .schema(POSTINGS_SCHEMA).parquet(*parts))
            decoded = (blocks.drop("bucket")
                       .mapInPandas(decode_postings_map_in_pandas,
                                    schema=DECODED_SCHEMA))
            if tomb is not None:
                decoded = decoded.join(tomb, "doc_id", "left_anti")
            write_term_frame(build_postings(decoded, **cfg)
                             .repartition("bucket"), new_dir)
        # fully-emptied buckets get no dir from the writer; materialize
        for b in wave:
            os.makedirs(os.path.join(new_dir, f"bucket={b}"), exist_ok=True)

    todo = [b for b in range(n_buckets) if b not in committed]
    if fail_after_bucket is not None:
        # deterministic per-bucket order for fault-injection tests
        for b in todo:
            compact_wave([b])
            commit_buckets([b])
            if b >= fail_after_bucket:
                raise SimulatedMergeFailure(
                    f"injected failure after bucket {b}")
    else:
        wave_size = max(64, n_buckets // 16)
        for i in range(0, len(todo), wave_size):
            wave = todo[i:i + wave_size]
            compact_wave(wave)
            commit_buckets(wave)

    ds = store.doc_stats(spark, old_epoch)
    if tomb is not None:
        ds = ds.join(tomb, "doc_id", "left_anti")
    st = ds.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("tot")).collect()[0]
    store.catalog.overwrite(ds, store.doc_stats_dir_for(epoch))
    store.catalog.overwrite(
        spark.createDataFrame(
            [(int(st["n"]), float(st["avgdl"] or 0.0), int(st["tot"] or 0))],
            "n_docs long, avgdl double, total_tokens long"),
        store.corpus_stats_dir_for(epoch))
    write_term_stats_and_lineage(spark, store, phase="compact_stats", epoch=epoch)

    # positions fold to canonical blocking (consuming tombstones);
    # vocab hardlinks or folds losses (index/sidecars.py, r5)
    from .sidecars import carry_sidecars_compact

    carry_sidecars_compact(spark, store, old_epoch=old_epoch, epoch=epoch,
                           tomb=tomb)

    manifest.update(epoch=epoch, n_docs=int(st["n"]),
                    avgdl=float(st["avgdl"] or 0.0), n_segments=1)
    store.write_manifest(manifest)  # <- the switch
    store.gc_stale_epochs()
    return store


def compact_tail(spark: SparkSession, index_dir: str, *,
                 fail_after_bucket: int | None = None) -> IndexStorage:
    """TIERED compaction (Lucene-style): fold every segment EXCEPT the
    largest into ONE new segment. Cost is O(tail postings) — the big
    base segment is carried through as rows, never decoded or
    re-encoded — so the steady-state compaction cadence of a streaming
    ingest pays for the deltas it absorbed, not for the whole index.
    Repeated folds re-fold the previous fold (the folded segment grows
    until it rivals the base, amortized O(n log n) total — the classic
    tiered-merge tradeoff); a rare full compact_index() restores the
    single-segment layout when wanted.

    Invariants: the live doc set, df(term), and all scores are
    unchanged (postings only change SEGMENT); doc_stats / corpus_stats
    / term_stats hardlink through, and pending tombstones stay pending
    (a tail fold must not half-consume them — the base segment keeps
    its copies). Resumable exactly like compact_index: bucket waves,
    per-bucket lineage (phase "compact_tail"), manifest switch last.
    No-op (no epoch bump) when <= 1 segment is live.
    """
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    store.gc_stale_epochs()
    old_epoch, epoch = int(manifest["epoch"]), int(manifest["epoch"]) + 1
    n_buckets = int(manifest["n_buckets"])
    _wipe_foreign_epoch(store, epoch, keep="compact_tail")
    cfg = {k: manifest[k] for k in
           ("k1", "b", "block_size", "n_buckets", "salt_df_threshold", "salt_count")}

    seg_sizes = (store.postings(spark, old_epoch)
                 .groupBy("seg").agg(F.sum("n").alias("n")).collect())
    if len(seg_sizes) <= 1:
        return store  # nothing to fold
    largest = int(max(seg_sizes, key=lambda r: (int(r["n"]), -int(r["seg"])))["seg"])
    tail_segs = sorted(int(r["seg"]) for r in seg_sizes
                       if int(r["seg"]) != largest)
    new_seg = epoch  # unique, never collides with a live seg id

    new_dir = store.postings_dir_for(epoch)
    os.makedirs(new_dir, exist_ok=True)
    old_root = store.postings_dir_for(old_epoch)
    committed = store.committed_buckets("compact_tail", epoch)

    def commit_buckets(buckets: list[int]) -> None:
        store.append_lineage(spark, [{
            "bucket": b, "phase": "compact_tail", "epoch": epoch,
            "n_terms": -1, "n_blocks": -1, "n_postings": -1,
            "status": "committed"} for b in buckets])

    def fold_wave(wave: list[int]) -> None:
        parts = [os.path.join(old_root, f"bucket={b}") for b in wave]
        parts = [p for p in parts if os.path.isdir(p)]
        if parts:
            blocks = (spark.read.option("basePath", old_root)
                      .schema(POSTINGS_SCHEMA).parquet(*parts))
            keep = blocks.where(F.col("seg") == largest)
            decoded = (blocks.where(F.col("seg").isin(tail_segs))
                       .drop("bucket")
                       .mapInPandas(decode_postings_map_in_pandas,
                                    schema=DECODED_SCHEMA))
            rebuilt = build_postings(decoded, seg=new_seg, **cfg)
            write_term_frame(keep.unionByName(rebuilt).repartition("bucket"),
                             new_dir)
        for b in wave:
            os.makedirs(os.path.join(new_dir, f"bucket={b}"), exist_ok=True)

    todo = [b for b in range(n_buckets) if b not in committed]
    if fail_after_bucket is not None:
        for b in todo:
            fold_wave([b])
            commit_buckets([b])
            if b >= fail_after_bucket:
                raise SimulatedMergeFailure(
                    f"injected failure after bucket {b}")
    else:
        wave_size = max(64, n_buckets // 16)
        for i in range(0, len(todo), wave_size):
            wave = todo[i:i + wave_size]
            fold_wave(wave)
            commit_buckets(wave)

    # stats + tombstones are segment-invariant: hardlink, don't rewrite
    for src, dst in ((store.doc_stats_dir_for(old_epoch),
                      store.doc_stats_dir_for(epoch)),
                     (store.corpus_stats_dir_for(old_epoch),
                      store.corpus_stats_dir_for(epoch)),
                     (store.term_stats_dir_for(old_epoch),
                      store.term_stats_dir_for(epoch)),
                     (store.tombstones_dir_for(old_epoch),
                      store.tombstones_dir_for(epoch))):
        if os.path.isdir(src):
            _hardlink_tree(src, dst)
    # sidecars are doc-set and df-invariant under a tail fold too
    from .sidecars import hardlink_sidecars

    hardlink_sidecars(store, old_epoch, epoch)

    manifest.update(epoch=epoch, n_segments=2)
    store.write_manifest(manifest)  # <- the switch
    store.gc_stale_epochs()
    return store


def compaction_plan(spark: SparkSession, index_dir: str, *,
                    max_segments: int = 8,
                    full_ratio: float = 0.5) -> str:
    """Size-ratio-aware compaction decision (the Lucene merge-policy
    shape): returns ``"none"`` under the segment budget, ``"tiered"``
    when the tail is small relative to the base (fold only the tail,
    O(tail)), and ``"full"`` once the second-largest segment has grown
    to ``full_ratio`` of the base — at that point a tiered fold decodes
    nearly half the index anyway while leaving two rival segments, so
    paying ~2x once to reclaim the tight single-segment layout (and
    consume tombstones) is the better trade. The decision needs one
    block-METADATA aggregate (bucket files' (seg, n) columns), never a
    decode."""
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    if int(manifest.get("n_segments", 1)) <= max_segments:
        return "none"
    sizes = sorted((int(r["n"]) for r in
                    store.postings(spark, int(manifest["epoch"]))
                    .groupBy("seg").agg(F.sum("n").alias("n")).collect()),
                   reverse=True)
    if len(sizes) <= 1:
        return "none"
    return "full" if sizes[1] >= full_ratio * sizes[0] else "tiered"


def maybe_compact(spark: SparkSession, index_dir: str, *,
                  max_segments: int = 8, mode: str = "full") -> bool:
    """Compaction policy: fold segments when the live count exceeds
    ``max_segments`` (each live segment adds one WAND cursor per query
    term and loosens block ranges, so read amplification grows with the
    count). ``mode="full"`` restores the single-segment layout
    (O(index), bit-identical to a fresh build); ``mode="tiered"`` folds
    only the tail segments (O(tail) — the at-scale steady-state
    cadence); ``mode="auto"`` picks per compaction_plan (tiered while
    the tail is small, full once the folded tier rivals the base).
    Returns True if a compaction ran."""
    store = IndexStorage(index_dir)
    if int(store.read_manifest().get("n_segments", 1)) <= max_segments:
        return False
    if mode == "auto":
        mode = compaction_plan(spark, index_dir, max_segments=max_segments)
        if mode == "none":
            return False
    if mode == "tiered":
        compact_tail(spark, index_dir)
    else:
        compact_index(spark, index_dir)
    return True
