"""Row-group contract of the postings / term_stats files and the one
term reader (index/storage.py):
- every writer path (bucketed build, streaming build, segment and
  rebuild merges, compaction) emits term_id-sorted files in row groups
  of at most TERM_ROW_GROUP_ROWS rows, zstd (docs_enc snappy where
  pyarrow writes), no dictionary on *_enc;
- read_terms returns exactly the rows an is_in filter over the whole
  dir returns — for terms spanning row groups, absent ids, multi-file
  segment dirs and pre-contract (one row group, unsorted) files — and
  skips row groups whose footer range holds no wanted id;
- an index in the pre-contract layout answers rank-identically to the
  oracle without a rebuild.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from super_rag_spark.index.merge import compact_index, merge_append
from super_rag_spark.index.storage import TERM_ROW_GROUP_ROWS, read_terms
from super_rag_spark.query.engine import BM25Engine

# two buckets over 300 docs: ~7k block rows per postings file, so every
# file spans several row groups
CFG = dict(n_buckets=2, salt_df_threshold=150)
ENC = ("docs_enc", "tfs_enc", "dls_enc")


def _files(table_dir: str) -> list[str]:
    out = []
    for root, _, names in os.walk(table_dir):
        out += [os.path.join(root, n) for n in names
                if not n.startswith(("_", "."))]
    return sorted(out)


def _assert_contract(table_dir: str, docs_codec: str = "ZSTD") -> int:
    """Checks every file under ``table_dir``; returns the largest
    row-group count seen (callers assert the bound was exercised).
    ``docs_codec``: docs_enc's codec (snappy in pyarrow-written files)."""
    files = _files(table_dir)
    assert files, table_dir
    most = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        tid = md.schema.names.index("term_id")
        prev_max = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            assert rg.num_rows <= TERM_ROW_GROUP_ROWS, f
            st = rg.column(tid).statistics
            assert st is not None and st.has_min_max, f
            assert prev_max is None or st.min >= prev_max, f
            prev_max = st.max
            for j in range(rg.num_columns):
                col = rg.column(j)
                want = docs_codec if col.path_in_schema == "docs_enc" else "ZSTD"
                assert col.compression == want, (f, col.path_in_schema)
                if col.path_in_schema in ENC:
                    assert not any("DICTIONARY" in e for e in col.encodings), \
                        (f, col.path_in_schema, col.encodings)
        most = max(most, md.num_row_groups)
    return most


def _assert_epoch(store, epoch: int) -> None:
    assert _assert_contract(store.postings_dir_for(epoch)) > 1
    _assert_contract(store.term_stats_dir_for(epoch))


@pytest.fixture(scope="module")
def corpus(spark, webtext_sf0001_path):
    df = spark.read.parquet(webtext_sf0001_path).select("url", "text").limit(300)
    rows = df.collect()
    return rows, lambda rs: spark.createDataFrame(rs, "url string, text string")


def test_bucketed_build_layout(spark, corpus, tmp_path):
    from super_rag_spark.index.build import (build_postings_bucketed,
                                             term_id_expr, tokens_from_text)

    rows, mk = corpus
    tf = (tokens_from_text(mk(rows))
          .select("doc_id", "dl", F.explode("tokens").alias("term"))
          .select(term_id_expr("term").alias("term_id"), "doc_id",
                  F.lit(1).alias("tf"), "dl"))
    pdir, tdir = str(tmp_path / "postings_e0"), str(tmp_path / "term_stats_e0")
    build_postings_bucketed(spark, tf, pdir, tdir, **CFG)
    assert _assert_contract(pdir, docs_codec="SNAPPY") > 1
    assert _assert_contract(tdir) > 1


def test_streaming_merge_and_compact_layout(spark, corpus, tmp_path):
    """Streaming build, then a segment append, a rebuild append that
    also consumes a tombstone, and a compaction: each epoch's files
    keep the contract."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "idx")).build(mk(rows[:200]), **CFG)
    root = eng.store.root
    _assert_epoch(eng.store, 0)

    merge_append(spark, root, mk(rows[200:250]), mode="segment")
    eng = BM25Engine(spark, root)
    assert eng.manifest["n_segments"] == 2
    _assert_epoch(eng.store, 1)
    # the segment bucket dirs hold several files, each sorted on its own
    assert any(len(_files(os.path.join(eng.store.postings_dir_for(1), b))) > 1
               for b in os.listdir(eng.store.postings_dir_for(1)))

    eng.delete_urls([rows[3]["url"]])
    merge_append(spark, root, mk(rows[250:]), mode="rebuild")
    _assert_epoch(eng.store, 2)

    compact_index(spark, root)
    _assert_epoch(eng.store, 3)
    want = BM25Engine(spark, str(tmp_path / "fresh")).build(
        mk(rows[:3] + rows[4:]), **CFG)
    for q in ("semudo muro", "fuboname", "zibapevi gaku"):
        assert ([(d, round(s, 9)) for d, s in BM25Engine(spark, root).topk(q, 10)]
                == [(d, round(s, 9)) for d, s in want.topk(q, 10)])


# ---------------------------------------------------------------- reader

COLS = ["term_id", "block_id", "payload"]


def _write(path: str, tids: list[int], **kw) -> None:
    tbl = pa.table({
        "term_id": pa.array(tids, pa.int64()),
        "block_id": pa.array(range(len(tids)), pa.int32()),
        "payload": pa.array([f"{os.path.basename(path)}:{i}".encode()
                             for i in range(len(tids))], pa.binary()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, **kw)


def _isin(d: str, ids: list[int], cols=COLS) -> list[dict]:
    return pads.dataset(d, format="parquet").to_table(
        filter=pads.field("term_id").isin(ids), columns=cols).to_pylist()


@pytest.fixture
def groups_read(monkeypatch):
    """The row-group lists read_terms decodes, one per file read."""
    seen = []
    orig = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **k):
        seen.append(list(row_groups))
        return orig(self, row_groups, *a, **k)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    return seen


def test_read_terms_term_spanning_row_groups(tmp_path, groups_read):
    d = str(tmp_path / "bucket=0")
    # row groups of 4: [1 1 2 2] [2 2 2 3] [5 5 9 9] [9 12]
    _write(os.path.join(d, "part-0.parquet"),
           [1, 1, 2, 2, 2, 2, 2, 3, 5, 5, 9, 9, 9, 12], row_group_size=4)
    for ids in ([2], [2, 9], [1, 12], [3, 5]):
        got = read_terms([d], ids, COLS).to_pylist()
        assert got == _isin(d, ids), ids
        assert got and {r["term_id"] for r in got} == set(ids)
    groups_read.clear()
    assert len(read_terms([d], [2], COLS)) == 5
    assert groups_read == [[0, 1]]  # groups 2 and 3 pruned by footer


def test_read_terms_absent_ids_and_missing_dir(tmp_path, groups_read):
    d = str(tmp_path / "bucket=0")
    _write(os.path.join(d, "part-0.parquet"), [10, 10, 20, 30, 40, 50],
           row_group_size=2)
    # row groups of 2: [10 10] [20 30] [40 50]
    for ids in ([], [0], [15], [25], [45], [99], [-5, 11, 35, 1000]):
        got = read_terms([d], ids, COLS)
        assert got.num_rows == 0 and got.column_names == COLS
        assert _isin(d, ids) == []
    # only 25 and 45 fall inside a group's footer [min, max], so only
    # those two groups are decoded (and filtered to nothing)
    assert groups_read == [[1], [2]]
    empty = read_terms([str(tmp_path / "bucket=7")], [10], ["term_id", "df"])
    assert empty.num_rows == 0 and empty.column_names == ["term_id", "df"]
    assert empty["term_id"].to_pylist() == []


def test_read_terms_multi_file_segment_dir(tmp_path):
    d = str(tmp_path / "bucket=1")
    _write(os.path.join(d, "part-00000.zstd.parquet"),
           [1, 3, 3, 5, 7, 7, 7, 9], row_group_size=3, compression="zstd")
    _write(os.path.join(d, "seg1-part-00000.parquet"),
           [2, 3, 7, 7, 8], row_group_size=2)
    _write(os.path.join(d, "seg2-part-00000.parquet"), [3, 100],
           row_group_size=1)
    # Spark's sidecar files are not data
    for side in ("_SUCCESS", ".part-00000.zstd.parquet.crc"):
        with open(os.path.join(d, side), "wb") as f:
            f.write(b"x")
    for ids in ([3], [7, 8], [1, 2, 9, 100], [4, 6]):
        got = read_terms([d], ids, COLS).to_pylist()
        assert got == _isin(d, ids), ids
    assert len(read_terms([d], [3], COLS)) == 4
    # a subset of columns, term_id not among them
    assert (read_terms([d], [7], ["payload"]).to_pylist()
            == _isin(d, [7], ["payload"]))


def test_read_terms_several_bucket_dirs(tmp_path):
    """A list of bucket dirs reads like the concatenation of each dir's
    is_in rows, in the order given; a missing dir is an empty bucket."""
    d0, d1 = str(tmp_path / "bucket=0"), str(tmp_path / "bucket=1")
    _write(os.path.join(d0, "part-0.parquet"), [2, 4, 4, 6, 8], row_group_size=2)
    _write(os.path.join(d0, "seg1-part-0.parquet"), [4, 10], row_group_size=1)
    _write(os.path.join(d1, "part-0.parquet"), [1, 3, 5, 5, 7], row_group_size=2)
    gone = str(tmp_path / "bucket=2")
    ids = [4, 5, 7, 10, 11]
    got = read_terms([d0, gone, d1], ids, COLS).to_pylist()
    assert got == _isin(d0, ids) + _isin(d1, ids)
    assert [r["term_id"] for r in got] == [4, 4, 4, 10, 5, 5, 7]


def test_read_terms_legacy_single_row_group(tmp_path):
    """The layout written before the row-group contract: one row group
    per file, snappy; also unsorted, which the reader must not assume."""
    d = str(tmp_path / "bucket=0")
    tids = [42, 7, 7, -3, 99, 42, 0, 7, 5]
    _write(os.path.join(d, "part-00000-legacy.snappy.parquet"), tids,
           compression="snappy")
    assert pq.ParquetFile(os.path.join(
        d, "part-00000-legacy.snappy.parquet")).metadata.num_row_groups == 1
    for ids in ([7], [42, -3], [5, 6], [1000]):
        assert read_terms([d], ids, COLS).to_pylist() == _isin(d, ids), ids
    assert [r["block_id"] for r in read_terms([d], [7, 42], COLS).to_pylist()] \
        == [0, 1, 2, 5, 7]


def test_legacy_layout_index_answers_like_oracle(built_index, oracle_index,
                                                 queries100, spark, tmp_path):
    """An index whose postings and term_stats files are in the
    pre-contract layout (one snappy row group per file) is read as is,
    and ranks exactly like the oracle — on the driver fast path and the
    distributed WAND batch."""
    src = built_index.store.root
    dst = str(tmp_path / "legacy")
    shutil.copytree(src, dst)
    eng = BM25Engine(spark, dst)
    for table_dir in (eng.store.postings_dir_for(0),
                      eng.store.term_stats_dir_for(0)):
        for f in _files(table_dir):
            tbl = pq.read_table(f)
            pq.write_table(tbl, f, compression="snappy")
            assert pq.ParquetFile(f).metadata.num_row_groups == 1
    # summary-routed queries have no oracle counterpart
    sample = [q for q in queries100
              if not q["text"].lower().startswith("summar")][:40]
    for q in sample:
        got = eng.topk(q["text"], q["k"])
        want = oracle_index.topk(q["text"], q["k"])
        assert [d for d, _ in got] == [d for d, _ in want], q["text"]
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)
    batch = [dict(q, k=10) for q in sample[:10]]
    res = eng.query_batch_wand(batch, k=10).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    for q in batch:
        got = [d for _, d in sorted(by_q.get(q["query_id"], []))]
        assert got == [d for d, _ in oracle_index.topk(q["text"], 10)], q["text"]
