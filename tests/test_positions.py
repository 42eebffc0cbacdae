"""r4 positional sidecar: codec roundtrip, chain-match == regex
semantics (property), index-only phrase == match-then-verify phrase."""

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from super_rag_spark.codec import decode_positions_block, encode_positions_block
from super_rag_spark.index.positions import chain_match


@settings(max_examples=50, deadline=None)
@given(st.data())
def test_positions_codec_roundtrip(data):
    rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
    n = data.draw(st.integers(1, 200))
    docs = np.sort(rng.choice(2**40, size=n, replace=False))
    counts = rng.integers(1, 9, size=n)
    flat = np.concatenate([
        np.sort(rng.choice(5000, size=int(c), replace=False))
        for c in counts])
    d_enc, c_enc, p_enc = encode_positions_block(docs, counts, flat)
    d2, c2, f2 = decode_positions_block(d_enc, c_enc, p_enc, n)
    assert np.array_equal(d2, docs)
    assert np.array_equal(c2, counts)
    assert np.array_equal(f2, flat)


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_chain_match_equals_regex(data):
    """chain_match over positions must accept exactly the docs the
    verify REGEX accepts — the two phrase paths' shared contract."""
    rng = np.random.default_rng(data.draw(st.integers(0, 100_000)))
    vocab = ["a", "b", "c", "d"]
    toks = [vocab[i] for i in rng.integers(0, len(vocab),
                                           size=int(rng.integers(3, 40)))]
    plen = int(rng.integers(2, 4))
    phrase = [vocab[i] for i in rng.integers(0, len(vocab), size=plen)]
    slop = int(rng.integers(0, 3))

    # regex semantics (query/phrase.phrase_pattern on the padded stream)
    gap = r"( [a-z0-9]+){0,%d}" % slop
    pat = " " + (gap + " ").join(phrase) + " "
    jt = " " + " ".join(toks) + " "
    want = re.search(pat, jt) is not None

    pos = {t: np.array([i for i, x in enumerate(toks) if x == t],
                       dtype=np.int64) for t in set(phrase)}
    if any(len(pos[t]) == 0 for t in phrase):
        got = False
    else:
        got = chain_match([pos[t] for t in phrase], slop)
    assert got == want, (toks, phrase, slop)


def _corpus(spark):
    rows = [(f"https://p.example/{i}",
             ["alpha beta gamma delta", "alpha xx beta gamma",
              "alpha xx yy beta", "beta alpha delta",
              "alpha beta alpha beta"][i % 5] + f" pad{i} tail{i % 3}")
            for i in range(30)]
    return spark.createDataFrame(rows, "url string, text string")


@pytest.fixture(scope="module")
def pos_engine(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    idx = str(tmp_path_factory.mktemp("posidx") / "idx")
    docs = _corpus(spark)
    eng = BM25Engine(spark, idx).build(docs, positions=True,
                                       text_is_extracted=True)
    assert eng.store.has_positions()
    return eng


def test_index_only_phrase_equals_verify_path(spark, pos_engine):
    docs = _corpus(spark)
    for phrase, slop in [("alpha beta", 0), ("alpha beta", 1),
                         ("alpha beta", 2), ("beta gamma", 0),
                         ("alpha beta alpha", 0), ("beta alpha", 0),
                         ("alpha zzznope", 0)]:
        via_pos = pos_engine.phrase_topk(phrase, k=30, slop=slop)
        via_text = pos_engine.phrase_topk(phrase, docs, k=30, slop=slop)
        assert via_pos == via_text, (phrase, slop)


def test_distributed_positions_equals_verify_path(spark, pos_engine):
    from super_rag_spark.query.phrase import score_phrase_batch

    docs = _corpus(spark)
    phrases = [(0, "alpha beta"), (1, "beta gamma"), (2, "beta alpha")]
    for slop in (0, 1):
        via_pos = score_phrase_batch(spark, pos_engine.store, None,
                                     phrases, k=30, slop=slop)
        via_text = score_phrase_batch(spark, pos_engine.store, docs,
                                      phrases, k=30, slop=slop)
        key = ["query_id", "rank", "doc_id"]
        a = sorted(tuple(r) for r in via_pos.select(*key).collect())
        b = sorted(tuple(r) for r in via_text.select(*key).collect())
        assert a == b, slop


def test_positions_absent_raises_and_merge_degrades(spark, tmp_path):
    from pyspark.sql import functions as F

    from super_rag_spark.index.merge import merge_append
    from super_rag_spark.query.engine import BM25Engine

    idx = str(tmp_path / "noposidx")
    docs = _corpus(spark)
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    with pytest.raises(ValueError, match="positional sidecar"):
        eng.phrase_topk("alpha beta", k=5)

    idx2 = str(tmp_path / "mergeposidx")
    eng2 = BM25Engine(spark, idx2).build(docs, positions=True,
                                         text_is_extracted=True)
    assert eng2.store.has_positions()
    base = eng2.phrase_topk("alpha beta", k=30)
    delta = docs.limit(3).select(
        F.concat(F.lit("new://"), F.col("url")).alias("url"), "text")
    merge_append(spark, idx2, delta, mode="segment")
    # r5 (index/sidecars.py): the sidecar is CARRIED through the merge —
    # index-only phrase keeps working over the merged epoch
    assert eng2.store.has_positions()
    after = eng2.phrase_topk("alpha beta", k=50)
    assert {d for d, _ in base} <= {d for d, _ in after}
    # full test of carried-sidecar == fresh-build equality lives in
    # tests/test_sidecar_merge.py; the degradation contract (staging
    # sidecar lost -> has_positions() false, verify-path fallback) in
    # test_sidecar_merge.test_index_without_sidecars_merges_clean


def test_sidecar_dedup_guard_sees_duplicate_behind_missing_doc(spark, tmp_path):
    """One duplicated doc plus one missing doc keep the input row count
    equal to the manifest's n_docs; the positions and vocab builders
    must still keep a single copy of the duplicated doc (the guard
    compares distinct doc_ids, not raw row counts)."""
    from pyspark.sql import functions as F

    from super_rag_spark.analysis import doc_id_for_url, term_id_for
    from super_rag_spark.index.positions import (DECODED_POSITIONS_SCHEMA,
                                                 build_positions,
                                                 decode_positions_map_in_pandas)
    from super_rag_spark.index.storage import POSITIONS_SCHEMA
    from super_rag_spark.index.vocab import VOCAB_SCHEMA, build_vocab
    from super_rag_spark.query.engine import BM25Engine

    docs = _corpus(spark)
    idx = str(tmp_path / "dupidx")
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    rows = docs.orderBy("url").collect()
    dup, gone = rows[0], rows[-1]
    skewed = spark.createDataFrame(
        [tuple(r) for r in rows if r["url"] != gone["url"]] + [tuple(dup)],
        "url string, text string")
    assert skewed.count() == eng.manifest["n_docs"]
    build_positions(spark, skewed, idx)
    build_vocab(spark, skewed, idx)

    # dup's text ends "pad<i> tail<j>"; pad<i> occurs in no other doc
    pad = dup["text"].split()[-2]
    pos = (spark.read.schema(POSITIONS_SCHEMA)
           .parquet(eng.store.positions_dir_for(0)).drop("bucket")
           .mapInPandas(decode_positions_map_in_pandas,
                        schema=DECODED_POSITIONS_SCHEMA)
           .where(F.col("term_id") == term_id_for(pad)).collect())
    assert [(r["doc_id"], list(r["positions"])) for r in pos] == [
        (doc_id_for_url(dup["url"]), [dup["text"].split().index(pad)])]
    vdf = (spark.read.schema(VOCAB_SCHEMA)
           .parquet(eng.store.vocab_dir_for(0))
           .where((F.col("variant") == pad) & (F.col("term") == pad))
           .select("df").collect())
    assert [r["df"] for r in vdf] == [1]
