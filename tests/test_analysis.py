import math

from super_rag_spark.analysis import (K1, B, bm25_term_score, doc_id_for_url,
                                      idf, salt_for_doc_id, tokenize)


def test_tokenize():
    assert tokenize("Hello, World! x2") == ["hello", "world", "x2"]
    assert tokenize("") == []
    assert tokenize("  a--b__c  ") == ["a", "b", "c"]  # _ is not [a-z0-9]


def test_doc_id_range_and_determinism():
    d = doc_id_for_url("https://site0.example/p/00000000")
    assert 0 <= d < 2**60
    assert d == doc_id_for_url("https://site0.example/p/00000000")


def test_salt_contiguous():
    # top-bit salting gives contiguous, ordered ranges
    ids = sorted(doc_id_for_url(f"u{i}") for i in range(1000))
    salts = [salt_for_doc_id(d) for d in ids]
    assert salts == sorted(salts)
    assert 0 <= min(salts) and max(salts) < 16


def test_bm25_hand_computed():
    # N=10, df=2, tf=3, dl=100, avgdl=80
    expect_idf = math.log((10 - 2 + 0.5) / (2 + 0.5) + 1)
    expect = expect_idf * (3 * (K1 + 1)) / (3 + K1 * (1 - B + B * 100 / 80))
    assert abs(bm25_term_score(3, 100, 80.0, 10, 2) - expect) < 1e-15
    assert idf(10, 2) == expect_idf
    # idf positive even for df == N
    assert idf(10, 10) > 0


def test_spark_doc_id_expr_matches_python(spark):
    from super_rag_spark.index.build import doc_id_expr

    urls = [f"https://site{i}.example/p/{i:08d}" for i in range(50)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["doc_id"] for r in df.select("url", doc_id_expr().alias("doc_id")).collect()}
    for u in urls:
        assert got[u] == doc_id_for_url(u)


def test_spark_tokens_expr_matches_python(spark):
    from super_rag_spark.index.build import tokens_expr

    texts = ["Hello, World! x2", "", "  a--b  ", "Ümlaut straße 42", "a\nb\tc"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["toks"] for r in df.select(tokens_expr().alias("toks")).collect()]
    assert got == [tokenize(t) for t in texts]


def _xxh64_probe_strings() -> list[str]:
    """Every length 0..40 (covers the <4, 4..7, 8..31 and >=32-byte
    XXH64 branches) over mixed ASCII, plus multi-byte UTF-8 terms whose
    byte length differs from their character count."""
    import random

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    out = ["".join(rng.choice(alpha) for _ in range(n)) for n in range(41)]
    out += ["a" * n for n in range(41)]
    out += ["é", "straße", "ümlaut", "日本語", "日本語テキスト検索エンジン",
            "😀", "a😀b", "Ωμέγα", "x" * 31 + "é", "é" * 16, "é" * 20,
            "日" * 11, "😀" * 9, "\u0000", "tab\tnew\nline"]
    return out


def test_xxh64_matches_spark_xxhash64(spark):
    """analysis.term_id_for (the pure-Python XXH64 mirror) against the
    JVM's xxhash64() through term_id_expr, bit for bit."""
    from super_rag_spark.analysis import term_id_for, xxh64
    from super_rag_spark.index.build import term_id_expr

    strs = _xxh64_probe_strings()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)],
                               "i int, term string")
    got = {r["i"]: r["tid"] for r in
           df.select("i", term_id_expr("term").alias("tid")).collect()}
    for i, s in enumerate(strs):
        assert got[i] == term_id_for(s), (i, s)
        assert got[i] % 2**64 == xxh64(s.encode("utf-8"), 42), (i, s)


def test_term_ids_route_to_their_bucket(built_index):
    """Round trip through a built index: every term_id stored in
    term_stats bucket=b satisfies term_id % n_buckets == b (the routing
    the driver computes from term_id_for), and the term reader finds it
    there, with the df the table holds."""
    import os

    import pyarrow.parquet as pq

    from super_rag_spark.index.storage import bucket_of_term_id, read_terms

    n_buckets = int(built_index.manifest["n_buckets"])
    tdir = built_index.store.term_stats_dir_for(0)
    seen = 0
    for b in range(n_buckets):
        bdir = os.path.join(tdir, f"bucket={b}")
        tbl = pq.read_table(bdir)
        ids = tbl["term_id"].to_pylist()
        assert all(bucket_of_term_id(t, n_buckets) == b for t in ids)
        got = read_terms([bdir], ids, ["term_id", "df"])
        assert (sorted(zip(got["term_id"].to_pylist(), got["df"].to_pylist()))
                == sorted(zip(ids, tbl["df"].to_pylist())))
        seen += len(ids)
    assert seen > 1000
    for term in ("semudo", "muro", "fuboname"):
        assert built_index._term_dfs([term])[term] > 0
