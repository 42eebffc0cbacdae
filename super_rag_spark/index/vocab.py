"""Opt-in VOCABULARY sidecar: typo-tolerant (fuzzy) term matching.

The postings pipeline is keyed on int64 term_id hashes — deliberately
string-free (memory: ~3x build cost otherwise) — which means the index
alone cannot answer "what terms are CLOSE to this misspelled one".
This sidecar stores the SymSpell-style deletion neighborhood of the
corpus vocabulary: for every vocab term, one row per single-character
DELETION variant (plus the term itself). Two strings within Levenshtein
distance 1 always share a variant (equal / insert / delete directly;
substitution through the deletion at the differing position), so fuzzy
lookup is a plain EQUI-JOIN on the variant string followed by an exact
levenshtein verify — no all-pairs scan, no fragile first-letter
blocking, the same device SymSpell/industrial spell-correctors use.

Size: |vocab| x (avg term length + 1) rows of short strings — the
vocabulary is tiny next to the corpus (even web-scale vocab ~10^8-10^9
rows is an ordinary table). Partitioned by bucket =
term_id(variant) % n_buckets and variant-sorted within files, so a
driver lookup prunes buckets and row groups exactly like postings.

Lifecycle mirrors the positions sidecar: built per epoch (build_vocab
after build_index / `build_index.py --vocab`) and FOLDED through
merges (r5, index/sidecars.py): df_new = df_old + df_staging -
df_removed is an associative (term, df) merge that never rescans the
corpus — the variant table regenerates from the merged vocabulary
(O(|vocab|) short rows). A crash-resume that lost the staging sidecar
degrades: has_vocab() turns false, fuzzy queries raise a clear error
until build_vocab re-runs.

No reference analog (super-rag's dense retrieval gets fuzziness from
embeddings); this is the sparse-engine equivalent of Lucene's fuzzy
term queries, re-expressed as Spark joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import sidecar_tokens, term_id_expr
from .storage import IndexStorage

VOCAB_SCHEMA = "variant string, term string, df long, bucket int"


def deletion_variants_expr(col: str):
    """term -> array of the term plus every single-char deletion
    (deduped). Pure Catalyst (transform over sequence + substring)."""
    return F.expr(
        f"array_union(array({col}), "
        f"transform(sequence(1, length({col})), "
        f"i -> concat(substring({col}, 1, i - 1), "
        f"substring({col}, i + 1, length({col})))))"
    )


def deletion_variants(term: str) -> list[str]:
    """Python mirror of deletion_variants_expr (driver-side lookups)."""
    out = [term] + [term[:i] + term[i + 1:] for i in range(len(term))]
    seen: set[str] = set()
    uniq = []
    for v in out:
        if v not in seen:
            seen.add(v)
            uniq.append(v)
    return uniq


def deletion_neighborhood(term: str, depth: int) -> list[str]:
    """All strings reachable by deleting up to ``depth`` characters
    (the term itself included). depth=1 == deletion_variants. The
    SymSpell guarantee generalizes: levenshtein(a, b) <= d implies a
    depth-d deletion of a equals a depth-d deletion of b, so lookup at
    radius d needs the query's depth-d neighborhood against an index
    built with depth >= d."""
    frontier = {term}
    seen = {term}
    for _ in range(depth):
        nxt = set()
        for v in frontier:
            for i in range(len(v)):
                w = v[:i] + v[i + 1:]
                if w not in seen:
                    seen.add(w)
                    nxt.add(w)
        frontier = nxt
    return sorted(seen)


def vocab_depth(store: IndexStorage, epoch: int) -> int:
    """Deletion-neighborhood depth this epoch's sidecar was built with
    (the ``_depth`` marker written by write_vocab_table; pre-marker
    sidecars are depth 1)."""
    import os

    p = os.path.join(store.vocab_dir_for(epoch), "_depth")
    if not os.path.exists(p):
        return 1
    with open(p) as f:
        return int(f.read().strip())


def build_vocab(spark: SparkSession, docs_df: DataFrame, index_dir: str, *,
                text_is_extracted: bool = True,
                extract_mode: str = "html", depth: int = 1) -> IndexStorage:
    """Build the vocabulary sidecar for the CURRENT epoch of an
    existing index. ``docs_df`` must be the corpus build_index saw;
    df(term) here equals the index's term_stats df (same duplicate-url
    survivor guard as build_index/build_positions)."""
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    n_buckets = int(manifest["n_buckets"])
    epoch = int(manifest["epoch"])

    toks = sidecar_tokens(docs_df, text_is_extracted=text_is_extracted,
                          extract_mode=extract_mode)
    vocab = (
        toks.select("doc_id",
                    F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    write_vocab_table(vocab, store, epoch, n_buckets, depth=depth)
    return store


def write_vocab_table(vocab: DataFrame, store: IndexStorage, epoch: int,
                      n_buckets: int, depth: int = 1) -> None:
    """(term, df) -> the sidecar's variant table for ``epoch``: explode
    deletion variants, bucket by term_id(variant), variant-sorted files
    (pyarrow point lookups prune buckets + row groups). Shared by the
    fresh build and the incremental merge fold (index/sidecars.py).

    ``depth`` (r5): deletion-neighborhood depth. depth=2 enables
    fuzzy_topk(max_dist=2) at ~(1 + L + L(L-1)/2)x vocab rows (still
    vocabulary-sized, not corpus-sized); each extra level is one more
    explode over the previous frontier — a second small shuffle, never
    a nested-lambda Catalyst expression (which would re-inline the
    level-1 chain per element). Recorded in a ``_depth`` marker so
    queries and merge folds know the guarantee."""
    if depth < 1:
        raise ValueError("depth must be >= 1")
    variants = vocab.select(
        "term", "df",
        F.explode(deletion_variants_expr("term")).alias("variant"))
    for _ in range(depth - 1):
        variants = (variants.select(
            "term", "df",
            F.explode(deletion_variants_expr("variant")).alias("variant"))
            .dropDuplicates(["term", "variant"]))
    variants = (
        variants
        .withColumn("bucket",
                    F.pmod(term_id_expr("variant"),
                           F.lit(n_buckets)).cast("int"))
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("variant")
        .select("variant", "term", "df", "bucket")
    )
    variants.write.mode("overwrite").partitionBy("bucket").parquet(
        store.vocab_dir_for(epoch))
    import os

    with open(os.path.join(store.vocab_dir_for(epoch), "_depth"), "w") as f:
        f.write(str(depth))


def levenshtein(a: str, b: str) -> int:
    """Classic Levenshtein (no transposition) — must agree with Spark's
    F.levenshtein and DuckDB's levenshtein() (tests cross-check)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return max(la, lb)
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ai = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ai != b[j - 1]))
        prev = cur
    return prev[lb]


def suggest_batch(spark: SparkSession, store: IndexStorage,
                  prefixes: list[tuple[int, str]], k: int = 10) -> DataFrame:
    """Prefix AUTOCOMPLETE over the vocabulary sidecar: for each
    (prefix_id, prefix), the top-``k`` vocabulary terms starting with
    it, ranked by df DESC then term — the suggest-as-you-type surface
    every search box needs. The sidecar's identity rows
    (variant == term) ARE the vocabulary, so this is one filtered scan
    + a per-prefix window; at web scale a prefix-ordered vocabulary
    copy would serve point lookups, which this layout supports by
    re-sorting once. Returns (prefix_id, rank, term, df)."""
    from pyspark.sql import Window

    manifest = store.read_manifest()
    epoch = int(manifest["epoch"])
    if not store.has_vocab(epoch):
        raise ValueError(
            "vocabulary sidecar absent for the current epoch — build "
            "with vocab=True / run build_vocab")
    p = spark.createDataFrame(prefixes, "prefix_id int, prefix string")
    vocab = (spark.read.schema(VOCAB_SCHEMA)
             .parquet(store.vocab_dir_for(epoch))
             .where(F.col("variant") == F.col("term"))
             .select("term", "df"))
    cand = vocab.join(
        F.broadcast(p), F.col("term").startswith(F.col("prefix")))
    w = Window.partitionBy("prefix_id").orderBy(
        F.col("df").desc(), F.col("term").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("prefix_id", "rank", "term", "df"))


def correct_terms_batch(spark: SparkSession, store: IndexStorage,
                        terms: list[str],
                        max_dist: int = 1) -> DataFrame:
    """DISTRIBUTED correction for a term batch: explode the query
    terms' deletion variants (to ``max_dist`` depth — must not exceed
    the sidecar's own depth), equi-join the sidecar's variant rows
    (bucket + variant pruned), levenshtein<=max_dist verify, pick the
    best candidate per term by (distance, df DESC, term). Returns
    (qterm, term, dist, df) — one row per correctable input term."""
    from pyspark.sql import Window

    from .storage import bucket_of_term_id

    manifest = store.read_manifest()
    epoch = int(manifest["epoch"])
    n_buckets = int(manifest["n_buckets"])
    if not store.has_vocab(epoch):
        raise ValueError(
            "vocabulary sidecar absent for the current epoch — build "
            "with vocab=True / run build_vocab")
    depth = vocab_depth(store, epoch)
    if max_dist > depth:
        raise ValueError(
            f"max_dist={max_dist} exceeds the sidecar's deletion-"
            f"neighborhood depth {depth}")
    from ..analysis import term_id_for

    qrows = [(t, v) for t in sorted(set(terms))
             for v in deletion_neighborhood(t, max(max_dist, 1))]
    qv = spark.createDataFrame(qrows, "qterm string, variant string")
    buckets = sorted({bucket_of_term_id(term_id_for(v), n_buckets)
                      for _, v in qrows})
    vv = (spark.read.schema(VOCAB_SCHEMA)
          .parquet(store.vocab_dir_for(epoch))
          .where(F.col("bucket").isin(buckets)))
    cand = (vv.join(F.broadcast(qv), "variant")
            .select("qterm", "term", "df").distinct()
            .withColumn("dist", F.levenshtein("qterm", "term"))
            .where(F.col("dist") <= max_dist))
    w = Window.partitionBy("qterm").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))
