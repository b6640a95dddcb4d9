"""Term-partitioned inverted-index store — the text-side sibling of the
Z2/Z3/XZ2 geo stores in plans/store.py: the same architecture (key
column + hash-prefix hive partitions -> partition pruning + pushed
filters) applied to the search-engine shape instead of the curve shape.
The reference's attribute index (geomesa-index-api AttributeIndex key
space: indexed value prefixes the row key so per-value scans touch one
key range) motivates the design; here the "row key" is the term and the
partition is a fixed-width prefix of its 64-bit hash, so a k-term query
opens at most k partitions of a corpus-sized index.

Postings carry (term, doc_id, tf, first_pos, positions) — enough for
term, boolean and phrase queries; positions are 0-based token offsets
from the engine's shared whitespace tokenization (the bm25/phrase
convention).

Scale notes: the build is one explode + one combining (term, doc)
count-and-min plus a collect_list bounded by per-doc term frequency;
everything shuffles on the (term, doc_id) pair — Zipf-heavy terms are
split by AQE skew handling, and the store write partitions by the hash
prefix so no single directory takes the head of the distribution.
Queries prune partitions driver-side from the query terms' own hashes
— the scan never lists directories the terms cannot live in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .store import open_store

__all__ = ["write_inverted_index", "append_inverted_index",
           "term_query", "phrase_query", "ranked_query"]


def _term_prefix(col, digits: int):
    """Fixed-width hex prefix of xxhash64(term) — the partition key.
    xxhash64 is a JVM built-in (zero Python); correctness never depends
    on the hash (it only places postings), so no SQL mirror is needed."""
    h = F.conv(F.xxhash64(col).cast("string"), 10, 16)
    # negative longs conv() to 16-digit two's-complement hex; pad short
    # positives so every prefix is the leading digits of 16 chars
    return F.substring(F.lpad(h, 16, "0"), 1, digits)


def write_inverted_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                         text_col: str = "text", digits: int = 2,
                         mode: str = "overwrite") -> None:
    """Build and write the term-partitioned inverted index: postings at
    ``path/postings`` plus the per-doc stats sidecar (doc_id, dl) at
    ``path/docstats`` — the corpus-level lengths BM25-family ranking
    needs. The tokenized frame is persisted across the two writes so
    the corpus is read and tokenized once per build.

    ``mode="append"`` is the incremental-crawl path (see
    :func:`append_inverted_index`): new batches land as additional
    files inside the same term_p partitions, so ingest cost scales
    with the BATCH, never the index. Appended doc_ids must be disjoint
    from the stored ones (the crawl-batch contract; run
    corpus.incremental_dedup upstream) — per-(term, doc) posting rows
    are whole, so disjoint ids make append exactly equal to a full
    rebuild, and compact_store-style file merging applies when small
    files accumulate."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       toks.alias("__toks__")).persist()
    (base.select("doc_id", F.size("__toks__").cast("long").alias("dl"))
         .write.mode(mode).parquet(f"{path}/docstats"))
    posting = (base.select("doc_id",
                           F.posexplode(F.col("__toks__"))
                            .alias("pos", "term"))
                   .filter(F.length("term") > 0)
                   .select("doc_id", F.col("pos").cast("long").alias("pos"),
                           "term")
                   .groupBy("term", "doc_id")
                   .agg(F.count("*").alias("tf"),
                        F.min("pos").alias("first_pos"),
                        F.array_sort(F.collect_list("pos")).alias("positions"))
                   .withColumn("term_p", _term_prefix(F.col("term"), digits)))
    (posting.write.mode(mode).partitionBy("term_p")
            .parquet(f"{path}/postings"))
    base.unpersist()


def term_query(spark, path: str, terms: list[str],
               digits: int = 2) -> DataFrame:
    """Pruned posting-list scan for ``terms`` (lowercased to match the
    build tokenization): partition pruning on the terms' own hash
    prefixes + a pushed term equality filter. Returns
    (term, doc_id, tf, first_pos, positions)."""
    if not terms:
        raise ValueError("term_query needs at least one term")
    lows = sorted({str(t).lower() for t in terms})
    # the prefixes as literal expressions, which the optimizer folds
    # into the partition filter, and a reused store DataFrame: building
    # the query starts no Spark job
    pfx = [_term_prefix(F.lit(t), digits) for t in lows]
    df = open_store(spark, f"{path}/postings")
    return (df.filter(F.col("term_p").isin(*pfx) & F.col("term").isin(lows))
              .select("term", "doc_id", "tf", "first_pos", "positions"))


def phrase_query(spark, path: str, phrase: str,
                 digits: int = 2) -> DataFrame:
    """Exact phrase match served FROM THE STORE (the point of keeping
    positions in the postings — `operators/text.phrase_search` computes
    the same answer from raw text; this path never touches a document):
    fetch the phrase terms' posting rows through the pruned
    :func:`term_query` scan, then verify adjacency with one k-way
    position-list intersection per candidate doc.

    Plan: the pruned scan returns <= k posting lists per doc; a doc
    survives only if it holds ALL k terms (count == k after a (doc)
    groupBy), and the adjacency check folds the FIRST term's position
    list against array_contains of the later lists shifted by their
    phrase offset — all built-in HOFs on rows of one doc, no
    explode-to-token shuffle, no Python. Returns (doc_id, n_matches,
    first_start) for docs containing the phrase, with n_matches the
    exact occurrence count and first_start the 0-based token offset.
    """
    toks = [t for t in str(phrase).lower().split() if t]
    if not toks:
        raise ValueError("phrase_query needs a non-empty phrase")
    post = term_query(spark, path, toks, digits=digits)
    # phrase offsets per distinct term (duplicate phrase terms keep
    # every offset they appear at); applied driver-side when the
    # adjacency predicate is built below
    offs = {}
    for i, t in enumerate(toks):
        offs.setdefault(t, []).append(i)
    rows = post.select("doc_id", "term", "positions")
    # per doc: the distinct-term count must equal len(offs); collect
    # (term -> positions) and fold starts from the first term's list
    per_doc = (rows.groupBy("doc_id")
                   .agg(F.count("*").alias("nt"),
                        F.map_from_entries(F.collect_list(
                            F.struct("term", "positions"))).alias("pl")))
    per_doc = per_doc.filter(F.col("nt") == len(offs))
    first = F.col("pl")[toks[0]]
    # candidate starts: positions p of toks[0] at phrase offset 0 such
    # that for EVERY (term, offset) pair, p + offset is in that term's
    # list (array_contains; the long cast matches the stored type)
    conds = None
    for t, os_ in offs.items():
        for o in os_:
            c = (lambda p, t=t, o=o: F.array_contains(
                F.col("pl")[t], p + F.lit(int(o)).cast("long")))
            conds = c if conds is None else (
                lambda p, a=conds, b=c: a(p) & b(p))
    starts = F.filter(first, lambda p: conds(p))
    out = (per_doc.select("doc_id",
                          F.size(starts).cast("long").alias("n_matches"),
                          F.element_at(starts, 1).alias("first_start"))
                  .filter(F.col("n_matches") > 0))
    return out


def ranked_query(spark, path: str, terms: list[str], k: int = 20,
                 k1: float = 1.2, b: float = 0.75,
                 digits: int = 2) -> DataFrame:
    """BM25 ranked retrieval served FROM the store — the full search-
    engine read path: candidate docs and term frequencies come from the
    pruned posting scan, document lengths from the docstats sidecar,
    corpus stats (N, Σdl, df_t) from two tiny aggregations broadcast
    back; no document text is ever read. Returns the global top-k
    (doc_id, dl, score32, rank).

    Bit-parity: scoring uses the SAME `text.bm25_score_expr` chain as
    the raw-text scorer (and therefore the shared _bm25_ctes oracle);
    absent terms contribute an exact +0.0, so posting-only evaluation
    is bit-identical to evaluating over the whole corpus. df_t comes
    from the posting row counts (exact integers, identical to the
    tf>0 count the raw-text path takes). Top-k is ``orderBy().limit``
    (TakeOrderedAndProject), rank over the k survivors — the
    geo_search convention.
    """
    from ..operators.text import bm25_score_expr

    if not terms:
        raise ValueError("ranked_query needs at least one term")
    if k < 1:
        raise ValueError(f"ranked_query needs k >= 1, got {k}")
    lows = [str(t).lower() for t in terms]
    post = term_query(spark, path, lows, digits=digits)
    stats = spark.read.parquet(f"{path}/docstats")
    # per-doc tf pivot in fixed term order (duplicate query terms share
    # one posting row, as in bm25_score they share one tf)
    piv = (post.groupBy("doc_id")
               .agg(*[F.coalesce(
                         F.max(F.when(F.col("term") == t, F.col("tf"))),
                         F.lit(0).cast("long")).alias(f"tf{i}")
                      for i, t in enumerate(lows)]))
    # df0..df{k-1} in ONE conditional aggregation over the postings
    # (each posting row is a distinct (term, doc), so the sum of the
    # term indicator IS the document frequency)
    dfs = post.agg(*[F.sum((F.col("term") == t).cast("long"))
                      .alias(f"df{i}") for i, t in enumerate(lows)])
    g = (stats.agg(F.count("*").alias("n"), F.sum("dl").alias("sdl"))
              .crossJoin(F.broadcast(dfs)))
    scored = (piv.join(stats, "doc_id")
                 .crossJoin(F.broadcast(g))
                 .select("doc_id", "dl",
                         bm25_score_expr(len(lows), k1=k1, b=b)
                         .cast("float").alias("score32")))
    order = [F.col("score32").desc(), F.col("doc_id").asc()]
    from pyspark.sql import Window
    topk = scored.filter(F.col("score32") > 0).orderBy(*order).limit(int(k))
    win = Window.partitionBy(F.lit(0)).orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(win))


def append_inverted_index(docs: DataFrame, path: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          digits: int = 2) -> None:
    """Incremental index maintenance: add a new crawl batch's postings
    and doc stats to an existing store. Ids must be disjoint from the
    stored corpus (posting rows are per-(term, doc) and whole, so
    disjoint-id append == full rebuild exactly); ingest cost scales
    with the batch."""
    write_inverted_index(docs, path, id_col=id_col, text_col=text_col,
                         digits=digits, mode="append")
