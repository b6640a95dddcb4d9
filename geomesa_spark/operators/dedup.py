"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators over a documents table (id + text). All
hot-path math is either JVM built-ins or Arrow-batched numpy; shuffles move
only (key, id) pairs — never document text.

Scale notes (100 TB corpus):
- exact: shuffle key is a 256-bit content hash, not the text; map-side
  partial aggregation collapses duplicates before the shuffle.
- minhash: signature computation is embarrassingly parallel; the band
  buckets are the only shuffle key. Hot buckets (boilerplate pages) are
  the skew risk -> ``max_bucket`` caps candidate fanout per bucket, the
  same guard the reference applies to scan ranges
  (geomesa-index-api QueryProperties.scala:24 range cap).
- verification joins re-read text but only for candidate pairs (a tiny
  fraction of n^2).
- the self-join intermediates persist() for the query's lifetime (the
  signature UDF would otherwise run 3-4x); after materializing the
  result, call ``release(result_df)`` to unpersist them (long-lived
  services running many corpora would otherwise pin executor storage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

__all__ = [
    "exact_dedup", "content_digest", "minhash_signature_udf", "minhash_dedup_pairs",
    "simhash_udf", "simhash_dedup_pairs", "ngram_jaccard_pairs",
    "dedup_clusters", "shingle_mults", "release",
    "winnow_fingerprints", "winnow_pairs", "containment_pairs",
    "edit_pairs",
]


from .cache import attach_cached as _attach_cached, release  # noqa: F401

MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, id_col: str, *content_cols: str) -> DataFrame:
    """Keep one row per distinct content: returns (content_hash, keep_id, dup_count).

    keep_id = min(id) per group (deterministic winner).
    """
    key = content_digest(*content_cols)
    return (df.withColumn("content_hash", key)
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count")))


def content_digest(*content_cols: str) -> "F.Column":
    """sha256 content digest — THE exact-dedup key convention, shared by
    ``exact_dedup`` and ``corpus.incremental_dedup`` (an index built by
    one is probed by the other).

    Single column: sha2(value) directly (null -> null digest; null-
    content rows group under the null key). Multiple columns: each value
    is length-prefixed before joining, so values shifting across null
    or adjacent columns cannot collide — concat_ws alone would give
    ('x', NULL) and (NULL, 'x') the same bytes and silently drop a
    distinct document as a duplicate.
    """
    cols = [F.col(c).cast("string") for c in content_cols]
    if len(cols) == 1:
        return F.sha2(cols[0], 256)
    parts = [F.concat_ws(":",
                         F.coalesce(F.length(c).cast("string"), F.lit("-1")),
                         F.coalesce(c, F.lit("")))
             for c in cols]
    return F.sha2(F.concat_ws("\x1f", *parts), 256)


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_MIX = (np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F),
        np.uint64(0x165667B19E3779F9))
_EMPTY_DOC_HASH = np.uint64(0x27D4EB2F165667C5)


def _fnv1a_batch(words: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a over an object array of strings: one pass per
    byte POSITION (max word length), not per byte — zero per-row Python."""
    if len(words) == 0:
        return np.empty(0, dtype=np.uint64)
    enc = np.char.encode(words.astype(str), "utf-8")
    padded = enc.astype(np.bytes_)  # S{maxlen}, NUL-padded
    width = padded.dtype.itemsize
    mat = padded.view(np.uint8).reshape(len(words), width)
    h = np.full(len(words), _FNV_OFFSET, dtype=np.uint64)
    for j in range(width):
        col = mat[:, j]
        live = col != 0
        if not live.any():
            break
        h[live] = (h[live] ^ col[live].astype(np.uint64)) * _FNV_PRIME
    return h


def shingle_mults(k: int) -> list[np.uint64]:
    """The k position-dependent odd multipliers of the shingle mix
    (exported so SQL oracles can inline them as literals)."""
    m = int(_MIX[0])
    out = [np.uint64(m)]
    for _ in range(1, k):
        m = (m * int(_MIX[1]) | 1) & 0xFFFFFFFFFFFFFFFF
        out.append(np.uint64(m))
    return out


def _batch_shingles(texts: pd.Series, k: int):
    """All texts of an Arrow batch -> (per-doc-distinct shingle hashes
    concatenated, per-doc segment starts, doc count, null mask).

    Fully vectorized: pandas ``factorize`` dedups words C-side, FNV-1a
    hashes each distinct word once (per-position passes), k-word shingle
    hashes are a strided multiply-xor mix, per-doc distinct via lexsort.
    Every doc contributes >= 1 shingle (empty docs get a constant), so
    ``reduceat`` segments are never empty.
    """
    nulls = texts.isna().to_numpy()
    word_lists = [([] if t is None else t.split()) for t in texts]
    wc = np.array([len(w) for w in word_lists], dtype=np.int64)
    ndocs = len(word_lists)
    flat = np.array([w for ws in word_lists for w in ws], dtype=object)

    if len(flat):
        codes, uniques = pd.factorize(flat)
        W = _fnv1a_batch(np.asarray(uniques, dtype=object))[codes]
    else:
        W = np.empty(0, dtype=np.uint64)

    wstart = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(wc, out=wstart[1:])
    doc_of_word = np.repeat(np.arange(ndocs), wc)

    out_counts = np.where(wc >= k, wc - k + 1, 1)
    out_start = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(out_counts, out=out_start[1:])
    sh_all = np.empty(out_start[-1], dtype=np.uint64)

    # full k-windows (window entirely inside one doc); one DISTINCT odd
    # multiplier per position (reusing a multiplier would make the hash
    # order-insensitive and self-canceling for repeated words)
    mults = shingle_mults(k)
    if len(W) >= k:
        mix = W[:len(W) - k + 1] * mults[0]
        for j in range(1, k):
            mix = mix ^ (W[j:len(W) - k + 1 + j] * mults[j])
        mix = mix * _FNV_PRIME
        p = np.arange(len(W) - k + 1)
        d = doc_of_word[p]
        valid = d == doc_of_word[p + k - 1]
        pv, dv = p[valid], d[valid]
        sh_all[out_start[dv] + (pv - wstart[dv])] = mix[valid]

    # short docs (0 < wc < k): same position-dependent mix over the whole
    # doc (xor of W[j] * mults[j]) so word identity AND order feed the
    # hash — a shared multiplier would be self-canceling for repeated
    # words and order-insensitive for permutations
    short = np.where((wc > 0) & (wc < k))[0]
    if len(short):
        marr = np.array(mults, dtype=np.uint64)
        mixed = np.array([np.bitwise_xor.reduce(W[wstart[di]:wstart[di + 1]] * marr[:wc[di]])
                          for di in short], dtype=np.uint64)
        sh_all[out_start[short]] = mixed * _FNV_PRIME
    empty = np.where(wc == 0)[0]
    if len(empty):
        sh_all[out_start[empty]] = _EMPTY_DOC_HASH

    # per-doc distinct (sorted within doc)
    doc_of_sh = np.repeat(np.arange(ndocs), out_counts)
    order = np.lexsort((sh_all, doc_of_sh))
    ds, ss = doc_of_sh[order], sh_all[order]
    keep = np.ones(len(ss), dtype=bool)
    keep[1:] = (ds[1:] != ds[:-1]) | (ss[1:] != ss[:-1])
    ss, ds = ss[keep], ds[keep]
    kept_counts = np.bincount(ds, minlength=ndocs)
    starts = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(kept_counts, out=starts[1:])
    return ss, starts, ndocs, nulls


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Single-doc helper (tests/tools): distinct shingle hashes."""
    ss, starts, _, _ = _batch_shingles(pd.Series([text]), k)
    return ss[starts[0]:starts[1]]


def minhash_signature_udf(num_hashes: int = 64, shingle_k: int = 3, seed: int = 42):
    """pandas UDF: text -> array<long> minhash signature.

    Multiply-shift universal hashing: h_i(x) = (a_i * x) with odd a_i over
    uint64 wraparound — fully vectorized (no arbitrary-precision ints),
    the standard fast MinHash family.
    """
    rng = np.random.RandomState(seed)
    a = (rng.randint(0, 1 << 62, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        sh, starts, ndocs, nulls = _batch_shingles(texts, shingle_k)
        sigs = np.empty((ndocs, num_hashes), dtype=np.int64)
        seg = starts[:-1]
        for i in range(num_hashes):  # one reduceat pass per hash fn
            sigs[:, i] = np.minimum.reduceat(a[i] * sh, seg).astype(np.int64)
        out = [None if nulls[d] else sigs[d].tolist() for d in range(ndocs)]
        return pd.Series(out, dtype=object)

    return sig


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 64, bands: int = 16, shingle_k: int = 3,
    threshold: float = 0.7, seed: int = 42, max_bucket: int = 200,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard) via MinHash banding.

    est_jaccard = fraction of matching signature components (the unbiased
    MinHash estimator), computed on the candidate pairs surfaced by the
    band-bucket join and thresholded.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature_udf(num_hashes, shingle_k, seed)
    # persist: referenced by both join sides and the final verify — without
    # it the signature UDF (the expensive stage) runs three times
    with_sig = df.select(F.col(id_col).alias("__id__"),
                         sig(F.col(text_col)).alias("__sig__")).persist()

    band_cols = [
        F.xxhash64(*[F.element_at("__sig__", b * rows_per_band + i + 1)
                     for i in range(rows_per_band)], F.lit(b)).alias("__bucket__")
        for b in range(bands)
    ]
    # narrow (id, bucket) rows only — signatures never travel through the
    # skew-cap window or the bucket join
    buckets = with_sig.select(
        "__id__", F.explode(F.array(*band_cols)).alias("__bucket__"))

    # cap pathological buckets (boilerplate skew guard)
    wb = Window.partitionBy("__bucket__").orderBy("__id__")
    buckets = (buckets.withColumn("__bn__", F.row_number().over(wb))
                      .filter(F.col("__bn__") <= max_bucket).drop("__bn__"))

    l = buckets.select(F.col("__id__").alias("id_a"), "__bucket__")
    r = buckets.select(F.col("__id__").alias("id_b"), "__bucket__")
    cand = (l.join(r, on="__bucket__").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))

    sa = with_sig.select(F.col("__id__").alias("id_a"), F.col("__sig__").alias("__sa__"))
    sb = with_sig.select(F.col("__id__").alias("id_b"), F.col("__sig__").alias("__sb__"))
    pairs = cand.join(sa, on="id_a").join(sb, on="id_b")
    est = (F.size(F.filter(F.zip_with("__sa__", "__sb__", lambda x, y: x == y),
                           lambda m: m)) / F.lit(float(num_hashes)))
    out = (pairs.withColumn("est_jaccard", est)
                .filter(F.col("est_jaccard") >= threshold)
                .select("id_a", "id_b", "est_jaccard"))
    return _attach_cached(out, with_sig)


def simhash_udf(shingle_k: int = 2):
    """pandas UDF: text -> 64-bit SimHash (long)."""

    @F.pandas_udf(LongType())
    def sim(texts: pd.Series) -> pd.Series:
        sh, starts, ndocs, nulls = _batch_shingles(texts, shingle_k)
        seg = starts[:-1]
        counts = np.diff(starts)
        acc = np.zeros(ndocs, dtype=np.uint64)
        for b in range(64):  # one reduceat pass per bit
            ones = np.add.reduceat(((sh >> np.uint64(b)) & np.uint64(1)).astype(np.int64), seg)
            acc |= (2 * ones > counts).astype(np.uint64) << np.uint64(b)
        vals = acc.astype(np.int64)
        out = [None if nulls[d] else int(vals[d]) for d in range(ndocs)]
        return pd.Series(out, dtype=object)

    return sim


def simhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        max_hamming: int = 3, shingle_k: int = 2,
                        bands: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into
    ``bands`` chunks, candidates share at least one exact chunk, verify
    hamming.

    Recall is EXACT iff ``bands > max_hamming`` (pigeonhole: a pair
    differing in <= h bits cannot differ in all h+1 chunks) — the
    default ``bands = max_hamming + 1`` guarantees it. Passing a smaller
    ``bands`` (e.g. the classic 4x16-bit split) trades recall beyond
    ``bands - 1`` bit flips for wider chunk keys / fewer candidates —
    the Manku et al. 2007 block trade-off; at web scale prefer raising
    shingle quality over shrinking chunks below ~8 bits (a w-bit chunk
    key buckets n docs into 2^w groups, so candidate volume grows as
    bands * n^2 / 2^w).
    """
    c = int(bands) if bands is not None else int(max_hamming) + 1
    if not 1 <= c <= 64:
        raise ValueError(f"bands must be in [1, 64], got {c}")
    w = 64 // c
    sim = simhash_udf(shingle_k)
    # persist: the chunk explode references this from both join sides
    s = df.select(F.col(id_col).alias("__id__"), sim(F.col(text_col)).alias("__h__")).persist()

    def _chunk(i: int):
        start = i * w
        width = w if i < c - 1 else 64 - start
        mask = (1 << width) - 1 if width < 64 else -1
        return F.struct(
            F.lit(i).alias("c"),
            F.shiftright("__h__", start).bitwiseAND(F.lit(mask)).alias("v"))

    chunks = s.select(
        "__id__", "__h__",
        F.explode(F.array(*[_chunk(i) for i in range(c)])).alias("__k__"))
    l = chunks.select(F.col("__id__").alias("id_a"), F.col("__h__").alias("__ha__"), "__k__")
    r = chunks.select(F.col("__id__").alias("id_b"), F.col("__h__").alias("__hb__"), "__k__")
    cand = (l.join(r, on="__k__").filter(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("__ha__").bitwiseXOR(F.col("__hb__")))
    out = (cand.withColumn("hamming", ham)
               .filter(F.col("hamming") <= max_hamming)
               .select("id_a", "id_b", "hamming"))
    return _attach_cached(out, s)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        prefix_filter: bool = False,
                        broadcast_verify: bool = False) -> DataFrame:
    """Exact n-gram (word) Jaccard similarity join via inverted index.

    Classic exact algorithm: explode distinct shingles, self-join on the
    shingle (the shuffle key is the shingle hash), count common shingles
    per pair, jaccard = common / (|A| + |B| - common). Returns
    (id_a < id_b, jaccard). All built-in expressions, no Python.

    prefix_filter=True applies the PPJoin-style prefix filter (exact, no
    false negatives): shingles sort by a global canonical order and only
    the first ``n_i - ceil(t * n_i) + 1`` per document enter the inverted
    index; candidate pairs then verify the true jaccard via an
    array_intersect join-back. Dramatically fewer candidates for high
    thresholds — the scale path; pointless below t ~ 0.5.
    """
    words = F.split(F.col(text_col), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))))
    base = df.select(F.col(id_col).alias("__id__"), grams.alias("__g__")) \
             .withColumn("__n__", F.size("__g__"))

    t = float(threshold)
    # J(A,B) >= t  =>  |common| <= min  and  common >= t*(na+nb-common)
    #   => min(na,nb) >= t * max(na,nb)              (length filter)
    #   => common >= ceil(t/(1+t) * (na+nb))         (overlap bound alpha)
    length_ok = (F.least(F.col("__na__"), F.col("__nb__"))
                 >= F.greatest(F.col("__na__"), F.col("__nb__")) * F.lit(t))
    alpha = F.ceil((F.col("__na__") + F.col("__nb__")) * F.lit(t / (1.0 + t)))

    if prefix_filter:
        # persist: referenced by the prefix index (twice) and the verify
        # join-back (twice) — otherwise the gram arrays build four times
        hashed = base.withColumn("__h__", F.array_sort(
            F.transform("__g__", lambda g: F.xxhash64(g)))).drop("__g__").persist()
        prefix_len = (F.col("__n__")
                      - F.ceil(F.col("__n__") * F.lit(t)).cast("int")
                      + F.lit(1))
        ex = (hashed.select("__id__", "__n__",
                            F.posexplode(F.slice("__h__", 1, prefix_len))
                             .alias("__p__", "__gram__")))
        l = ex.select(F.col("__id__").alias("id_a"), F.col("__n__").alias("__na__"),
                      F.col("__p__").alias("__pa__"), "__gram__")
        r = ex.select(F.col("__id__").alias("id_b"), F.col("__n__").alias("__nb__"),
                      F.col("__p__").alias("__pb__"), "__gram__")
        # PPJoin positional bound: overlap via this match <= min remaining
        # suffix lengths (positions 0-based) — drop pairs that cannot reach
        # alpha even in the best case. Exact: a qualifying pair's first
        # common prefix token always passes.
        pos_ok = (F.least(F.col("__na__") - F.col("__pa__"),
                          F.col("__nb__") - F.col("__pb__")) >= alpha)
        cand = (l.join(r, on="__gram__")
                 .filter((F.col("id_a") < F.col("id_b")) & length_ok & pos_ok)
                 .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))
        ga = hashed.select(F.col("__id__").alias("id_a"),
                           F.col("__h__").alias("__ha__"), F.col("__n__").alias("__na__"))
        gb = hashed.select(F.col("__id__").alias("id_b"),
                           F.col("__h__").alias("__hb__"), F.col("__n__").alias("__nb__"))
        if broadcast_verify:
            ga, gb = F.broadcast(ga), F.broadcast(gb)
        verified = (cand.join(ga, on="id_a").join(gb, on="id_b")
                        .withColumn("__common__",
                                    F.size(F.array_intersect("__ha__", "__hb__"))))
        jac = F.col("__common__") / (F.col("__na__") + F.col("__nb__") - F.col("__common__"))
        out = (verified.withColumn("jaccard", jac)
                       .filter(F.col("jaccard") >= threshold)
                       .select("id_a", "id_b", "jaccard"))
        return _attach_cached(out, hashed)

    base = base.persist()  # referenced by both sides of the self-join
    ex = base.select("__id__", "__n__",
                     F.explode("__g__").alias("__gram__")) \
             .withColumn("__gram__", F.xxhash64("__gram__"))
    l = ex.select(F.col("__id__").alias("id_a"), F.col("__n__").alias("__na__"), "__gram__")
    r = ex.select(F.col("__id__").alias("id_b"), F.col("__n__").alias("__nb__"), "__gram__")
    common = (l.join(r, on="__gram__")
               .filter((F.col("id_a") < F.col("id_b")) & length_ok)
               .groupBy("id_a", "id_b", "__na__", "__nb__")
               .agg(F.count("*").alias("__common__")))
    jac = F.col("__common__") / (F.col("__na__") + F.col("__nb__") - F.col("__common__"))
    out = (common.withColumn("jaccard", jac)
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))
    return _attach_cached(out, base)


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, threshold: float = 0.8,
                      max_df: int | None = None) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment
    ``c(A,B) = |A ∩ B| / |A|`` (the overlap coefficient family) — the
    quote/boilerplate-inclusion detector Jaccard structurally misses: a
    200-word doc copied verbatim inside a 20k-word page has Jaccard
    ~0.01 but containment 1.0. Broder's resemblance-vs-containment
    distinction (Broder 1997, "On the resemblance and containment of
    documents").

    Returns (id_a < id_b, common, cont_a, cont_b) for pairs where
    ``max(cont_a, cont_b) >= threshold``; cont_a = common / |grams(A)|.
    Both directions are reported because which side is "contained"
    is not known up front. Divisions are exact int/int -> double, so
    any replaying engine agrees bitwise.

    Scale shape: the inverted-index plan of :func:`ngram_jaccard_pairs`
    (distinct-shingle explode, xxhash64 keys, self-join keyed by the
    gram hash, ONE combining pair count) — but NO length filter, by
    design: containment pairs are exactly the size-skewed ones a length
    filter would drop. The skew lever is ``max_df``: drop grams present
    in more than ``max_df`` docs (boilerplate shingles that generate
    quadratic candidates while identifying nothing). With it set the
    result is a documented under-approximation (common is undercounted
    by at most the dropped grams); ``None`` = exact, the verification
    setting.
    """
    words = F.split(F.col(text_col), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))))
    base = df.select(F.col(id_col).alias("__id__"), grams.alias("__g__")) \
             .withColumn("__n__", F.size("__g__")) \
             .persist()  # both sides of the self-join read it
    ex = base.select("__id__", "__n__",
                     F.explode("__g__").alias("__gram__")) \
             .withColumn("__gram__", F.xxhash64("__gram__"))
    if max_df is not None:
        dfc = ex.groupBy("__gram__").agg(F.count("*").alias("__df__")) \
                .filter(F.col("__df__") <= int(max_df)).drop("__df__")
        ex = ex.join(dfc, on="__gram__")  # AQE turns this into a
        # shuffle-reusing semi-join; hot grams never reach the pair join
    l = ex.select(F.col("__id__").alias("id_a"),
                  F.col("__n__").alias("__na__"), "__gram__")
    r = ex.select(F.col("__id__").alias("id_b"),
                  F.col("__n__").alias("__nb__"), "__gram__")
    common = (l.join(r, on="__gram__")
               .filter(F.col("id_a") < F.col("id_b"))
               .groupBy("id_a", "id_b", "__na__", "__nb__")
               .agg(F.count("*").alias("common")))
    ca = F.col("common") / F.col("__na__")
    cb = F.col("common") / F.col("__nb__")
    out = (common.withColumn("cont_a", ca).withColumn("cont_b", cb)
                 .filter(F.greatest(F.col("cont_a"), F.col("cont_b"))
                         >= float(threshold))
                 .select("id_a", "id_b", "common", "cont_a", "cont_b"))
    return _attach_cached(out, base)


def edit_pairs(df: DataFrame, id_col: str, text_col: str,
               max_dist: int = 2, q: int = 3) -> DataFrame:
    """Exact edit-distance (Levenshtein) similarity join: every pair
    with ``levenshtein(A, B) <= max_dist`` — the typo/template-variant
    near-dup detector (URL canonicalization residue, boilerplate with
    one token swapped) that shingle similarity over-counts and exact
    dedup misses entirely.

    Candidate generation is the q-gram COUNT FILTER (Gravano et al.
    2001, "Approximate string joins in a database (almost) for free"):
    if ``ed(A,B) <= d`` then A and B share at least
    ``max(|A|,|B|) - q + 1 - q*d`` character q-grams, which is >= 1
    whenever ``max(|A|,|B|) >= q*(d+1)``. So the inverted-index
    self-join on the q-gram hash (the :func:`ngram_jaccard_pairs`
    shuffle shape — keys are (gramhash), payload is (id, len) longs,
    text never enters the gram shuffle) finds EVERY qualifying pair
    whose longer side has >= q*(d+1) chars. Pairs where BOTH sides are
    shorter than q*(d+1) (< 9 chars at the defaults) can disagree on
    every q-gram, so the short subset joins all-pairs under the
    ``||A|-|B|| <= d`` length band via a broadcast nested-loop — sound
    because "shorter than q*(d+1) chars" is a tiny, bounded slice of a
    web corpus. A short-side string with < q chars has no real q-gram,
    but any partner within distance d is then itself short (q >= 2
    forces len < q + d < q*(d+1)), so the short×short pass covers it.

    Verification is the built-in banded ``F.levenshtein(a, b, d)``
    (JVM whole-stage codegen, returns -1 above the threshold — the
    O(d*min_len) early-exit DP). Returns (id_a < id_b, dist:int);
    identical strings report dist = 0. Classic unit-cost Levenshtein,
    so any engine's standard implementation replays it bit-for-bit.
    """
    d = int(max_dist)
    if d < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if q < 2:
        raise ValueError(f"q must be >= 2, got {q}")  # the short-string
        # coverage argument above needs q >= 2
    lim = q * (d + 1)
    base = df.select(F.col(id_col).alias("__id__"),
                     F.col(text_col).alias("__s__"),
                     F.length(text_col).alias("__len__")).persist()
    # one pseudo-gram (the whole string) for len < q keeps the explode
    # total and only ever ADDS candidates — verify kills false positives
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.col("__len__") - q, F.lit(0))),
        lambda i: F.col("__s__").substr(i + F.lit(1), F.lit(q))))
    ex = base.select("__id__", "__len__",
                     F.explode(grams).alias("__gram__")) \
             .withColumn("__gram__", F.xxhash64("__gram__"))
    l = ex.select(F.col("__id__").alias("id_a"),
                  F.col("__len__").alias("__la__"), "__gram__")
    r = ex.select(F.col("__id__").alias("id_b"),
                  F.col("__len__").alias("__lb__"), "__gram__")
    band = (F.abs(F.col("__la__") - F.col("__lb__")) <= d)
    long_cand = (l.join(r, on="__gram__")
                  .filter((F.col("id_a") < F.col("id_b")) & band
                          & (F.greatest("__la__", "__lb__") >= lim))
                  .select("id_a", "id_b")
                  .dropDuplicates(["id_a", "id_b"]))
    short = base.filter(F.col("__len__") < lim) \
                .select("__id__", "__len__")
    short_cand = (short.alias("a")
                  .join(F.broadcast(short.alias("b")),
                        (F.col("a.__id__") < F.col("b.__id__"))
                        & (F.abs(F.col("a.__len__") - F.col("b.__len__"))
                           <= d))
                  .select(F.col("a.__id__").alias("id_a"),
                          F.col("b.__id__").alias("id_b")))
    cand = long_cand.unionByName(short_cand)  # disjoint by the
    # max(len) >= lim split — no dedup shuffle needed
    va = base.select(F.col("__id__").alias("id_a"),
                     F.col("__s__").alias("__sa__"))
    vb = base.select(F.col("__id__").alias("id_b"),
                     F.col("__s__").alias("__sb__"))
    out = (cand.join(va, on="id_a").join(vb, on="id_b")
               .withColumn("dist", F.levenshtein("__sa__", "__sb__", d))
               .filter(F.col("dist") >= 0)
               .select("id_a", "id_b", "dist"))
    return _attach_cached(out, base)


def _unionfind_components(edge_rows) -> list[tuple[int, int]]:
    """Driver-side union-find (path compression, min-root union) over a
    BOUNDED edge list; returns (id, min-reachable-id) per node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:   # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo     # min id stays the root == cluster label
    return [(v, find(v)) for v in parent]


def dedup_clusters(pairs: DataFrame, left_col: str = "id_a",
                   right_col: str = "id_b", max_iters: int = 25,
                   driver_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over duplicate pairs: (id, cluster_id).

    The last stage of a web-dedup pipeline: minhash/simhash/jaccard
    emit PAIRS, but keep-one-per-group needs the transitive closure —
    cluster_id = min doc id reachable through any chain of pairs.

    Strategy is size-based, like Spark's own broadcast-vs-shuffle join
    choice: if at most ``driver_threshold`` distinct edges exist
    (checked with a bounded ``limit(n+1)`` fetch — never an unbounded
    collect; 1M (v,u) longs is ~16 MB), a driver-side union-find
    resolves them in microseconds instead of paying several Spark jobs
    per propagation round. Pair counts are tiny next to corpus size in
    real dedup runs, so this is the common case even at 100 TB; beyond
    the threshold the distributed path takes over.

    Distributed algorithm: min-label propagation with pointer jumping
    (the two-phase trick of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Each round (a) lowers every
    node's label to the min over its neighbors' labels, then (b)
    jumps labels through themselves (l <- label(l)), so label chains
    halve every round and convergence is O(log diameter) — a path of
    10^6 duplicate docs resolves in ~20 rounds, and the near-clique
    clusters real dedup produces resolve in 2-3.

    Scale shape: every shuffle carries only (id, label) longs keyed by
    id; document text never enters. Convergence is detected by the sum
    of labels (labels only decrease, so an unchanged decimal-128 sum
    means a fixed point) — one scalar agg per round, no row-diff join.
    Per-round frames are eagerly localCheckpoint-ed (and the previous
    round's blocks released), so lineage stays O(1) deep — persist
    alone caches data but leaves the nested logical plan to grow
    geometrically across rounds (no exponential replay or plan-string
    blowup).
    """
    spark = pairs.sparkSession
    directed = (pairs.select(F.col(left_col).cast("long").alias("v"),
                             F.col(right_col).cast("long").alias("u"))
                     .distinct()
                     .persist())   # probe AND (if large) the loop reuse it
    if driver_threshold > 0:
        # Arrow toPandas: two int64 columns, ~16 MB at the 1M cap — not
        # a collect() of Row objects; bounded by limit(n+1)
        head = directed.limit(driver_threshold + 1).toPandas()
        if len(head) <= driver_threshold:
            comp = _unionfind_components(
                zip(head["v"].to_numpy(), head["u"].to_numpy()))
            directed.unpersist()
            return spark.createDataFrame(comp, "id long, cluster_id long")
    edges = (directed.union(directed.select(F.col("u").alias("v"),
                                            F.col("v").alias("u")))
                     .distinct()
                     .persist())
    # materialize BEFORE the loop: every round then plans against a
    # compact InMemoryTableScan instead of re-nesting the full AQE
    # lineage — left lazy, the per-round plan strings grow until
    # AdaptiveSparkPlanExec.onUpdatePlan's explainString OOMs the
    # driver (observed at 8g on a 32-edge graph)
    edges.count()
    lab = (edges.groupBy("v").agg(F.min("u").alias("__mn__"))
                .select("v", F.least("v", "__mn__").alias("l"))
                .persist())
    prev_sum = None
    for _ in range(max_iters):
        # (a) neighbor-min: l(v) <- min(l(v), min_{u~v} l(u))
        nl = (edges.join(lab.select(F.col("v").alias("u"),
                                    F.col("l").alias("__ul__")), on="u")
                   .groupBy("v").agg(F.min("__ul__").alias("__nl__")))
        new = (lab.join(nl, on="v", how="left")
                  .select("v", F.least("l", F.coalesce("__nl__", "l")).alias("l")))
        # (b) pointer jump: l(v) <- min(l(v), l(l(v))) — labels are always
        # node ids, so the self-join resolves every label
        jump = new.select(F.col("v").alias("l"), F.col("l").alias("__jl__"))
        # eager localCheckpoint, not persist: persist caches the DATA but
        # the logical plan still nests (the jump self-join doubles the
        # lineage each round), and AQE re-renders the full plan string
        # per stage — geometric growth OOMs the driver by round ~8.
        # Checkpointing truncates the plan to an O(1) RDD scan; blocks
        # are freed by the ContextCleaner when the frame is dropped.
        new = (new.join(jump, on="l", how="left")
                  .select("v", F.least("l", F.coalesce("__jl__", "l")).alias("l"))
                  .localCheckpoint(eager=True))
        s = new.agg(F.sum(F.col("l").cast("decimal(38,0)"))).first()[0]
        lab.unpersist()
        lab = new
        if s is None or (prev_sum is not None and s == prev_sum):
            break
        prev_sum = s
    out = lab.select(F.col("v").alias("id"), F.col("l").alias("cluster_id"))
    return _attach_cached(out, directed, edges, lab)


_WINNOW_P31 = (1 << 31) - 1


def _poly31(g: F.Column) -> F.Column:
    """Mersenne-31 per-character polynomial hash of a string column as a
    JVM fold (the corpus._dsir_features convention — character-exact, so
    a SQL engine replays it; swap xxhash64 in for non-verification
    runs)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.length(g)), F.lit(0).cast("long"),
        lambda a, i: (a * 257 + F.ascii(F.substr(g, i, F.lit(1))))
        % F.lit(_WINNOW_P31))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, the MOSS algorithm — public): hash every word ``k``-gram,
    slide a window of ``w`` consecutive hashes, and in each window
    select the minimum (ties -> RIGHTMOST, the paper's rule); the
    selected (position, hash) pairs are the fingerprint set. Guarantees
    every shared run of ``w + k - 1`` words leaves at least one shared
    fingerprint — the local-selection property MinHash lacks (MinHash
    sketches GLOBAL similarity; winnowing certifies LOCAL overlap, which
    is why plagiarism/attribution pipelines use it).

    Returns (id_col, pos, fp) — pos the 1-based k-gram position. Docs
    with fewer than ``k`` words have no fingerprint and are absent;
    docs with fewer than ``w`` k-grams winnow their single short window.

    Scale shape: ENTIRELY map-only — per-doc arrays flow through JVM
    higher-order folds (gram hash, per-window min, rightmost-position
    arithmetic), no Python, no shuffle; downstream joins (see
    :func:`winnow_pairs`) shuffle only (id, fp) longs.
    """
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k}, w={w}")
    # words and hashes are projected as columns and the grams are built
    # before they are hashed, so each is evaluated once per row: a lambda
    # that names an expression evaluates it again on every call
    words = F.col("__w__")
    grams = F.transform(F.sequence(F.lit(1), F.size(words) - (k - 1)),
                        lambda p: F.array_join(F.slice(words, p, k), "\x1f"))
    hashes = F.col("__h__")
    m = F.size(hashes)
    sel = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1))),
        lambda p: F.struct(
            (p + F.size(F.slice(hashes, p, w))
             - F.array_position(F.reverse(F.slice(hashes, p, w)),
                                F.array_min(F.slice(hashes, p, w))))
            .cast("int").alias("pos"),
            F.array_min(F.slice(hashes, p, w)).alias("fp")))
    return (df.select(F.col(id_col),
                      F.split(F.trim(F.col(text_col)), r"\s+").alias("__w__"))
              .filter(F.size(words) >= k)
              .select(F.col(id_col), F.transform(grams, _poly31).alias("__h__"))
              .select(F.col(id_col), F.explode(sel).alias("__s__"))
              .select(id_col, F.col("__s__.pos").alias("pos"),
                      F.col("__s__.fp").alias("fp"))
              .distinct())


def winnow_pairs(df: DataFrame, id_col: str, text_col: str, k: int = 3,
                 w: int = 4, min_shared: int = 2,
                 max_bucket: int = 200) -> DataFrame:
    """Candidate local-overlap pairs (id_a < id_b, n_shared) — docs
    sharing >= ``min_shared`` winnowing fingerprint VALUES. The
    minhash_dedup_pairs scale shape: fingerprints dedupe to (id, fp),
    pathological boilerplate hashes are capped at ``max_bucket`` docs
    (skew guard), the self-join shuffles 16-byte rows only, and the
    shared count is one combining agg."""
    fps = (winnow_fingerprints(df, id_col, text_col, k=k, w=w)
           .select(F.col(id_col).alias("__id__"), "fp").distinct())
    wb = Window.partitionBy("fp").orderBy("__id__")
    capped = (fps.withColumn("__fn__", F.row_number().over(wb))
                 .filter(F.col("__fn__") <= max_bucket).drop("__fn__"))
    l = capped.select(F.col("__id__").alias("id_a"), "fp")
    r = capped.select(F.col("__id__").alias("id_b"), "fp")
    return (l.join(r, on="fp").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= int(min_shared)))
