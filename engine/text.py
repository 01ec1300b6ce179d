"""Web-text operators for training-data pipelines over `documents`/web_pages.

Graft-mandated beyond the reference's own inventory: deduplication (exact,
MinHash+LSH, SimHash, n-gram Jaccard), language-ID heuristic, quality
scoring, token counting, winnowing fingerprints.  Design rule: candidate
GENERATION is native/LSH (scales to 10^12 docs: band-bucket equi-joins, no
O(n^2)); exact VERIFICATION runs only on candidate pairs.

Tokenization contract (shared by the DuckDB oracles in __spark_entry__.py):
tokens = non-empty pieces of lower(text) split on \\W+.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .envelope import require

# ---------------------------------------------------------------------------
# tokenization / shingles (native)
# ---------------------------------------------------------------------------

def tokens_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\W+"), lambda t: t != "")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (native exprs).
    NB: Spark's sequence(1, 0) counts DOWN, so texts shorter than n words
    need the explicit empty-array guard."""
    toks = tokens_col(text)
    k = F.size(toks)
    idx = F.when(k >= n, F.sequence(F.lit(1), k - (n - 1))) \
           .otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(sh)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one representative (min id) per distinct
    text + duplicate count.

    Scale shape: the shuffle key is (xxhash64, md5, length) — ~45 B/row —
    NOT the text itself; at 100 TB this is the difference between moving
    45 B/row and 5 KB/row through the exchange.  Two texts collide only if
    they agree on two independent hash families AND byte length
    (< 2^-190 per pair); map-side partial aggregation bounds reduce-side
    volume for dominant duplicates."""
    return (df.groupBy(F.xxhash64(F.col(text_col)).alias("_h64"),
                       F.md5(F.col(text_col).cast("binary")).alias("_hmd5"),
                       F.length(F.col(text_col)).alias("_hlen"))
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("n_copies"))
            .select(id_col, "n_copies"))


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _perm_params(k: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=k, dtype=np.int64)
    return a, b


def minhash_signature(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 64, shingle_n: int = 3,
                      seed: int = 42) -> DataFrame:
    """Adds `sig` (array<long>, length num_hashes) per row.

    Base shingle hashes are native xxhash64; the K permutation mins are one
    Arrow kernel ((a_k * h + b_k) mod 2^61-1, vectorized numpy)."""
    a, b = _perm_params(num_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        am = a.astype(np.uint64)
        bm = b.astype(np.uint64)
        p = np.uint64(_MERSENNE)
        n = len(hashes)
        if n == 0:
            return pd.Series([], dtype=object)
        # Vectorize across the WHOLE batch: one flat shingle-hash array +
        # per-doc offsets, then one (a_k*h + b_k) mod p pass per permutation
        # into a REUSED buffer with per-doc minima via minimum.reduceat.
        # The per-row loop allocated a fresh (n_shingles x K) matrix per doc
        # (~1 GB churn per batch) — on this VM allocation rate is the cost.
        lens = np.fromiter((0 if hs is None else len(hs) for hs in hashes),
                           dtype=np.int64, count=n)
        sig = np.full((n, num_hashes), _MERSENNE, dtype=np.int64)
        nz = np.flatnonzero(lens)
        if len(nz):
            flat = np.concatenate([
                np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz
            ]).astype(np.uint64)
            starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
            v = np.empty_like(flat)
            tmp = np.empty_like(flat)
            for k in range(num_hashes):
                np.multiply(flat, am[k], out=v)
                np.add(v, bm[k], out=v)
                np.mod(v, p, out=tmp)
                sig[nz, k] = np.minimum.reduceat(
                    tmp.view(np.int64), starts)
        return pd.Series(list(sig))

    base = F.transform(shingles_col(F.col(text_col), shingle_n),
                       lambda s: F.xxhash64(s))
    return df.withColumn("sig", sig_udf(base))


def _band_rows(signed: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band, bucket) rows: band b of `sig` is its b-th slice of
    floor(len / bands) permutation minima, bucketed by hash(slice, b).
    The one banding expression: lsh_candidate_pairs buckets these rows and
    the persisted dedup index stores them, so an incremental probe meets
    exactly the buckets the batch path computes."""
    r = F.floor(F.size("sig") / bands).cast("int")
    return signed.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bnd: F.hash(F.slice(F.col("sig"), bnd * r + 1, r), bnd)))
        .alias("band", "bucket"))


def _hashed_shingles(df: DataFrame, text_col: str, id_col: str,
                     shingle_n: int) -> DataFrame:
    """(id, sh): the xxhash64 of each distinct shingle, array<long>."""
    return df.select(
        F.col(id_col),
        F.transform(shingles_col(F.col(text_col), shingle_n),
                    lambda s: F.xxhash64(s)).alias("sh"))


def _jaccard_col() -> Column:
    """|sa ∩ sb| / |sa ∪ sb| over the set columns sa and sb, rounded to 6
    places, 0.0 for two empty sets — the Jaccard every verify and the
    all-pairs twin report."""
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)


def _verify_jaccard(pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame,
                    id_col: str) -> DataFrame:
    """(a, b, jaccard) for candidate pairs (a, b): a's hashed shingle set
    comes from sh_a, b's from sh_b (both (id, sh) frames)."""
    return (pairs
            .join(sh_a.select(F.col(id_col).alias("a"),
                              F.col("sh").alias("sa")), "a")
            .join(sh_b.select(F.col(id_col).alias("b"),
                              F.col("sh").alias("sb")), "b")
            .select("a", "b", _jaccard_col().alias("jaccard")))


def lsh_candidate_pairs(signed: DataFrame, id_col: str = "doc_id",
                        bands: int = 16) -> DataFrame:
    """Band the signature, bucket by (band, bucket-hash): distinct (a, b)
    pairs (a < b) sharing >= 1 band bucket — never an O(n^2) cross join.

    Shape: ONE evaluation of the signature subplan and ONE corpus-side
    shuffle — groupBy(band, bucket) -> sorted id list -> per-bucket
    ordered pairs via a double generator (posexplode + tail slice).  The
    textbook self-join form evaluates the signature subplan TWICE (once
    per join side, Spark can't reuse an aliased branch) and shuffles it
    twice; measured 2x slower at sf0.1.  Per-output-row memory here is
    O(bucket) and total streamed work O(sum bucket^2) — the same
    asymptotics the self-join streams through its hash join; run exact
    dedup first so identical docs can't form mega-buckets."""
    buckets = (_band_rows(signed, id_col, bands).groupBy("band", "bucket")
               .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
               .filter(F.size("ids") > 1))
    lefts = buckets.select("ids", F.posexplode("ids").alias("i", "a"))
    tail = F.slice(F.col("ids"), F.col("i") + 2,
                   F.greatest(F.size("ids") - F.col("i") - 1, F.lit(0)))
    return (lefts.select(F.col("a"), F.explode(tail).alias("b"))
            .distinct())


def jaccard_verify(df: DataFrame, pairs: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   shingle_n: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (native array ops).

    Scale shape: the candidate exchange carries xxhash64 SHINGLE HASHES
    (array<long>, ~8 B/shingle) rather than the shingle strings
    (~KB/pair): hashing a distinct set is injective barring a 2^-64
    per-pair collision, so |intersect| and |union| — hence Jaccard — are
    identical, and the verify shuffle shrinks ~4x.  (A left-semi
    prefilter of df to candidate ids was tried and REVERTED: without an
    exchange to reuse, it re-evaluates the whole candidate subplan once
    per reference — measured 2.5x slower than just re-shingling the
    corpus map-side under the broadcast pair join.)"""
    sh = _hashed_shingles(df, text_col, id_col, shingle_n)
    return _verify_jaccard(pairs, sh, sh, id_col)


def dedup_minhash(df: DataFrame, threshold: float = 0.5,
                  text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """Near-dup pairs with exact Jaccard >= threshold, found via MinHash LSH
    candidates + exact verify (precision 1.0; recall tested in tests/)."""
    signed = minhash_signature(df, text_col, num_hashes)
    cand = lsh_candidate_pairs(signed, id_col, bands)
    return (jaccard_verify(df, cand, text_col, id_col)
            .filter(F.col("jaccard") >= threshold))


def dedup_clusters(df: DataFrame, threshold: float = 0.5,
                   text_col: str = "text", id_col: str = "doc_id",
                   num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """End-to-end near-dup CLUSTERING — the actual corpus-dedup
    deliverable: MinHash-LSH near-dup pairs (exact-verified >= threshold)
    -> connected components (ops.min_label_components, pointer-jumping
    min-label) -> per-doc cluster assignment.

    Returns (id_col, cluster_rep, is_kept): cluster_rep is the smallest
    doc id in the doc's near-dup component (itself for unpaired docs),
    is_kept marks the one representative per cluster.  Filtering
    is_kept gives the deduplicated corpus.

    100-TB shape: the pair table is LSH-bucketed (never all-pairs), the CC
    loop shuffles only (id, label) pairs over the tiny pair graph, and the
    final join back to the corpus is a plain equi-join on the id."""
    from .ops import min_label_components
    pairs = dedup_minhash(df, threshold, text_col, id_col,
                          num_hashes, bands).select("a", "b")
    comp = min_label_components(df.select(id_col), pairs, id_col=id_col)
    return comp.select(
        id_col, F.col("component_id").alias("cluster_rep"),
        (F.col(id_col) == F.col("component_id")).alias("is_kept"))


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold (self-join; the oracle
    twin of dedup_minhash for small inputs and the correctness gate)."""
    sh = df.select(F.col(id_col), shingles_col(F.col(text_col), shingle_n)
                   .alias("sh"))
    pairs = (sh.alias("x").select(F.col(f"x.{id_col}").alias("a"),
                                  F.col("x.sh").alias("sa"))
             .crossJoin(sh.alias("y").select(F.col(f"y.{id_col}").alias("b"),
                                             F.col("y.sh").alias("sb")))
             .filter(F.col("a") < F.col("b")))
    return (pairs.select("a", "b", _jaccard_col().alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text",
            hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over token hashes (one Arrow kernel).

    Vectorized across the WHOLE batch like the minhash kernel: one flat
    token-hash array + per-doc offsets, bits unpacked once
    (np.unpackbits, little-endian => column b is bit b), per-doc per-bit
    popcounts via a single add.reduceat, bit b set iff
    2*popcount > n_tokens (the same score = sum(2*bit - 1) > 0 rule as
    the per-doc form it replaces — values are identical).

    ``hash_fn``: 'xxhash64' (default — fastest, JVM-native) or 'md5_60'
    (first 60 bits of md5 of the token, parsed from hex).  Like
    winnowing's exchange mode, md5_60 exists because simhash
    fingerprints are comparable ACROSS corpora only if both engines hash
    tokens identically — md5-of-token reproduces anywhere (the DuckDB
    oracle replays it bit-for-bit); xxhash64's seed/variant is
    Spark-specific.  md5_60 yields a 60-bit simhash (fingerprint bits
    60-63 are always 0 — token-hash bits above 59 never vote); hamming
    distances and the pigeonhole banding guarantee are unaffected.  Same
    voting kernel either way; only the token-hash expression changes."""

    @F.pandas_udf(T.LongType())
    def simhash_udf(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        lens = np.fromiter((0 if hs is None else len(hs) for hs in hashes),
                           dtype=np.int64, count=n)
        nz = np.flatnonzero(lens)
        if len(nz):
            flat = np.concatenate([
                np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz])
            starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
            # (n_hashes, 64) bit matrix; bitorder='little' makes column b
            # the value of bit b of the int64 (byte j holds bits 8j..8j+7)
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1,
                bitorder="little")
            pops = np.add.reduceat(bits, starts, axis=0).astype(np.int64)
            # score_b = 2*pop_b - n_tok > 0  <=>  2*pop_b > n_tok
            setbits = (2 * pops > lens[nz, None])
            vals = (setbits.astype(np.uint64)
                    << np.arange(64, dtype=np.uint64)[None, :]).sum(
                        axis=1, dtype=np.uint64)
            out[nz] = vals.view(np.int64)
        return pd.Series(out)

    if hash_fn == "xxhash64":
        def thash(t):
            return F.xxhash64(t)
    elif hash_fn == "md5_60":
        def thash(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    base = F.transform(tokens_col(F.col(text_col)), thash)
    return df.withColumn("simhash", simhash_udf(base))


def _simhash_band_bounds(bands: int) -> list[tuple[int, int]]:
    """(bit offset, width) for `bands` contiguous chunks covering 64 bits."""
    bounds = [round(64 * i / bands) for i in range(bands + 1)]
    return [(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id",
                       bands: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into `bands` contiguous
    chunks (default max_hamming + 1 — the pigeonhole guarantee: a pair with
    hamming <= bands-1 must agree exactly on >= 1 band), posexplode each
    doc into its (band, key) rows, ONE self-join on (band, key) with a < b
    and a distinct over the pairs that share several bands, then exact
    popcount verify — native bit ops end to end.

    Scale envelope: each band has 2^(64/bands) buckets, so expected bucket
    occupancy is n / 2^(64/bands) and the join is quadratic in that per
    (band, key) bucket.  At n = 10^12 docs keep bands <= 5 (>= 12-bit
    bands, <= ~2.4e8 rows/bucket-universe) — i.e. exact recall up to
    hamming 4; larger thresholds at that scale need multi-probe or the
    rotation-sort method, not wider banding.  The recall guarantee is
    property-tested in tests/test_text_ops.py."""
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at hamming<={max_hamming}"
            f" (pigeonhole needs >= {max_hamming + 1} bands)")
    if bands > 64:
        raise ValueError("more bands than bits")
    keys = F.array(*[F.shiftrightunsigned(F.col("simhash"), lo)
                     .bitwiseAND(F.lit((1 << width) - 1))
                     for lo, width in _simhash_band_bounds(bands)])
    sh = df.select(F.col(id_col), "simhash",
                   F.posexplode(keys).alias("band", "k"))
    l = sh.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"),
                  "band", "k")
    r = sh.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"),
                  "band", "k")
    cands = (l.join(r, ["band", "k"]).filter(F.col("a") < F.col("b"))
             .select("a", "ha", "b", "hb").distinct())
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cands.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


# ---------------------------------------------------------------------------
# language id / quality / token stats (native; SQL-oracle-mirrorable)
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "was", "for"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "es": ["el", "los", "las", "es", "una", "para", "por"],
}


def lang_id(df: DataFrame, text_col: str = "text",
            out: str = "lang_guess") -> DataFrame:
    """Marker-word language heuristic: count marker hits per language on the
    token set, pick argmax (ties: language code asc; no hits: 'und')."""
    toks = tokens_col(F.col(text_col))
    scores = [F.size(F.array_intersect(
        F.array_distinct(toks), F.array(*[F.lit(w) for w in ws])))
        .alias(f"_s_{lang}") for lang, ws in _LANG_MARKERS.items()]
    scored = df.select("*", *scores)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in _LANG_MARKERS])
    guess = F.when(best <= 0, F.lit("und"))
    for lang in sorted(_LANG_MARKERS):
        guess = guess.when(F.col(f"_s_{lang}") == best, F.lit(lang))
    return (scored.withColumn(out, guess)
            .drop(*[f"_s_{lang}" for lang in _LANG_MARKERS]))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + regex ("BPE-ish" word/punct pieces) token counts."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    bpe = F.size(F.filter(F.split(F.col(text_col), r"(?<=\W)|(?=\W)"),
                          lambda t: (t != "") & (t != " ")))
    return df.withColumn("n_ws_tokens", ws.cast("long")) \
             .withColumn("n_word_tokens",
                         F.size(tokens_col(F.col(text_col))).cast("long")) \
             .withColumn("n_pieces", bpe.cast("long"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality signals: char-class ratios + mean word length +
    stopword ratio; composite score in [0, 1] (monotone heuristics)."""
    n = F.length(F.col(text_col)).cast("double")
    def ratio(pattern):
        return (F.length(F.regexp_replace(F.col(text_col), pattern, ""))
                .cast("double"))
    digit_ratio = F.round((n - ratio(r"[0-9]")) / F.greatest(n, F.lit(1.0)), 6)
    punct_ratio = F.round((n - ratio(r"[^\w\s]")) / F.greatest(n, F.lit(1.0)), 6)
    upper_ratio = F.round((n - ratio(r"[A-Z]")) / F.greatest(n, F.lit(1.0)), 6)
    toks = tokens_col(F.col(text_col))
    nw = F.size(toks).cast("double")
    stop = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]]))).cast("double")
    stop_ratio = F.round(stop / F.greatest(nw, F.lit(1.0)), 6)
    mean_wl = F.round(
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
        / F.greatest(nw, F.lit(1.0)), 6)
    score = F.round(
        (F.lit(1.0) - F.least(digit_ratio * 4, F.lit(1.0))) * 0.25
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.25
        + F.least(stop_ratio * 10, F.lit(1.0)) * 0.25
        + F.least(nw / 100.0, F.lit(1.0)) * 0.25, 6)
    return (df.withColumn("digit_ratio", digit_ratio)
            .withColumn("punct_ratio", punct_ratio)
            .withColumn("upper_ratio", upper_ratio)
            .withColumn("stop_ratio", stop_ratio)
            .withColumn("mean_word_len", mean_wl)
            .withColumn("quality", score))


def tfidf_topk(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 5,
               log_idf: bool = False) -> DataFrame:
    """Per-document top-k terms by tf-idf: (doc_id, token, tf, score, rk),
    rk 1-based by (score desc, token asc).

    idf modes: the default ratio form idf = N/df uses only integer-exact
    counts and one IEEE division, so scores and ranks are bit-portable
    across engines (the oracle contract); `log_idf=True` gives the
    classical smooth ln((N+1)/(df+1)) + 1, deterministic per engine but
    not guaranteed bit-identical cross-libm.

    100-TB shape: ONE explode -> groupBy(doc, token) count (map-side
    combine collapses repeats before the exchange); the df table derives
    from those distinct (doc, token) rows — the corpus is shuffled once,
    token-count rows thereafter.  The df join is plain equi-join on token
    (AQE broadcasts it while the vocabulary is small); the final top-k is
    a window partitioned by doc — millions of small partitions, no skew.
    N is one count scalar (driver-side, same pattern as MLlib's IDF fit)."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.explode(tokens_col(F.col(text_col))).alias("token"))
    tf = toks.groupBy("doc_id", "token") \
             .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = tf.groupBy("token") \
              .agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = float(df.count())
    if log_idf:
        idf = F.log((F.lit(n_docs + 1.0)) / (F.col("df") + F.lit(1.0))) \
              + F.lit(1.0)
    else:
        idf = F.lit(n_docs) / F.col("df").cast("double")
    scored = tf.join(dfreq, "token") \
               .withColumn("score", F.col("tf").cast("double") * idf)
    w = Window.partitionBy("doc_id") \
              .orderBy(F.col("score").desc(), F.col("token").asc())
    return (scored.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .select("doc_id", "token", "tf", "score", "rk"))


def _count_topk(exploded: DataFrame, k: int) -> DataFrame:
    """(token) rows -> exact top-k (token, n, rank) by (count desc,
    token asc).

    100-TB shape: two-stage count (map-side partial agg — the exchange
    carries at most |per-mapper vocab| (token, count) rows, never the
    corpus) -> orderBy+limit, which Spark executes as
    TakeOrderedAndProject (per-partition top-k heaps, k rows to the
    driver-side merge — no global sort).  The final rank numbering runs
    on k rows only."""
    counts = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def vocab_topk(df: DataFrame, text_col: str = "text",
               k: int = 100) -> DataFrame:
    """Corpus-wide exact top-k vocabulary: (token, n, rank) — see
    _count_topk for the distributed shape."""
    toks = df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
    return _count_topk(toks, k)


def ngram_topk(df: DataFrame, text_col: str = "text", n: int = 2,
               k: int = 100) -> DataFrame:
    """Corpus-wide exact top-k word n-grams (space-joined): the LM
    training-data n-gram statistic.  Gram construction is a map-only
    higher-order expression (sequence + slice + array_join — no Python);
    counting/top-k shape as _count_topk."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens_col(F.col(text_col))
    m = F.size(toks) - F.lit(n - 1)
    grams = F.when(m >= 1, F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.explode(grams).alias("token"))
    return _count_topk(g, k)


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL, all native regexp/array
    exprs (map-only, codegen; the Java∩RE2 regex subset so DuckDB oracles
    replay it): drop the fragment, lower-case scheme+host, strip a leading
    ``www.``, strip the scheme's default port (:80 http / :443 https),
    collapse trailing path slashes (root ``/`` ≡ empty), sort query
    params.  Crawl snapshot streams reference the same page under many
    spellings; canonicalization is what makes per-URL dedup real."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    q = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    pre = F.regexp_replace(nofrag, r"\?.*$", "")
    scheme = F.lower(F.regexp_extract(pre, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(pre, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/]*)", 0))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")) \
            .when(scheme == "https", F.regexp_replace(host, r":443$", "")) \
            .otherwise(host)
    path = F.regexp_replace(F.regexp_replace(rest, r"^[^/]*", ""),
                            r"/+$", "")
    params = F.array_sort(F.filter(F.split(q, "&"), lambda p: p != ""))
    qpart = F.when(F.size(params) > 0,
                   F.concat(F.lit("?"), F.array_join(params, "&"))) \
             .otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qpart)


def dedup_snapshots(pages: DataFrame, url_col: str = "url",
                    ts_col: str = "warc_ts") -> DataFrame:
    """Keep the latest snapshot per canonical URL (tiebreak: max raw url)
    — (canon_url, n_snapshots, <all columns of the kept row>).

    100-TB shape: ONE groupBy(canon_url) with `max_by(row_struct,
    (ts, url))` + count — both map-side combinable, so each mapper emits
    one candidate row per canonical url it saw and only those ride the
    exchange.  The window-function formulation (row_number over
    canon_url) would shuffle EVERY snapshot; this shuffles at most one
    per (mapper, url)."""
    all_struct = F.struct(*[F.col(c) for c in pages.columns])
    key = F.struct(F.col(ts_col), F.col(url_col))
    g = (pages.withColumn("canon_url", canonicalize_url(F.col(url_col)))
         .groupBy("canon_url")
         .agg(F.max_by(all_struct, key).alias("_kept"),
              F.count(F.lit(1)).alias("n_snapshots")))
    return g.select("canon_url", "n_snapshots", "_kept.*")


# PII patterns: valid in BOTH Java regex (Spark codegen) and RE2 (DuckDB)
# — no lookarounds/backrefs — so the redaction is oracle-replayable
# byte-for-byte.  Order matters (emails before bare digit runs).
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+\d{1,3}[ -]\d{3}[ -]\d{3}[ -]\d{4}"),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """Redact emails / IPv4 addresses / international-format phone numbers
    to ``[TYPE]`` tokens, with per-type match counts — the standard
    pre-training scrub pass (native regexp exprs, MAP-ONLY, whole-stage
    codegen; patterns restricted to the Java∩RE2 regex subset so the
    DuckDB oracle reproduces the redacted bytes exactly)."""
    out = df
    redacted = F.col(text_col)
    for name, pat in _PII_PATTERNS:
        out = out.withColumn(f"n_{name}",
                             F.regexp_count(redacted, F.lit(pat)).cast("long"))
        redacted = F.regexp_replace(redacted, pat, f"[{name.upper()}]")
    return out.withColumn(out_col, redacted)


def _segment_mode_distinct(flat: np.ndarray, seg: np.ndarray, n_segs: int):
    """Per-segment (distinct count, mode count) over a flat int64 value
    array with a sorted-segment-id array — one lexsort + run-length pass,
    no per-segment Python loop.  Returns two int64 arrays of len n_segs
    (0 where a segment has no values)."""
    dis = np.zeros(n_segs, dtype=np.int64)
    top = np.zeros(n_segs, dtype=np.int64)
    if len(flat) == 0:
        return dis, top
    order = np.lexsort((flat, seg))
    fs, ss = flat[order], seg[order]
    newrun = np.empty(len(fs), dtype=bool)
    newrun[0] = True
    newrun[1:] = (fs[1:] != fs[:-1]) | (ss[1:] != ss[:-1])
    run_starts = np.flatnonzero(newrun)
    run_len = np.diff(np.append(run_starts, len(fs)))
    run_seg = ss[run_starts]
    newseg = np.empty(len(run_starts), dtype=bool)
    newseg[0] = True
    newseg[1:] = run_seg[1:] != run_seg[:-1]
    seg_starts = np.flatnonzero(newseg)
    seg_ids = run_seg[seg_starts]
    dis[seg_ids] = np.diff(np.append(seg_starts, len(run_starts)))
    top[seg_ids] = np.maximum.reduceat(run_len, seg_starts)
    return dis, top


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document: most-frequent-
    token fraction, duplicate-token fraction, most-frequent-bigram fraction,
    duplicate-bigram fraction (Rae et al. 2021 §A1.1 use these to drop
    machine-generated / boilerplate-heavy pages).

    MAP-ONLY: one whole-batch Arrow kernel over token xxhash64s (flat
    array + offsets + lexsort run-length — no per-doc Python loop, no
    corpus shuffle; the 100-TB posture for a per-doc signal).  Counts via
    64-bit token hashes equal string counts absent an intra-doc hash
    collision (~n²/2⁶⁴).  Fractions are single IEEE divisions of integer
    counts — the DuckDB oracle reproduces them bit-for-bit."""

    fields = ["n_tok", "n_dis", "top", "n_bg", "n_dis_bg", "top_bg"]

    @F.pandas_udf(T.StructType([T.StructField(f, T.LongType())
                                for f in fields]))
    def rep_udf(hashes: pd.Series) -> pd.DataFrame:
        n = len(hashes)
        lens = np.fromiter((0 if hs is None else len(hs) for hs in hashes),
                           dtype=np.int64, count=n)
        nz = np.flatnonzero(lens)
        if len(nz):
            flat = np.concatenate([
                np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz])
        else:
            flat = np.empty(0, dtype=np.int64)
        doc = np.repeat(np.arange(n, dtype=np.int64), lens)
        dis, top = _segment_mode_distinct(flat, doc, n)
        keep = np.flatnonzero(doc[1:] == doc[:-1]) if len(flat) else \
            np.empty(0, dtype=np.int64)
        with np.errstate(over="ignore"):
            bg = (flat[keep] * np.int64(1000003)) ^ flat[keep + 1]
        dis_bg, top_bg = _segment_mode_distinct(bg, doc[keep], n)
        return pd.DataFrame({
            "n_tok": lens, "n_dis": dis, "top": top,
            "n_bg": np.maximum(lens - 1, 0), "n_dis_bg": dis_bg,
            "top_bg": top_bg})

    base = F.transform(tokens_col(F.col(text_col)), lambda t: F.xxhash64(t))
    st = rep_udf(base)
    out = df.withColumn("_r", st)
    n = F.col("_r.n_tok").cast("double")
    nbg = F.col("_r.n_bg").cast("double")

    def frac(num, den):
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    return (out
            .withColumn("n_tokens", F.col("_r.n_tok"))
            .withColumn("top_token_frac", frac(F.col("_r.top"), n))
            .withColumn("dup_token_frac",
                        frac(F.col("_r.n_tok") - F.col("_r.n_dis"), n))
            .withColumn("top_bigram_frac", frac(F.col("_r.top_bg"), nbg))
            .withColumn("dup_bigram_frac",
                        frac(F.col("_r.n_bg") - F.col("_r.n_dis_bg"), nbg))
            .drop("_r"))


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------

def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 5, window: int = 4,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Document fingerprints: k-gram rolling hashes, winnowed (min per
    sliding window, rightmost tie) — the classic MOSS scheme.  One Arrow
    kernel over native k-gram hashes.

    ``hash_fn``: 'xxhash64' (default — fastest, JVM-native) or 'md5_60'
    (first 60 bits of md5 of the gram string, parsed from hex).  md5_60
    exists because fingerprint sets are an EXCHANGE format in the MOSS
    scheme — corpora fingerprinted by different engines must agree — and
    md5-of-gram is reproducible in any engine (the DuckDB oracle replays
    it exactly; xxhash64's seed/variant is Spark-specific).  Same winnow
    kernel either way; only the gram-hash expression changes."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow_udf(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                out.append([])
                continue
            h = np.asarray(hs, dtype=np.int64)
            if len(h) <= window:
                out.append([int(h.min())])
                continue
            from numpy.lib.stride_tricks import sliding_window_view
            wins = sliding_window_view(h, window)
            out.append(np.unique(wins.min(axis=1)).tolist())
        return pd.Series(out)

    toks = tokens_col(F.col(text_col))
    nt = F.size(toks)
    idx = F.when(nt >= k, F.sequence(F.lit(1), nt - (k - 1))) \
           .otherwise(F.array().cast("array<int>"))
    if hash_fn == "xxhash64":
        def ghash(c):
            return F.xxhash64(c)
    elif hash_fn == "md5_60":
        def ghash(c):
            return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    grams = F.transform(idx, lambda i: ghash(
        F.concat_ws(" ", F.slice(toks, i, k))))
    return df.withColumn("fingerprints", winnow_udf(grams))


def remove_boilerplate_tokens(docs: DataFrame, threshold: float = 0.5,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              max_hot_tokens: int = 10_000) -> DataFrame:
    """Corpus-level boilerplate pruning: drop tokens whose DOCUMENT
    frequency exceeds `threshold` (fraction of docs containing the token) —
    the classic web-pipeline cleanup for navigation chrome / legal footers
    that repeat across a crawl.

    Scale shape (the 100-TB-correct two-pass plan):
      pass 1 — document-frequency aggregation over DISTINCT tokens per doc
               (map-side combinable groupBy on short token keys; output is
               at most the vocabulary, and the >threshold subset is tiny by
               definition — a token in >50% of a 10^12-doc crawl is chrome);
      pass 2 — MAP-ONLY rewrite: the hot set rides into a native
               higher-order-function filter as an array literal, so the
               corpus is never re-shuffled and the rewrite stays in
               whole-stage codegen.  No posexplode/reassemble round trip.

    Output: (id_col, cleaned, n_kept, n_removed) with token order
    preserved; deterministic for a given corpus.

    Envelope: the hot set is collected to the driver and embedded as an
    array literal, so it must stay small.  "Tiny by definition" only holds
    for threshold >= 0.5 (at most one token per document position can be in
    a majority of documents per frequency class); a low threshold (say
    0.01) can make the hot set a large fraction of the vocabulary, OOM the
    driver, and blow up codegen with thousands of literals.
    `max_hot_tokens` enforces that envelope explicitly — exceeding it
    raises rather than silently building a pathological plan.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = F.split(F.col(text_col), " ")
    ex = docs.select(id_col, F.explode(F.array_distinct(toks)).alias("tok"))
    tot = docs.select(F.countDistinct(id_col).alias("t")).collect()[0]["t"]
    hot_rows = (ex.groupBy("tok").agg(F.countDistinct(id_col).alias("n"))
                .filter(F.col("n") > F.lit(float(threshold) * tot))
                .limit(max_hot_tokens + 1).collect())
    if len(hot_rows) > max_hot_tokens:
        raise ValueError(
            f"boilerplate hot-token set exceeds max_hot_tokens="
            f"{max_hot_tokens} at threshold={threshold}; raise the "
            f"threshold (>= 0.5 recommended) or max_hot_tokens")
    hot = sorted(r["tok"] for r in hot_rows)
    if hot:
        hot_arr = F.array(*[F.lit(t) for t in hot])
        kept = F.filter(toks, lambda x: ~F.array_contains(hot_arr, x))
    else:
        kept = toks
    return docs.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("cleaned"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"))


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with an evaluation/benchmark corpus — the standard
    train/test-leakage guard in web-scale training-data pipelines.

    Scale shape (the 100-TB-correct plan):
      * the benchmark side is DISTINCT n-grams of the (small) eval corpus
        — explicitly broadcast, so the training corpus side is a MAP-ONLY
        explode + broadcast-hash-join probe; the 10^12-doc corpus is never
        shuffled;
      * only HIT rows (doc, gram) reach the groupBy — at sane contamination
        rates that is orders of magnitude smaller than the corpus;
      * the final left join back to `docs` is on the id column and carries
        one small aggregate row per contaminated doc.

    Output: docs' id column + `n_hit_grams` (count of distinct shared
    n-grams; shingles are distinct per doc by construction) +
    `is_contaminated`.  A benchmark document present in the corpus flags
    itself — that is the desired behavior (it IS leaked).
    """
    bench_grams = (benchmark
                   .select(F.explode(shingles_col(F.col(bench_text_col), n))
                           .alias("gram"))
                   .distinct())
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(shingles_col(F.col(text_col), n)).alias("gram"))
    hits = (doc_grams.join(F.broadcast(bench_grams), "gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hit_grams")))
    return (docs.select(id_col)
            .join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("long")
                    .alias("n_hit_grams"),
                    F.col("n_hit_grams").isNotNull()
                    .alias("is_contaminated")))


# ---------------------------------------------------------------------------
# exact substring (dup-span) dedup
# ---------------------------------------------------------------------------

def _gram_hash_expr(hash_fn: str):
    """Gram-string -> int64 hash expression.  'xxhash64' is the JVM-native
    fast path; 'md5_60' (first 60 bits of md5, hex-parsed) is the portable
    exchange mode every engine can replay — same contract as
    winnow_fingerprints/simhash."""
    if hash_fn == "xxhash64":
        return lambda c: F.xxhash64(c)
    if hash_fn == "md5_60":
        return lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10) \
                          .cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def dedup_spans(docs: DataFrame, n: int = 20, min_count: int = 2,
                text_col: str = "text", id_col: str = "doc_id",
                hash_fn: str = "xxhash64") -> DataFrame:
    """Substring-level exact dedup: remove every token span of length ``n``
    whose word n-gram occurs >= ``min_count`` times corpus-wide (counting
    every occurrence, including repeats inside one document — a document
    that repeats its own boilerplate 50-gram is deduplicated against
    itself).  This is the token-level form of the repeated-substring
    removal in Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" (they build a byte-level suffix array; the
    n-gram-hash form is the standard distributed equivalent — e.g.
    BigQuery/Spark reimplementations of that pipeline).

    Overlapping duplicated spans merge into maximal islands; the cleaned
    document is the non-covered tokens joined by single spaces (the engine
    normalizes whitespace at removal time, deterministically).

    Scale shape (the 100-TB-correct plan):
      * counting pass: grams ride the exchange as BARE 8-byte hashes (no
        doc id, no position, no string) through a map-side-combinable
        two-stage count — the one unavoidable corpus-sized shuffle, same
        asymptotics as the suffix-array build it replaces;
      * the duplicated-hash set (gh only) is orders of magnitude smaller
        than the gram stream at web dup rates; the position pass re-derives
        grams map-side (recompute beats persisting a corpus-sized position
        table) and LEFT SEMI joins against it — AQE broadcasts the dup set
        while it fits, falls back to an 8-byte-key shuffle join when not;
      * only HIT positions (doc_id, pos) reach the span-merge window, and
        only MODIFIED docs' merged spans ride the final join back to the
        corpus (left join on the id column).

    Output: (id_col, n_tokens, n_dup_spans, n_removed, clean_text), one
    row per input document (unmodified docs pass through with 0 spans and
    their whitespace-normalized text).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would remove all text)")
    ghash = _gram_hash_expr(hash_fn)
    toks = tokens_col(F.col(text_col))
    nt = F.size(toks)
    idx = F.when(nt >= n, F.sequence(F.lit(1), nt - (n - 1))) \
           .otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: ghash(
        F.concat_ws(" ", F.slice(toks, i, n))))

    # pass 1: corpus-wide occurrence counts on bare hashes
    dup_hashes = (docs
                  .select(F.explode(grams).alias("gh"))
                  .groupBy("gh")
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .filter(F.col("cnt") >= min_count)
                  .select("gh"))

    # pass 2: positions of duplicated grams (hits only survive)
    pos_grams = docs.select(
        F.col(id_col),
        F.posexplode(grams).alias("pos0", "gh"))
    hits = pos_grams.join(dup_hashes, "gh", "left_semi") \
                    .select(id_col, (F.col("pos0") + 1).alias("s"),
                            (F.col("pos0") + F.lit(n)).alias("e"))

    # merge overlapping/adjacent [s, e] token spans into maximal islands
    w = Window.partitionBy(id_col).orderBy("s", "e")
    flagged = hits.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(
            F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(-1)) + 1, 1).otherwise(0))
    islands = (flagged
               .withColumn("island",
                           F.sum("new_island").over(
                               w.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy(id_col, "island")
               .agg(F.min("s").alias("s"), F.max("e").alias("e")))
    spans = islands.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"))

    joined = docs.select(F.col(id_col), toks.alias("toks")) \
                 .join(spans, id_col, "left")
    sp = F.coalesce(F.col("spans"),
                    F.array().cast("array<struct<s:int,e:int>>"))
    # sequence(1, 0) counts DOWN (same guard as shingles_col), so empty
    # docs need an explicit empty index array or zip_with pads a null token
    pos_idx = F.when(F.size("toks") > 0,
                     F.sequence(F.lit(1), F.size("toks"))) \
               .otherwise(F.array().cast("array<int>"))
    zipped = F.zip_with(
        F.col("toks"), pos_idx,
        lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(zipped, lambda x: ~F.exists(
        sp, lambda span: (x["i"] >= span["s"]) & (x["i"] <= span["e"])))
    return joined.select(
        F.col(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(sp).cast("long").alias("n_dup_spans"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, lambda x: x["t"]), " ")
         .alias("clean_text"))


# ---------------------------------------------------------------------------
# unigram-LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------

def unigram_lm_score(docs: DataFrame, lm_corpus: DataFrame | None = None,
                     mode: str = "mean_freq", text_col: str = "text",
                     id_col: str = "doc_id",
                     lm_text_col: str | None = None) -> DataFrame:
    """Language-model quality scoring, the CCNet recipe shape: fit a
    unigram LM on a (clean) reference corpus, score every target document
    by how well the LM predicts its tokens, keep the head of the ranking.
    CCNet proper uses a KenLM 5-gram; the unigram form is the standard
    model-free twin (and the feature set quality classifiers like
    fastText's start from).

    Modes:
      * 'mean_freq' (default, the oracle contract): score = mean reference
        frequency of the doc's tokens = sum(count(t)) / (n_tokens * T).
        Integer-exact sums plus ONE IEEE division — bit-portable across
        engines, same contract as tfidf's ratio-idf mode.  Rank-orders
        documents by how "reference-like" their vocabulary is; garbage /
        OOV-heavy docs land in the tail.
      * 'logprob': classical mean ln p with add-one smoothing,
        p = (count + 1) / (T + V).  Deterministic per engine (libm ln),
        not guaranteed bit-identical cross-engine — pytest-golden vs
        numpy, not a DuckDB value-hash oracle.

    Scale shape (the 100-TB-correct plan):
      * the LM fit is a map-side-combinable token count over the REFERENCE
        corpus (small by design — CCNet fits on Wikipedia, not the crawl);
        T and V reduce to driver scalars (the MLlib IDF-fit pattern);
      * scoring is explode -> equi-join on token (AQE broadcasts the LM
        table while the vocabulary fits — a unigram LM is MBs — else an
        8-byte-ish key shuffle) -> per-doc partial-aggregable sums; the
        target corpus is shuffled at most once, as bare (id, token) rows;
      * unmatched (OOV) tokens stay on the left side of the join and are
        counted, not dropped — the OOV fraction is itself a quality signal.

    Output: (id_col, n_tokens, n_oov, score), one row per input document
    (empty docs score 0.0 with 0 tokens).
    """
    if mode not in ("mean_freq", "logprob"):
        raise ValueError(f"unknown mode {mode!r}")
    lm = lm_corpus if lm_corpus is not None else docs
    lm_toks = lm.select(F.explode(
        tokens_col(F.col(lm_text_col or text_col))).alias("token"))
    counts = lm_toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    tv = counts.agg(F.sum("cnt").alias("t"),
                    F.count(F.lit(1)).alias("v")).collect()[0]
    total, vocab = int(tv["t"] or 0), int(tv["v"] or 0)
    if total == 0:
        raise ValueError("LM corpus has no tokens")

    doc_toks = docs.select(F.col(id_col),
                           F.explode(tokens_col(F.col(text_col)))
                           .alias("token"))
    j = doc_toks.join(counts, "token", "left")
    if mode == "mean_freq":
        contrib = F.sum(F.coalesce(F.col("cnt"), F.lit(0))) \
                   .cast("long").alias("acc")
    else:
        contrib = F.sum(F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
            / F.lit(float(total + vocab)))).alias("acc")
    per_doc = j.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
         .cast("long").alias("n_oov"),
        contrib)
    if mode == "mean_freq":
        score = (F.col("acc").cast("double")
                 / (F.col("n_tokens") * F.lit(total)).cast("double"))
    else:
        score = F.col("acc") / F.col("n_tokens").cast("double")
    return (docs.select(id_col)
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
                     .alias("n_tokens"),
                    F.coalesce(F.col("n_oov"), F.lit(0)).cast("long")
                     .alias("n_oov"),
                    F.coalesce(F.when(F.col("n_tokens") > 0, score),
                               F.lit(0.0)).alias("score")))


# ---------------------------------------------------------------------------
# sequence chunking (context-window packing)
# ---------------------------------------------------------------------------

def chunk_documents(docs: DataFrame, max_tokens: int = 512,
                    stride: int | None = None, min_tokens: int = 1,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into fixed-size token windows — the standard
    pretraining preprocessing step that turns variable-length documents
    into context-window-sized training sequences.  ``stride`` defaults to
    ``max_tokens`` (non-overlapping); a smaller stride gives overlapping
    windows (the BERT-style sliding setup).  Windows shorter than
    ``min_tokens`` (ragged tails) are dropped.

    Scale shape: MAP-ONLY — tokenize, window starts via a strided
    sequence, slice, explode; zero exchanges, full whole-stage codegen.
    At 100 TB this runs at scan speed and preserves the input
    partitioning for whatever shuffles follow.

    Output: (id_col, chunk_idx, n_tokens, chunk_text) — chunk_idx 0-based
    in document order.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    st = stride if stride is not None else max_tokens
    if st < 1:
        raise ValueError("stride must be >= 1")
    if min_tokens < 1 or min_tokens > max_tokens:
        raise ValueError("min_tokens must be in [1, max_tokens]")
    toks = tokens_col(F.col(text_col))
    nt = F.size(toks)
    starts = F.when(nt > 0, F.sequence(F.lit(1), nt, F.lit(st))) \
              .otherwise(F.array().cast("array<int>"))
    chunks = F.filter(
        F.transform(starts, lambda s: F.slice(toks, s, max_tokens)),
        lambda c: F.size(c) >= min_tokens)
    return (docs.select(F.col(id_col),
                        F.posexplode(chunks).alias("chunk_idx", "c"))
            .select(F.col(id_col),
                    F.col("chunk_idx").cast("long").alias("chunk_idx"),
                    F.size("c").cast("long").alias("n_tokens"),
                    F.array_join("c", " ").alias("chunk_text")))


# ---------------------------------------------------------------------------
# quality bucketing (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

def quality_buckets(scored: DataFrame, score_col: str = "score",
                    id_col: str = "doc_id", n_buckets: int = 3,
                    mode: str = "approx",
                    rel_err: float = 0.001) -> DataFrame:
    """Split a scored corpus into quality buckets (CCNet's head / middle /
    tail): bucket 1 holds the best-scoring fraction (highest score).

    Modes (the bruteforce-vs-LSH pattern):
      * 'approx' (default, the 100-TB path): bucket thresholds from
        approxQuantile (Greenwald-Khanna sketch, driver scalars), then a
        MAP-ONLY literal-comparison assignment — no global sort, corpus
        never shuffled.  Boundary docs may land one bucket off by design
        (`rel_err`); bucket POPULATIONS are within rel_err of exact when
        scores are near-distinct.  Heavily TIED scores void that bound:
        equal consecutive thresholds make the >=-chain assign the whole
        tied mass to the best matching bucket (any threshold split of a
        tie has the same property) — use mode='exact', whose (score, id)
        ntile tiebreak splits ties evenly, when ties dominate.
      * 'exact': global ntile over (score desc, id) — a single-partition
        sort, the small-side oracle twin (deterministic tiebreak makes it
        value-hash exact cross-engine).

    Output: (id_col, score_col, bucket), bucket 1-based.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if mode == "exact":
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
        return scored.select(
            id_col, score_col,
            F.ntile(n_buckets).over(w).cast("long").alias("bucket"))
    if mode != "approx":
        raise ValueError(f"unknown mode {mode!r}")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    thr = scored.approxQuantile(score_col, qs, rel_err)  # ascending
    # when-chain checks the HIGHEST threshold first: bucket k (1 = best)
    # is the first k with score >= thr[n_buckets - 1 - k]
    chain = None
    for k in range(1, n_buckets):
        cond = F.col(score_col) >= F.lit(thr[n_buckets - 1 - k])
        chain = (F.when(cond, F.lit(k)) if chain is None
                 else chain.when(cond, F.lit(k)))
    bucket = chain.otherwise(F.lit(n_buckets))
    return scored.select(id_col, score_col,
                         bucket.cast("long").alias("bucket"))


# ---------------------------------------------------------------------------
# BM25 keyword search
# ---------------------------------------------------------------------------

def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id", log_idf: bool = False,
              eager: bool = True) -> DataFrame:
    """BM25 keyword search: top-k documents for a bag-of-terms query —
    the canonical inverted-index ranking function (Robertson/Spärck
    Jones; Lucene's default).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    idf modes (the tfidf precedent): the default RATIO form
    idf = (N − df + 0.5)/(df + 0.5) uses only exact counts and IEEE
    divisions, so scores are bit-portable cross-engine (the oracle
    contract); ``log_idf=True`` wraps it in ln(1 + ·) — Lucene's exact
    form, deterministic per engine but not guaranteed bit-identical
    cross-libm.  The per-document sum runs as a LEFT-TO-RIGHT fold over
    the doc's matched terms in token order (Spark `F.aggregate` over a
    sorted collect; DuckDB `list_reduce` over `list(... ORDER BY)`), so
    even float addition order is pinned.

    Scale shape (what an inverted index does, in DataFrame form):
      * doc lengths: one map-side-combinable count per doc;
      * the token stream is filtered to the QUERY TERMS (a literal `isin`
        — predicate-pushable, map-only) BEFORE any shuffle: only matching
        (doc, term) rows ever reach the tf exchange, the exact postings
        an inverted index would read;
      * df per term and N/avgdl reduce to driver scalars (terms are a
        handful);
      * final top-k is orderBy + limit — Spark plans it as
        TakeOrderedAndProject (per-partition heaps, no global sort); the
        rank window then runs on k rows only (the vocab_topk pattern).

    Output: (id_col, score, rk), rk 1-based by (score desc, id asc).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    # the corpus is tokenized ONCE: (doc, dl) and the query-term postings
    # are cached around the three consumers (N/avgdl collect, df collect,
    # final tf/contrib plan) instead of re-exploding the text each time.
    # Only these two SMALL projections are persisted — never the raw
    # token stream (|corpus| rows of strings).
    toks = docs.select(F.col(id_col),
                       F.explode(tokens_col(F.col(text_col))).alias("token"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    if eager:
        dl = dl.persist()
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("total")).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:
        if eager:
            dl.unpersist()
        raise ValueError("corpus has no non-empty documents")
    avgdl = stats["total"] / n_docs          # one IEEE division
    tf = (toks.filter(F.col("token").isin(terms))
          .groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    if eager:
        tf = tf.persist()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    df_map = {r["token"]: int(r["df"]) for r in dfreq.collect()}
    idf_map = {}
    for t in terms:
        dfv = df_map.get(t, 0)
        ratio = (n_docs - dfv + 0.5) / (dfv + 0.5)
        idf_map[t] = __import__("math").log(1.0 + ratio) if log_idf \
            else ratio
    idf_col = F.element_at(
        F.create_map(*[x for t in terms
                       for x in (F.lit(t), F.lit(float(idf_map[t])))]),
        F.col("token"))
    contrib = (tf.join(dl, id_col)
               .withColumn(
                   "v",
                   idf_col * (F.col("tf").cast("double") * (k1 + 1.0))
                   / (F.col("tf").cast("double")
                      + F.lit(k1) * (F.lit(1.0 - b)
                                     + F.lit(b) * (F.col("dl").cast("double")
                                                   / F.lit(avgdl))))))
    # pinned-order per-doc sum: sort matched terms, left-fold
    scored = (contrib.groupBy(id_col)
              .agg(F.aggregate(
                  F.array_sort(F.collect_list(F.struct("token", "v"))),
                  F.lit(0.0), lambda acc, s: acc + s["v"]).alias("score")))
    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()) \
                .limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    out = (top.withColumn("rk", F.row_number().over(w).cast("long"))
           .select(id_col, "score", "rk"))
    if eager:
        # materialize the k-row result eagerly, then release the cached
        # per-doc tables — so one call tokenizes the corpus exactly once
        # and leaves nothing cached behind.  eager=False skips the
        # persist/checkpoint dance and returns the fully lazy plan (for
        # plan inspection / composition; the corpus then tokenizes once
        # per collect of each of dl/df/tf).
        out = out.localCheckpoint(eager=True)
        dl.unpersist()
        tf.unpersist()
    return out


def pack_sequences(docs: DataFrame, capacity: int = 128,
                   group_col: str = "source", id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """GPT-style pretraining SEQUENCE PACKING: concatenate every document
    of a group (in `id_col` order) into one token stream, then split that
    stream every `capacity` tokens — the op that turns a cleaned corpus
    into fixed-length training sequences with zero padding waste
    (chunk_documents strides WITHIN one document; packing concatenates
    ACROSS documents so short docs share a window).

    Output: one row per (document × packed bin it lands in) —
      (group_col, bin_id, id_col, start_tok, n_tok, piece) —
    where `piece` is the document's token slice that falls in that bin;
    a document straddling a bin boundary emits one row per bin it spans.
    Re-assembling pieces per bin in (id_col) order yields exactly
    `capacity` tokens per bin (the group's final bin may be short).
    Empty-token documents are dropped (they contribute nothing to the
    stream).

    Plan/scale posture: ONE hash exchange + sort per group for the
    running-offset window (the only wide op), then a narrow
    explode/slice projection — everything stays in whole-stage codegen,
    no Python.  Offsets use integer DIV floor-division (exact cross-
    engine on non-negatives, the pagerank contract).  At 100 TB the
    group key bounds the window's partition size: pack within
    (source, shard) style groups — a single global group would serialize
    the cumsum.  Determinism: (group_col, id_col) must be unique, making
    the concatenation order — and therefore every bin — reproducible
    under any partitioning/retry.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    toks = tokens_col(F.col(text_col))
    t = (docs.select(group_col, id_col, toks.alias("_toks"))
         .withColumn("_n", F.size("_toks").cast("long"))
         .filter(F.col("_n") > 0))
    w = (Window.partitionBy(group_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    t = t.withColumn("_off", F.coalesce(F.sum("_n").over(w), F.lit(0)))
    c = F.lit(int(capacity))
    first_bin = F.expr(f"_off DIV {int(capacity)}")
    last_bin = F.expr(f"(_off + _n - 1) DIV {int(capacity)}")
    t = t.withColumn("bin_id", F.explode(F.sequence(first_bin, last_bin)))
    bs = F.greatest(F.col("bin_id") * c, F.col("_off"))
    be = F.least((F.col("bin_id") + 1) * c, F.col("_off") + F.col("_n"))
    return t.select(
        group_col,
        F.col("bin_id").cast("long").alias("bin_id"),
        id_col,
        (bs - F.col("_off")).cast("long").alias("start_tok"),
        (be - bs).cast("long").alias("n_tok"),
        F.array_join(
            F.slice(F.col("_toks"),
                    (bs - F.col("_off") + 1).cast("int"),
                    (be - bs).cast("int")),
            " ").alias("piece"))


# ---------------------------------------------------------------------------
# paragraph-level dedup (C4 / RefinedWeb line dedup)
# ---------------------------------------------------------------------------

def dedup_paragraphs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", delim: str = "\n",
                     min_chars: int = 1,
                     join_str: str | None = None) -> DataFrame:
    """Corpus-wide PARAGRAPH dedup (the C4/RefinedWeb 'remove duplicate
    lines across documents' pass): every paragraph (text split on
    `delim`) keeps only its globally FIRST occurrence — ordered by
    (doc_id, position) — and every later copy is cut from its document;
    documents are reassembled in original paragraph order.  Returns
    (id_col, text, n_kept, n_dropped) — one row per input document
    (guaranteed: a doc whose every paragraph lost dedup still emits a
    row with empty text).  `delim` is a Spark split() REGEX; documents
    are reassembled with `join_str` as a LITERAL separator.  When
    `join_str` is omitted, `delim` must itself be regex-literal (no
    metacharacters) so split and reassembly cannot disagree — a pattern
    like '\\n+' or '\\.' raises and demands an explicit `join_str`.

    Paragraphs shorter than `min_chars` BYPASS dedup and are always kept
    (structure like empty lines survives; this is also the C4 rule of
    only deduplicating substantial lines).

    Scale shape (the dedup_exact discipline): the winner-per-paragraph
    aggregation shuffles the (xxhash64, md5, length) triple plus the
    (doc_id, pos) candidate — ~60 B/row, never the paragraph text — and
    map-side partial min() collapses a boilerplate line duplicated 10^9
    times BEFORE the exchange, so a mega-duplicate cannot hot-spot one
    reducer (a window over the hash would).  Survivors come from a
    (doc_id, pos) left-semi join; paragraph text crosses an exchange
    only in the unavoidable per-document reassembly.  Dedup identity is
    the two-hash-family + length triple (collision < 2^-190 per pair,
    dedup_exact's contract), so an oracle grouping by the raw text
    agrees on any real corpus."""
    if join_str is None:
        meta = set(".^$*+?{}[]\\|()")
        if any(ch in meta for ch in delim):
            raise ValueError(
                f"delim {delim!r} contains regex metacharacters; split() "
                "treats it as a REGEX but reassembly uses a LITERAL "
                "separator — pass join_str explicitly to disambiguate")
        join_str = delim
    h = [F.xxhash64(F.col("_para")).alias("_h64"),
         F.md5(F.col("_para").cast("binary")).alias("_hmd5"),
         F.length(F.col("_para")).alias("_hlen")]
    paras = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), delim, -1))
        .alias("_pos", "_para"))
    cand = paras.filter(F.length("_para") >= min_chars)
    bypass = (paras.filter(F.length("_para") < min_chars)
              .withColumn("_is_cand", F.lit(False)))
    winners = (cand.select(*h, "_pos", F.col(id_col))
               .groupBy("_h64", "_hmd5", "_hlen")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("_pos").alias("p"))).alias("_w"))
               .select(F.col("_w.i").alias(id_col),
                       F.col("_w.p").alias("_pos")))
    kept = (cand.join(winners, [id_col, "_pos"], "left_semi")
            .withColumn("_is_cand", F.lit(True)))
    # count candidates per doc BEFORE dropping, to report n_dropped
    n_cand = (cand.groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("_n_cand")))
    out = (kept.unionByName(bypass)
           .groupBy(id_col)
           .agg(F.array_sort(F.collect_list(
                    F.struct(F.col("_pos").alias("p"),
                             F.col("_para").alias("t")))).alias("_ps"),
                F.sum(F.col("_is_cand").cast("long")).alias("n_kept"))
           .select(id_col,
                   F.array_join(F.transform("_ps", lambda s: s["t"]),
                                join_str).alias(text_col),
                   "n_kept"))
    # re-anchor on the input ids: a doc whose every paragraph was a
    # dup-loser has NO row in `out` but must still appear (empty text).
    base = docs.select(id_col)
    return (base.join(out, id_col, "left").join(n_cand, id_col, "left")
            .select(id_col,
                    F.coalesce(text_col, F.lit("")).alias(text_col),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.coalesce("_n_cand", F.lit(0))
                     - F.coalesce("n_kept", F.lit(0))).alias("n_dropped")))


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

def bloom_positions_col(c: Column, k: int, m_bits: int) -> Column:
    """k portable Bloom bit positions for a string column: position i is
    the first 60 bits of md5(f"{i}:" || x) (hex-parsed) mod m_bits — the
    repo's md5_60 exchange-hash contract, reproducible in any engine
    (DuckDB: ('0x' || substr(md5(i || ':' || x), 1, 15))::BIGINT)."""
    return F.array(*[
        (F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), c)), 1, 15),
                16, 10).cast("long") % m_bits)
        for i in range(k)])


def decontaminate_bloom(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                        m_bits: int = 1 << 16, k: int = 4,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text") -> DataFrame:
    """Bloom-filter benchmark decontamination — the scale path for when
    the eval corpus is too large to broadcast as raw n-grams but its
    BITMAP is tiny: bench n-grams fold into an m_bits Bloom filter ONCE
    (distributed bit_or aggregation over 64-bit words, collected under an
    enforced envelope), and the 10^12-doc corpus side is then a pure
    MAP-ONLY probe — the bitmap rides into every task as a literal
    long-array column evaluated in whole-stage codegen, so unlike the
    exact `decontaminate` join there is no broadcast-hash-join build side
    at all and no gram ever leaves its input partition; only per-doc hit
    counts reach the one aggregation exchange.

    Bloom guarantees map onto decontamination asymmetrically, which is
    why this direction (bench in the filter, corpus probing) is the right
    one: NO FALSE NEGATIVES — a truly contaminated doc is always flagged
    (leakage is never missed) — while false positives only discard a
    bounded sliver of clean training data (rate ~ (1 - e^(-k*n/m))^k).

    The hash family is md5_60-portable, so the entire construction —
    positions, bit set, membership — replays exactly in the DuckDB
    oracle (membership there = all k positions in the distinct bench
    position set; identical decisions bit-for-bit).

    Output: id column + n_maybe_grams (distinct-per-doc grams the filter
    accepts) + is_flagged.  m_bits is capped at 2^27 (16 MB of words) —
    past that, raise and point the caller at exact `decontaminate`."""
    if m_bits > (1 << 27):
        raise ValueError(
            f"m_bits={m_bits} exceeds the 2^27 literal-bitmap envelope; "
            "use exact decontaminate() with a broadcast gram table")
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    if k < 1:
        raise ValueError("k must be >= 1")
    bench_pos = (benchmark
                 .select(F.explode(shingles_col(F.col(bench_text_col), n))
                         .alias("gram"))
                 .select(F.explode(bloom_positions_col(F.col("gram"), k,
                                                       m_bits)).alias("p"))
                 .distinct())
    words_rows = (bench_pos
                  .groupBy((F.col("p") / 64).cast("long").alias("w"))
                  .agg(F.bit_or(F.call_function(
                          "shiftleft", F.lit(1).cast("long"),
                          (F.col("p") % 64).cast("int"))).alias("bits"))
                  .collect())
    words = [0] * (m_bits // 64)
    for r in words_rows:
        words[r["w"]] = r["bits"]
    wlit = F.lit(words)  # literal array<long>: codegen-side, no join build
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(shingles_col(F.col(text_col), n)).alias("gram"))
    probe = doc_grams.select(
        F.col(id_col),
        F.aggregate(
            bloom_positions_col(F.col("gram"), k, m_bits),
            F.lit(True),
            lambda acc, p: acc & (
                F.element_at(wlit, (p / 64).cast("int") + 1)
                .bitwiseAND(F.call_function(
                    "shiftleft", F.lit(1).cast("long"),
                    (p % 64).cast("int"))) != 0))
        .alias("_maybe"))
    hits = (probe.filter(F.col("_maybe"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_maybe_grams")))
    return (docs.select(id_col)
            .join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("n_maybe_grams"), F.lit(0))
                    .cast("long").alias("n_maybe_grams"),
                    F.col("n_maybe_grams").isNotNull().alias("is_flagged")))


# ---------------------------------------------------------------------------
# blocked edit-distance similarity join (PassJoin shape)
# ---------------------------------------------------------------------------

def _passjoin_segments(base: DataFrame, d: int) -> DataFrame:
    """(_gid, _glen, _gst, _gfrag): the d+1 canonical segments of every
    string of length >= d+1 in an (id, string, length) frame — an even
    partition whose first len % (d+1) segments are one char longer;
    _gst is the segment's 1-based start."""
    i, s, n = base.columns
    blen = F.floor(F.col(n) / (d + 1)).cast("int")
    rem = (F.col(n) % (d + 1)).cast("int")
    return (base.filter(F.col(n) >= d + 1)
            .select(i, n,
                    F.explode(F.transform(
                        F.sequence(F.lit(0), F.lit(d)),
                        lambda j: F.struct(
                            (j * blen + F.least(j, rem) + 1).alias("st"),
                            F.col(s).substr(
                                j * blen + F.least(j, rem) + 1,
                                blen + (j < rem).cast("int")).alias("frag"))))
                    .alias("_g"))
            .select(F.col(i).alias("_gid"), F.col(n).alias("_glen"),
                    F.col("_g.st").alias("_gst"),
                    F.col("_g.frag").alias("_gfrag")))


def _passjoin_probes(base: DataFrame, d: int) -> DataFrame:
    """(_pid, _plen, _pst, _pfrag): every substring of each string in an
    (id, string, length) frame at the segment lengths a partner within
    the +/-d length band can have, with its 1-based start."""
    i, s, n = base.columns
    qmin = F.greatest(F.lit(1), F.floor((F.col(n) - d) / (d + 1)).cast("int"))
    qmax = F.least(F.col(n), F.ceil((F.col(n) + d) / (d + 1)).cast("int"))
    return (base.select(
        i, n,
        F.explode(F.when(qmax >= qmin, F.flatten(F.transform(
            F.sequence(qmin, qmax),
            lambda q: F.transform(
                F.sequence(F.lit(1), (F.col(n) - q + 1).cast("int")),
                lambda k: F.struct(k.alias("st"),
                                   F.col(s).substr(k, q).alias("frag"))))))
            .otherwise(F.array().cast(
                "array<struct<st:int,frag:string>>"))).alias("_g"))
        .select(F.col(i).alias("_pid"), F.col(n).alias("_plen"),
                F.col("_g.st").alias("_pst"),
                F.col("_g.frag").alias("_pfrag")))


def _passjoin_match(d: int) -> Column:
    """Probe fragment == segment, start shift <= d, length gap <= d."""
    return ((F.col("_pfrag") == F.col("_gfrag"))
            & (F.abs(F.col("_pst") - F.col("_gst")) <= d)
            & (F.abs(F.col("_plen") - F.col("_glen")) <= d))


def fuzzy_pairs(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", max_dist: int = 2,
                max_len: int = 256, tiny_envelope: int = 4096) -> DataFrame:
    """Edit-distance similarity self-join for SHORT strings (titles,
    URLs, names): all unordered pairs with levenshtein <= max_dist,
    found WITHOUT the O(n^2) all-pairs scan via PassJoin segment
    blocking (Li, Deng, Feng, VLDB 2011 — public):

      * every string of length >= d+1 is cut into d+1 contiguous
        segments (canonical even partition); if ED(a,b) <= d, an edit
        script touches at most d of a's d+1 segments, so at least ONE
        survives VERBATIM inside b, at a start position shifted by at
        most d — the completeness pigeonhole;
      * the probe side enumerates b's substrings only at the segment
        lengths possible for partners within the +/-d length band and
        joins fragment == segment with the position-shift and
        length-band filters — candidates, not pairs, cross the one
        fragment-keyed exchange;
      * candidates dedup to unordered (id_a < id_b) pairs BEFORE the
        levenshtein verify, which runs once per candidate pair (JVM
        built-in, no Python).

    Both-tiny pairs (len <= d on both sides, where segments would be
    empty and the pigeonhole void) are ALL matches by definition
    (ED <= max(len) <= d) and route through a dedicated length-band
    branch whose population is envelope-checked.  Strings longer than
    `max_len` raise: probe fan-out is O(len) rows per string, so this
    is a short-string operator by contract — long-document near-dup
    belongs to minhash_lsh/simhash.

    Output: (id_a, id_b, dist), id_a < id_b, exact distances — so an
    all-pairs oracle agrees row-for-row (blocking is lossless)."""
    d = max_dist
    if d < 1:
        raise ValueError("max_dist must be >= 1")
    base = df.select(F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_s"),
                     F.length(text_col).alias("_len"))
    _, nt = require(base, (
        F.max("_len"), lambda mx: mx > max_len,
        lambda mx: f"max len {mx} exceeds max_len={max_len}: fuzzy_pairs "
                   "is a short-string join; use dedup_minhash_lsh for "
                   "documents"), (
        F.count(F.when(F.col("_len") <= d, 1)),
        lambda nt: nt > 0 and nt > tiny_envelope,
        lambda nt: f"{nt} strings of len <= max_dist exceed the "
                   f"tiny_envelope={tiny_envelope} all-match band"))
    cand = (_passjoin_probes(base, d)
            .join(_passjoin_segments(base, d),
                  _passjoin_match(d) & (F.col("_pid") != F.col("_gid")))
            .select(F.least("_pid", "_gid").alias("id_a"),
                    F.greatest("_pid", "_gid").alias("id_b"))
            .distinct())
    sa = base.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = base.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    main = (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("dist", F.levenshtein("_sa", "_sb").cast("long"))
            .filter(F.col("dist") <= d)
            .select("id_a", "id_b", "dist"))
    if nt == 0:
        return main
    t1 = base.filter(F.col("_len") <= d).select(
        F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    t2 = base.filter(F.col("_len") <= d).select(
        F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    tiny = (t1.join(t2, F.col("id_a") < F.col("id_b"))
            .withColumn("dist", F.levenshtein("_sa", "_sb").cast("long"))
            .select("id_a", "id_b", "dist"))
    return main.unionByName(tiny)


# ---------------------------------------------------------------------------
# incremental near-dup: persisted index + batch probe
# ---------------------------------------------------------------------------

def dedup_index_write(df: DataFrame, path, batch_id: int,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3) -> bool:
    """Persist one corpus slice into the near-dup INDEX — the
    operational form of dedup at 100 TB, where each crawl snapshot must
    dedup against ALL history without rescanning it: per doc the index
    stores the hashed shingle set (array<long>, ~8 B/shingle — never the
    text) and the LSH band buckets, appended batch-at-a-time behind the
    manifest's applied-batch ledger (exactly-once under foreachBatch
    replay — the CDC sink contract).  Index parameters are pinned in the
    manifest; an append with different params RAISES, because mixing
    banding families in one bucket table silently loses recall.
    Returns True iff the batch was newly applied."""
    from pathlib import Path as _P

    from .catalog import Manifest
    man = Manifest(path)
    params = {"num_hashes": num_hashes, "bands": bands,
              "shingle_n": shingle_n}
    known = man.data["lineage"].get("dedup_params")
    if known is not None and known != params:
        raise ValueError(f"dedup_index_write: params {params} differ from "
                         f"the index's pinned {known}")
    applied = man.data["lineage"].setdefault("applied_batches", [])
    if batch_id in applied:
        return False
    sh = _hashed_shingles(df, text_col, id_col, shingle_n)
    sh.write.mode("overwrite").parquet(
        str(_P(path) / f"sh-{batch_id:08d}"))
    signed = minhash_signature(df, text_col, num_hashes, shingle_n)
    bl = _band_rows(signed, id_col, bands)
    bl.write.mode("overwrite").parquet(
        str(_P(path) / f"bands-{batch_id:08d}"))
    n = df.count()
    man.data["lineage"]["dedup_params"] = params
    man.new_snapshot(op="dedup_index", batch=int(batch_id), rows=int(n))
    applied.append(int(batch_id))
    man.save()
    return True


def dedup_probe_incremental(spark, new_docs: DataFrame, path,
                            threshold: float = 0.5,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs of a NEW batch against the persisted index AND
    within itself, without touching historical text: history
    participates only through its stored band buckets (candidate
    generation = ONE equi join on (band, bucket) — batch-sized side
    shuffled, index side prunable under a bucket-keyed layout) and its
    stored hashed shingle sets (exact verify — hashed-set Jaccard equals
    raw-shingle Jaccard barring the documented 2^-64 collision).

    Recall equals the batch dedup_minhash over old ∪ new BY CONSTRUCTION
    for every (old, new) and (new, new) pair: same signature family
    (params pinned in the manifest), same banding, same verify; only
    (old, old) pairs are out of scope — they were handled when their own
    batches arrived.  Ids must be globally unique across batches.

    Returns (a, b, jaccard >= threshold): b is always the new doc; a is
    the historical id for cross pairs, and a < b for new-new pairs."""
    from pathlib import Path as _P

    from .catalog import Manifest
    man = Manifest(path)
    params = man.data["lineage"].get("dedup_params")
    if not params:
        raise ValueError(f"no dedup index at {path}")
    p = _P(path)
    batches = sorted(man.data["lineage"]["applied_batches"])
    stored_bands = spark.read.parquet(
        *[str(p / f"bands-{b:08d}") for b in batches])
    stored_sh = spark.read.parquet(
        *[str(p / f"sh-{b:08d}") for b in batches])
    signed = minhash_signature(new_docs, text_col,
                               params["num_hashes"], params["shingle_n"])
    new_bands = _band_rows(signed, id_col, params["bands"])
    new_sh = _hashed_shingles(new_docs, text_col, id_col,
                              params["shingle_n"])
    cand_cross = (new_bands.select("band", "bucket",
                                   F.col(id_col).alias("b"))
                  .join(stored_bands.select("band", "bucket",
                                            F.col(id_col).alias("a")),
                        ["band", "bucket"])
                  .select("a", "b").distinct())
    cand_new = lsh_candidate_pairs(signed, id_col, params["bands"])
    all_sh = stored_sh.unionByName(new_sh)
    pairs = cand_cross.unionByName(cand_new)
    return (_verify_jaccard(pairs, all_sh, new_sh, id_col)
            .filter(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# HTML -> text extraction
# ---------------------------------------------------------------------------

def html_to_text(df: DataFrame, html_col: str = "html",
                 out_col: str = "extracted_text") -> DataFrame:
    """Raw HTML bytes -> visible text — the webtext ingestion op upstream
    of every text operator, and the surface behind the north rule's
    byte-identical-extracted-text-per-url invariant.  MAP-ONLY native
    chain, no Python: decode UTF-8, drop script/style/head blocks with
    non-greedy (?is) patterns (Java-regex ∩ RE2 safe — NO backreferences,
    so any engine replays it), strip remaining tags, decode the core
    entity set (&lt;/&gt;/&quot;/&#39;/&nbsp; BEFORE &amp;, so a
    double-encoded entity decodes exactly one level), collapse
    whitespace.  Scan-speed at 100 TB; the html column never survives
    past this projection, which is what lets every downstream scan prune
    the dominant binary column."""
    t = F.decode(F.col(html_col), "UTF-8")
    for pat in (r"(?is)<script[^>]*>.*?</script>",
                r"(?is)<style[^>]*>.*?</style>",
                r"(?is)<head(\s[^>]*)?>.*?</head>"):
        t = F.regexp_replace(t, pat, " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return df.withColumn(out_col,
                         F.trim(F.regexp_replace(t, r"\s+", " ")))


# ---------------------------------------------------------------------------
# exact set-similarity join (AllPairs / PPJoin prefix filtering)
# ---------------------------------------------------------------------------

def jaccard_prefix_join(df: DataFrame, tau_pct: int = 50,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3) -> DataFrame:
    """EXACT Jaccard set-similarity join WITHOUT all-pairs: every doc pair
    whose word n-gram shingle sets satisfy Jaccard >= tau_pct/100, via
    prefix filtering (AllPairs, Bayardo et al. WWW'07; the SSJoin/PPJoin
    family) — the scalable exact twin of ngram_jaccard_pairs, which stays
    all-pairs BY DESIGN as the small-side oracle.

    Lossless candidate generation: order all shingles by one global total
    order — (corpus frequency asc, shingle asc); shingles are distinct
    within a doc, so the tie-break makes it total.  A doc with n shingles
    exposes only its first p = n - ceil(tau*n/100) + 1 tokens (rarest
    first).  THEOREM (prefix filter): if |A∩B| >= t then the length
    (|A|-t+1) and (|B|-t+1) prefixes under a COMMON total order share a
    token — proof: if A's prefix held no common element, every common
    element would sit among A's last t-1 tokens, so |A∩B| <= t-1.  With
    J(A,B) >= tau/100 we get |A∩B| >= ceil(tau*|A|/100) (intersection >=
    tau * union >= tau * |A|), so the chosen p is always >= the theorem's
    requirement — every qualifying pair shares a PREFIX token and is
    generated.  Verification then computes the exact intersection, so the
    output equals the all-pairs definition row for row.

    All arithmetic is integer (ceil(tau*n/100) = (tau*n + 99) DIV 100;
    the predicate 100*inter >= tau*union) — bit-portable cross-engine,
    no float Jaccard anywhere.

    100-TB shape: the frequency table is vocab-sized (broadcast here;
    falls back to a shuffle join when vocab outgrows the broadcast
    threshold without changing semantics); per-doc ordering is ONE
    (id, shingle, cnt) exchange into a sorted-struct collect; the
    candidate join exchanges ONLY prefix tokens — and because prefixes
    take the RAREST tokens first, the head of the frequency distribution
    (the tokens that would explode a postings self-join) almost never
    enters a prefix; a length filter (100*least(na,nb) >=
    tau*greatest(na,nb), implied by J >= tau) prunes candidates before
    the pair dedup; verification moves each candidate's shingle array
    once per side through an equi-join.  Returns
    (a, b, inter_size, union_size) — qualifying pairs only, a < b."""
    if not (isinstance(tau_pct, int) and 1 <= tau_pct <= 100):
        raise ValueError("tau_pct must be an int in 1..100")
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles_col(F.col(text_col), shingle_n).alias("sh"))
          .filter(F.size("sh") > 0))
    toks = sh.select("id", F.explode("sh").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    ordered = (toks.join(F.broadcast(freq), "tok")
               .groupBy("id")
               .agg(F.array_sort(
                   F.collect_list(F.struct("cnt", "tok"))).alias("ot")))
    docs_t = ordered.select(
        "id",
        F.transform("ot", lambda x: x["tok"]).alias("toks"),
        F.size("ot").cast("long").alias("n"))
    pref = docs_t.select(
        "id", "n",
        F.explode(F.slice(
            "toks", F.lit(1),
            (F.col("n") - F.expr(f"({tau_pct} * n + 99) DIV 100")
             + F.lit(1)).cast("int"))).alias("tok"))
    a, b = pref.alias("pa"), pref.alias("pb")
    cand = (a.join(b, (F.col("pa.tok") == F.col("pb.tok"))
                   & (F.col("pa.id") < F.col("pb.id"))
                   & (100 * F.least("pa.n", "pb.n")
                      >= tau_pct * F.greatest("pa.n", "pb.n")))
            .select(F.col("pa.id").alias("a"), F.col("pb.id").alias("b"))
            .distinct())
    ta = docs_t.select(F.col("id").alias("a"), F.col("toks").alias("ta"),
                       F.col("n").alias("na"))
    tb = docs_t.select(F.col("id").alias("b"), F.col("toks").alias("tb"),
                       F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("long")
    return (cand.join(ta, "a").join(tb, "b")
            .select("a", "b", inter.alias("inter_size"),
                    (F.col("na") + F.col("nb") - inter).alias("union_size"))
            .filter(100 * F.col("inter_size")
                    >= tau_pct * F.col("union_size")))


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     min_count: int = 5) -> DataFrame:
    """Collocation extraction by pointwise mutual information over
    adjacent token bigrams — the classic "new york"/"machine learning"
    detector (Church & Hanks 1990).  For each bigram (a, b) with
    positional count >= min_count, emits the exact integer evidence
    (c_ab, c_a, c_b) plus pmi_ratio = p(ab) / (p(a) p(b)) as a double;
    ln(pmi_ratio) is PMI, and the ratio is strictly monotone in it, so
    ranking by the ratio IS ranking by PMI without a transcendental in
    the contract.

    Exactness contract: all counts are exact BIGINTs; pmi_ratio is ONE
    fixed IEEE expression tree over those ints
    ((c_ab * N_uni * N_uni) / (c_a * c_b * N_bg), doubles, left-assoc),
    so any engine replaying the same tree on the same ints produces the
    same bits — representation-deterministic rather than rational-exact.

    100-TB shape: bigrams come from one zip_with over the per-doc token
    array (map-only) into a two-stage count (map-side partial agg — the
    exchange carries per-mapper bigram types, never token streams);
    unigram counts are vocab-sized and broadcast onto the bigram table;
    the two corpus totals are scalar aggregates collected to the driver
    (two longs).  Nothing corpus-sized crosses the wire after the one
    bigram-count exchange.
    """
    if min_count < 1:
        raise ValueError("pmi_collocations: min_count must be >= 1")
    toks = docs.select(tokens_col(F.col(text_col)).alias("_t"))
    uni = (toks.select(F.explode("_t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n = F.size("_t")
    pairs = F.when(n >= 2, F.zip_with(
        F.slice("_t", 1, n - 1), F.slice("_t", 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (toks.select(F.explode(pairs).alias("p"))
          .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c_ab")))
    # two driver scalars (documented envelope: two longs)
    n_uni = uni.agg(F.sum("c")).collect()[0][0] or 0
    n_bg = bg.agg(F.sum("c_ab")).collect()[0][0] or 0
    if n_uni == 0 or n_bg == 0:
        raise ValueError("pmi_collocations: corpus has no bigrams")
    out = (bg.filter(F.col("c_ab") >= min_count)
           .join(F.broadcast(uni.select(F.col("w").alias("w1"),
                                        F.col("c").alias("c_a"))), "w1")
           .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                        F.col("c").alias("c_b"))), "w2"))
    ratio = (F.col("c_ab").cast("double") * F.lit(float(n_uni))
             * F.lit(float(n_uni))
             / (F.col("c_a").cast("double") * F.col("c_b").cast("double")
                * F.lit(float(n_bg))))
    return out.select("w1", "w2",
                      F.col("c_ab").cast("long").alias("c_ab"),
                      F.col("c_a").cast("long").alias("c_a"),
                      F.col("c_b").cast("long").alias("c_b"),
                      ratio.alias("pmi_ratio"))


def build_inverted_index(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Positional inverted index — the IR storage primitive under every
    keyword/phrase search: one posting row per (token, doc) carrying the
    term frequency, the ascending token positions (emitted as a
    comma-joined string so the representation is canonical and
    engine-portable), and the token's document frequency.

    100-TB shape: posexplode is map-only; postings build in ONE
    (token, doc) combinable agg whose exchange carries (token, doc, pos)
    triples — the text column itself never rides a shuffle; document
    frequencies are a vocab-sized agg broadcast back onto the postings.
    Positions are exact integers, so every column is bit-portable.
    """
    pe = docs.select(F.col(id_col).alias("doc_id"),
                     F.posexplode(tokens_col(F.col(text_col)))
                     .alias("pos", "token"))
    postings = (pe.groupBy("token", "doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                     F.array_join(F.sort_array(F.collect_list(
                         F.col("pos").cast("long"))), ",")
                     .alias("positions")))
    dfreq = postings.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    return (postings.join(F.broadcast(dfreq), "token")
            .select("token", "doc_id", "tf", "positions", "df"))


def phrase_search(docs: DataFrame, phrase: Sequence[str],
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact positional phrase search ("new york" as ADJACENT tokens,
    not substring): returns (doc_id, n_matches long, first_pos long) for
    every document containing the phrase, by intersecting positional
    postings — occurrence at position p requires phrase[i] at p+i for
    every i.

    100-TB shape: the corpus is filtered to the |phrase| query tokens
    BEFORE the positional explode, so only matching-token (doc, pos)
    pairs exist at all; the adjacency intersection is |phrase|-1 equi
    joins on (doc_id, pos+i) between those tiny projections — the
    standard postings zig-zag, never a scan-per-candidate.  All-integer
    arithmetic, engine-portable.
    """
    phrase = [str(t) for t in phrase]
    if not phrase:
        raise ValueError("phrase_search: phrase must be non-empty")
    pe = (docs.select(F.col(id_col).alias("doc_id"),
                      F.posexplode(tokens_col(F.col(text_col)))
                      .alias("pos", "token"))
          .filter(F.col("token").isin(phrase))
          .select("doc_id", F.col("pos").cast("long").alias("pos"),
                  "token"))
    cur = (pe.filter(F.col("token") == phrase[0])
           .select("doc_id", F.col("pos").alias("start")))
    for i, t in enumerate(phrase[1:], start=1):
        nxt = (pe.filter(F.col("token") == t)
               .select("doc_id", (F.col("pos") - F.lit(i)).alias("start")))
        cur = cur.join(nxt, ["doc_id", "start"])
    return cur.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("start").alias("first_pos"))


def fuzzy_lookup(corpus: DataFrame, gazetteer: DataFrame,
                 corpus_text: str = "text", corpus_id: str = "doc_id",
                 gaz_text: str = "name", gaz_id: str = "gaz_id",
                 max_dist: int = 2, max_len: int = 256,
                 max_gaz: int = 65536,
                 tiny_envelope: int = 4096) -> DataFrame:
    """Dim-vs-corpus edit-distance lookup — toponym / gazetteer
    resolution (place-name normalization, brand matching, entity
    canonicalization): every corpus string matched against a SMALL
    reference table with levenshtein <= max_dist, plus is_best under
    the total (dist, gaz_id) order per corpus row.  The asymmetric
    sibling of fuzzy_pairs, with the same lossless PassJoin pigeonhole
    pointed one way: the GAZETTEER side is cut into the d+1 canonical
    segments (if ED(q, g) <= d, at least one of g's segments survives
    VERBATIM in q at a start shifted by at most d), and the CORPUS
    side enumerates substrings only at its allowed length band — so
    candidates come from one fragment equi-join whose build side is
    the dim-sized segment table, BROADCAST: the corpus never shuffles
    for candidate generation, only (corpus_id, gaz_id) candidate
    pairs reach the dedup exchange, and the verify is one JVM
    levenshtein per candidate pair.

    Gazetteer entries with len <= max_dist match within a pure length
    band and ride a dedicated broadcast branch (fan-out n_tiny per
    corpus row — n_tiny enforced <= tiny_envelope with a raise).
    Corpus strings longer than max_len raise (probe fan-out is O(len)
    — the short-string contract shared with fuzzy_pairs); gazetteer
    size is enforced <= max_gaz (broadcastability is the design
    premise, not an accident).

    Output: (corpus_id, gaz_id, dist, is_best); corpus rows with no
    match within max_dist emit nothing.
    """
    d = int(max_dist)
    if d < 1:
        raise ValueError("fuzzy_lookup: max_dist must be >= 1")
    g = gazetteer.select(F.col(gaz_id).alias("_gid"),
                         F.col(gaz_text).alias("_gs"),
                         F.length(gaz_text).alias("_glen"))
    ng = F.count(F.lit(1))
    _, _, ntiny = require(g, (ng, lambda n: n == 0,
                              "fuzzy_lookup: gazetteer is empty"), (
        ng, lambda n: n > int(max_gaz),
        f"fuzzy_lookup: gazetteer exceeds max_gaz={max_gaz} — "
        f"broadcastability is the design premise; use "
        f"fuzzy_pairs-style symmetric blocking instead"), (
        F.count(F.when(F.col("_glen") <= d, 1)),
        lambda nt: nt > int(tiny_envelope),
        lambda nt: f"fuzzy_lookup: {nt} gazetteer entries of len <= "
                   f"max_dist exceed tiny_envelope={tiny_envelope}"))
    c = corpus.select(F.col(corpus_id).alias("_pid"),
                      F.col(corpus_text).alias("_ps"),
                      F.length(corpus_text).alias("_plen"))
    require(c, (F.max("_plen"), lambda mx: mx > int(max_len),
                lambda mx: f"fuzzy_lookup: corpus max len {mx} exceeds "
                           f"max_len={max_len} — short-string contract"))
    cand = (_passjoin_probes(c, d)
            .join(F.broadcast(_passjoin_segments(g, d)), _passjoin_match(d))
            .select("_pid", "_gid").distinct())
    main = (cand
            .join(c.select("_pid", "_ps"), "_pid")
            .join(F.broadcast(g.select("_gid", "_gs")), "_gid")
            .withColumn("dist",
                        F.levenshtein("_ps", "_gs").cast("long"))
            .filter(F.col("dist") <= d)
            .select("_pid", "_gid", "dist"))
    if ntiny > 0:
        tinyg = g.filter(F.col("_glen") <= d)
        tiny = (c.join(F.broadcast(tinyg),
                       F.abs(F.col("_plen") - F.col("_glen")) <= d)
                .withColumn("dist",
                            F.levenshtein("_ps", "_gs").cast("long"))
                .filter(F.col("dist") <= d)
                .select("_pid", "_gid", "dist"))
        main = main.unionByName(tiny).distinct()
    w = Window.partitionBy("_pid").orderBy(F.col("dist").asc(),
                                           F.col("_gid").asc())
    return (main.withColumn("is_best",
                            F.row_number().over(w) == 1)
            .select(F.col("_pid").alias(corpus_id),
                    F.col("_gid").alias(gaz_id), "dist", "is_best"))
