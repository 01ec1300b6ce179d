"""Web-text + similarity + multimodal operator tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_dedup_exact_counts(spark, docs):
    out = text.dedup_exact(docs).toPandas()
    n_docs = docs.count()
    assert out["n_copies"].sum() == n_docs
    assert out["doc_id"].is_unique


def test_minhash_lsh_recall_and_precision(spark, docs):
    """LSH+verify pairs vs exact all-pairs Jaccard: precision must be 1.0
    (verify step is exact); recall >= 0.9 at jaccard >= 0.5 with 64 hashes
    x 16 bands (theoretical ~1-(1-0.5^4)^16 ~ 0.66 per band-row prob;
    measured on real dup structure)."""
    exact = text.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    lsh = text.dedup_minhash(docs, threshold=0.5).toPandas()
    e = set(zip(exact["a"], exact["b"]))
    l = set(zip(lsh["a"], lsh["b"]))
    assert l <= e, f"false positives: {list(l - e)[:5]}"
    if e:
        recall = len(l & e) / len(e)
        assert recall >= 0.9, f"recall {recall} over {len(e)} true pairs"


def test_minhash_identical_texts_collide(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the quick brown fox jumps over the lazy dog today",
                 "the quick brown fox jumps over the lazy dog today",
                 "completely different content about spark engines here"]})
    df = spark.createDataFrame(pdf)
    out = text.dedup_minhash(df, threshold=0.9).toPandas()
    assert (1, 2) in set(zip(out["a"], out["b"]))
    assert len(out) == 1


def test_simhash_near_pairs(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha beta gamma delta epsilon zeta eta theta iota kappa",
                 "alpha beta gamma delta epsilon zeta eta theta iota lambda",
                 "one two three four five six seven eight nine ten"]})
    df = spark.createDataFrame(pdf)
    sh = text.simhash(df)
    pairs = text.simhash_near_pairs(sh, max_hamming=16).toPandas()
    got = set(zip(pairs["a"], pairs["b"]))
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_banding_recall_guarantee(spark):
    """Pigeonhole property: with bands = max_hamming + 1 (the default),
    EVERY pair within max_hamming bits is found — including pairs whose
    differing bits spread one-per-band (the round-1 4x16 banding missed
    hamming 4-8 pairs exactly this way)."""
    rng = np.random.default_rng(11)
    max_h = 8
    rows, expected = [], set()
    did = 0
    for k in (1, 3, 4, 6, 8):
        for _ in range(8):
            h = int(rng.integers(0, 2**64, dtype=np.uint64))
            # adversarial spread: one flipped bit per band chunk
            from engine.text import _simhash_band_bounds
            chunks = _simhash_band_bounds(max_h + 1)
            pos = [int(lo + rng.integers(0, w)) for lo, w in chunks[:k]]
            h2 = h
            for p in pos:
                h2 ^= 1 << p
            def signed(v):
                return (v & (2**63 - 1)) - (v & 2**63)
            rows.append((did, signed(h)))
            rows.append((did + 1, signed(h2)))
            expected.add((did, did + 1))
            did += 2
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "simhash"]))
    out = text.simhash_near_pairs(df, max_hamming=max_h).toPandas()
    got = set(zip(out["a"], out["b"]))
    missing = expected - got
    assert not missing, f"pigeonhole recall violated: {sorted(missing)[:5]}"
    assert (out["hamming"] <= max_h).all()
    with pytest.raises(ValueError):
        text.simhash_near_pairs(df, max_hamming=8, bands=4)


def test_lang_id(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the cat sat and the dog was here for a while",
                 "le chat est sur la table et les enfants pour une fois",
                 "der hund ist nicht das problem und die katze",
                 "zzz qqq xxx"]})
    out = text.lang_id(spark.createDataFrame(pdf)).toPandas()
    assert list(out.sort_values("doc_id")["lang_guess"]) == ["en", "fr", "de",
                                                             "und"]


def test_token_stats_and_quality(spark, docs):
    out = text.quality_score(text.token_stats(docs)).toPandas()
    assert (out["n_ws_tokens"] > 0).all()
    assert (out["n_word_tokens"] > 0).all()
    for c in ("digit_ratio", "punct_ratio", "stop_ratio", "quality"):
        assert out[c].between(0, 1).all(), c


def test_winnow_fingerprints_overlap(spark):
    base = ("spark is a unified analytics engine for large scale data "
            "processing with high level apis in java scala python and r")
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base,
                 base + " plus an optimized engine that supports general graphs",
                 "unrelated words entirely about cooking pasta with tomatoes "
                 "and basil in a large pot of salted water tonight"]})
    out = text.winnow_fingerprints(spark.createDataFrame(pdf)).toPandas()
    fp = {r["doc_id"]: set(r["fingerprints"]) for _, r in out.iterrows()}
    sim12 = len(fp[1] & fp[2]) / len(fp[1] | fp[2])
    sim13 = len(fp[1] & fp[3]) / len(fp[1] | fp[3])
    assert sim12 > 0.4
    assert sim13 == 0.0


def test_ann_recall_vs_bruteforce(spark, emb):
    bf = similarity.cosine_topk_bruteforce(emb, k=5).toPandas()
    # fixture embeddings are near-random (top-5 cosine ~0.3, i.e. ~72 deg):
    # the hardest case for sign-LSH, so use wide 2-bit bands (bits=12,
    # bands=6) — high candidate rate, recall measured >= 0.9 here.  Real
    # embedding corpora (clustered) run narrower bands.
    ann = similarity.ann_cosine_topk(emb, k=5, dim=64, bits=12, bands=6).toPandas()
    bf_pairs = set(zip(bf["a"], bf["b"]))
    ann_pairs = set(zip(ann["a"], ann["b"]))
    recall = len(bf_pairs & ann_pairs) / len(bf_pairs)
    assert recall >= 0.85, recall
    # ANN sims are exact cosines (refine step): every reported pair's sim
    # matches brute force where both report it
    merged = ann.merge(bf, on=["a", "b"], suffixes=("_ann", "_bf"))
    assert np.allclose(merged["sim_ann"], merged["sim_bf"], atol=1e-9)


def test_cosine_near_dup_pairs_planted(spark):
    """Plant near-duplicate embeddings (tiny perturbation, cosine ~0.999)
    among random vectors: every planted pair must be found and every
    reported pair's sim is exact (refine step) and >= threshold."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 64))
    rows, expected = [], set()
    vid = 0
    for i in range(20):
        rows.append((vid, base[i].tolist()))
        a = vid
        vid += 1
        if i < 5:
            v2 = base[i] + 0.03 * rng.standard_normal(64)
            rows.append((vid, v2.tolist()))
            expected.add((a, vid))
            vid += 1
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["vec_id", "embedding"]))
    out = similarity.cosine_near_dup_pairs(df, threshold=0.95, dim=64).toPandas()
    got = set(zip(out["a"], out["b"]))
    assert expected <= got, f"missed planted pairs: {expected - got}"
    assert (out["sim"] >= 0.95).all()
    # random non-planted vectors are ~orthogonal: no false 0.95+ pairs
    assert got <= expected


def test_multimodal_decode_plumbing(spark, unit_pages_sdf):
    df = multimodal.attach_media(unit_pages_sdf.limit(200))
    meta = df.select("media_meta.*").toPandas()
    assert (meta["n_bytes"] > 0).all()
    assert meta["sha256"].str.len().eq(64).all()
    feats = multimodal.decode_features(df).toPandas()
    assert len(feats) == 200
    ok = feats["decode_error"].isna()
    assert ok.all()
    assert feats.loc[ok, "features"].map(len).eq(16).all()
    # determinism: same bytes -> same features
    f2 = multimodal.decode_features(df).toPandas()
    a = feats.sort_values("url")["features"].map(tuple).to_numpy()
    b = f2.sort_values("url")["features"].map(tuple).to_numpy()
    assert (a == b).all()


def test_multimodal_decode_error_capture(spark):
    pdf = pd.DataFrame({"url": ["u1", "u2"],
                        "html": [b"", b"valid payload bytes"]})
    df = spark.createDataFrame(pdf)
    out = multimodal.decode_features(df).toPandas().set_index("url")
    assert out.loc["u1", "decode_error"] is not None
    assert out.loc["u2", "decode_error"] is None


def test_frame_sample_offsets(spark, unit_pages_sdf):
    df = multimodal.attach_media(unit_pages_sdf.limit(50))
    out = multimodal.frame_sample(df).select("media_meta.n_bytes",
                                             "frame_offsets").toPandas()
    for _, r in out.iterrows():
        offs = list(r["frame_offsets"])
        assert 1 <= len(offs) <= 8
        assert all(0 <= o < r["n_bytes"] for o in offs)
        assert offs == sorted(offs)


def test_ivf_exact_when_probing_all_cells(spark, emb):
    """With nprobe == n_centroids every cell is probed, so IVF degenerates
    to exhaustive search and must reproduce brute force exactly."""
    bf = similarity.cosine_topk_bruteforce(emb, k=5).toPandas()
    ivf = similarity.ivf_cosine_topk(emb, k=5, n_centroids=8, nprobe=8,
                                     dim=64).toPandas()
    assert set(zip(bf["a"], bf["b"])) == set(zip(ivf["a"], ivf["b"]))
    merged = ivf.merge(bf, on=["a", "b"], suffixes=("_ivf", "_bf"))
    assert np.allclose(merged["sim_ivf"], merged["sim_bf"], atol=1e-3)


def test_ivf_recall_clustered(spark):
    """IVF's intended regime: clustered corpus, nprobe << n_centroids.
    10 planted clusters; true top-5 neighbors are in-cluster, so probing 4
    of 16 cells recovers them."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 64)) * 4.0
    vecs = np.concatenate([c + rng.standard_normal((30, 64)) * 0.3
                           for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64),
                        "embedding": [v.astype(np.float32).tolist()
                                      for v in vecs]})
    df = spark.createDataFrame(pdf)
    bf = similarity.cosine_topk_bruteforce(df, k=5).toPandas()
    ivf = similarity.ivf_cosine_topk(df, k=5, n_centroids=16, nprobe=4,
                                     dim=64).toPandas()
    bf_pairs = set(zip(bf["a"], bf["b"]))
    ivf_pairs = set(zip(ivf["a"], ivf["b"]))
    recall = len(bf_pairs & ivf_pairs) / len(bf_pairs)
    assert recall >= 0.9, recall


def test_remove_boilerplate_tokens(spark):
    """DF-threshold pruning: tokens in > threshold fraction of docs are
    dropped everywhere, order preserved, counts consistent; tokens at or
    below the threshold survive."""
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["nav a b nav", "nav c d", "nav e a", "f g h"],
    })
    df = spark.createDataFrame(pdf)
    out = (text.remove_boilerplate_tokens(df, threshold=0.5)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    # 'nav' df=3/4 > 0.5 -> dropped; 'a' df=2/4 <= 0.5 -> kept
    assert out["cleaned"].tolist() == ["a b", "c d", "e a", "f g h"]
    assert out["n_removed"].tolist() == [2, 1, 1, 0]
    assert out["n_kept"].tolist() == [2, 2, 2, 3]


def test_remove_boilerplate_none_hot(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["a b", "c d"]})
    out = (text.remove_boilerplate_tokens(spark.createDataFrame(pdf), 0.9)
           .toPandas().sort_values("doc_id"))
    assert out["cleaned"].tolist() == ["a b", "c d"]
    assert out["n_removed"].tolist() == [0, 0]


def test_boilerplate_properties(spark):
    """Property check on a generated corpus: kept tokens all have document
    frequency <= threshold, removed mass accounts for the rest, and each
    cleaned text is an order-preserving subsequence of the original."""
    rng = np.random.default_rng(11)
    vocab = [f"t{i}" for i in range(20)]
    docs = [" ".join(rng.choice(vocab, size=rng.integers(3, 15)))
            for _ in range(40)]
    pdf = pd.DataFrame({"doc_id": range(40), "text": docs})
    thr = 0.4
    out = (text.remove_boilerplate_tokens(spark.createDataFrame(pdf), thr)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    # independent df computation
    df_count = {}
    for d in docs:
        for t in set(d.split(" ")):
            df_count[t] = df_count.get(t, 0) + 1
    hot = {t for t, n in df_count.items() if n > thr * 40}
    for i, d in enumerate(docs):
        toks = d.split(" ")
        expect = [t for t in toks if t not in hot]
        assert out.loc[i, "cleaned"] == " ".join(expect)
        assert out.loc[i, "n_kept"] == len(expect)
        assert out.loc[i, "n_removed"] == len(toks) - len(expect)


@pytest.mark.parametrize("max_edges", [
    pytest.param(None, id="driver_finish"),
    pytest.param(0, id="contraction")])
def test_min_label_components_chain_and_isolates(spark, monkeypatch,
                                                 max_edges):
    """CC over a planted graph: a 5-chain (0-1-2-3-4), a 2-cycle pair
    (10, 11), and isolates (20, 21) — pointer jumping must converge and
    label every component by its min id, isolates by themselves.  At the
    default CC_DRIVER_MAX_EDGES the driver union-find finishes in round
    1; at 0 every round runs the distributed contraction and path
    compression."""
    from engine import ops
    from engine.ops import min_label_components
    if max_edges is not None:
        monkeypatch.setattr(ops, "CC_DRIVER_MAX_EDGES", max_edges)
    calls = []
    roots = ops.min_label_roots
    monkeypatch.setattr(ops, "min_label_roots",
                        lambda *a: calls.append(a) or roots(*a))
    nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 4, 10, 11, 20, 21]], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 10)], "a long, b long")
    out = (min_label_components(nodes, edges, id_col="id")
           .toPandas().set_index("id")["component_id"].to_dict())
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10,
                   20: 20, 21: 21}
    assert len(calls) == (1 if max_edges is None else 0)


def test_min_label_roots_matches_union_find():
    """The numpy driver union-find equals a per-edge Python union-find
    (min root per component) on random graphs, including a long path
    visited in random id order."""
    from engine.ops import min_label_roots
    rng = np.random.default_rng(5)
    graphs = [(n, rng.integers(0, n, m), rng.integers(0, n, m))
              for n, m in ((1, 0), (7, 0), (50, 30), (200, 150),
                           (300, 900))]
    perm = rng.permutation(500)
    graphs.append((500, perm[:-1], perm[1:]))
    for n, a, b in graphs:
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for x, y in zip(a.tolist(), b.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        want = [find(x) for x in range(n)]
        assert min_label_roots(n, a, b).tolist() == want


def test_dedup_clusters_partition_and_reps(spark, docs):
    """dedup_clusters: every doc assigned, representative = min id of its
    component, kept set = one per cluster.  Cross-checked against a
    single-threaded union-find over the engine's own verified pair
    list."""
    pairs = text.dedup_minhash(docs, threshold=0.5).toPandas()
    out = text.dedup_clusters(docs, threshold=0.5).toPandas()
    n_docs = docs.count()
    assert len(out) == n_docs and out["doc_id"].is_unique

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["a"], pairs["b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {d: find(d) if d in parent else d for d in out["doc_id"]}
    got = dict(zip(out["doc_id"], out["cluster_rep"]))
    assert got == expect
    kept = set(out[out["is_kept"]]["doc_id"])
    assert kept == set(expect[d] for d in expect)


def test_sample_stratified_deterministic_under_repartition(spark):
    """The keep decision is a pure function of the key: identical sample
    under repartition (sampleBy is not), per-stratum rates near nominal,
    unlisted strata dropped."""
    from engine.ops import sample_stratified
    df = spark.range(30000).select(
        F.col("id").alias("key"), (F.col("id") % 3).cast("string").alias("s"))
    fr = {"0": 0.25, "1": 0.75}
    a = sample_stratified(df, fr, "s", key="key").toPandas()
    b = sample_stratified(df.repartition(13), fr, "s", key="key").toPandas()
    assert sorted(a["key"]) == sorted(b["key"])
    n_per = 10000
    assert abs((a["s"] == "0").sum() / n_per - 0.25) < 0.03
    assert abs((a["s"] == "1").sum() / n_per - 0.75) < 0.03
    assert (a["s"] != "2").all()


def test_decontaminate_planted_and_clean(spark):
    """A doc sharing one 3-gram with the benchmark is flagged with the
    right gram count; disjoint docs are clean; short docs (<3 tokens)
    can never be contaminated."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated words appear here today friends"),
         (3, "tiny doc"),
         (4, "we met the quick brown fox yesterday evening")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "a story about the quick brown fox and more")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           text.decontaminate(docs, bench, n=3).collect()}
    assert out[1]["is_contaminated"] and out[4]["is_contaminated"]
    # doc 1 shares 'the quick brown' and 'quick brown fox'
    assert out[1]["n_hit_grams"] == 2
    assert out[4]["n_hit_grams"] == 2
    assert not out[2]["is_contaminated"] and out[2]["n_hit_grams"] == 0
    assert not out[3]["is_contaminated"]


def test_decontaminate_broadcast_plan(spark):
    """The benchmark side must broadcast: the corpus-side probe is
    map-only (no shuffle of doc grams into the join)."""
    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = text.decontaminate(docs, docs, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_known_values(spark):
    """Hand-computed signals: 'a a a b' -> top 3/4, dup (4-2)/4; bigrams
    ('a a','a a','a b') -> top 2/3, dup (3-2)/3; plus empty / single-token
    / all-same edge cases (no bigrams -> 0.0; n=0 -> all 0.0)."""
    rows = [(0, "a a a b"), (1, ""), (2, "word"), (3, "x x x x")]
    out = {r["doc_id"]: r for r in text.repetition_stats(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    r0 = out[0]
    assert r0["n_tokens"] == 4
    assert r0["top_token_frac"] == 3 / 4
    assert r0["dup_token_frac"] == 2 / 4
    assert r0["top_bigram_frac"] == 2 / 3
    assert r0["dup_bigram_frac"] == 1 / 3
    assert out[1]["n_tokens"] == 0
    assert all(out[1][c] == 0.0 for c in
               ("top_token_frac", "dup_token_frac", "top_bigram_frac",
                "dup_bigram_frac"))
    r2 = out[2]
    assert (r2["n_tokens"], r2["top_token_frac"], r2["top_bigram_frac"]) \
        == (1, 1.0, 0.0)
    r3 = out[3]
    assert r3["top_token_frac"] == 1.0 and r3["dup_token_frac"] == 3 / 4
    assert r3["top_bigram_frac"] == 1.0 and r3["dup_bigram_frac"] == 2 / 3


def test_repetition_stats_map_only_plan(spark):
    """A per-doc signal must not shuffle the corpus: no Exchange in the
    executed plan."""
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = text.repetition_stats(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_redact_pii_known_strings(spark):
    """Known inputs: multiple emails, an IPv4, a phone; counts and the
    redacted bytes are hand-checked.  Sequential order (email -> ipv4 ->
    phone) means an email is gone before the ipv4 pass sees the text."""
    rows = [
        (0, "mail a@b.com and c.d+x@e.org end"),
        (1, "server 192.168.0.1 up"),
        (2, "call +44 123 456 7890 today"),
        (3, "clean text only"),
    ]
    out = {r["doc_id"]: r for r in text.redact_pii(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[0]["n_email"] == 2 and out[0]["n_ipv4"] == 0
    assert out[0]["text_redacted"] == "mail [EMAIL] and [EMAIL] end"
    assert out[1]["n_ipv4"] == 1
    assert out[1]["text_redacted"] == "server [IPV4] up"
    assert out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "call [PHONE] today"
    assert out[3]["text_redacted"] == "clean text only"
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) \
        == (0, 0, 0)


def test_redact_pii_map_only_plan(spark):
    docs = spark.createDataFrame([(1, "a@b.co")], ["doc_id", "text"])
    plan = text.redact_pii(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_canonicalize_url_variants(spark):
    """All messy spellings of one page collapse to the same canonical
    form; genuinely different pages do not."""
    variants = [
        "https://host0001.example/p/000000007?a=1&b=2",
        "HTTPS://HOST0001.EXAMPLE/p/000000007?b=2&a=1",
        "https://host0001.example:443/p/000000007?a=1&b=2#frag",
        "https://www.host0001.example/p/000000007?a=1&b=2",
        "https://host0001.example/p/000000007/?a=1&b=2",
        "https://host0001.example/p/000000007?b=2&a=1",
    ]
    others = [
        "https://host0001.example/p/000000008?a=1&b=2",   # other page
        "http://host0001.example:443/p/000000007?a=1&b=2",  # :443 not http's default
        "https://host0001.example/p/000000007?a=2&b=2",   # other params
    ]
    df = spark.createDataFrame([(u,) for u in variants + others], ["url"])
    out = df.select(text.canonicalize_url(F.col("url")).alias("c")) \
        .collect()
    canon = [r["c"] for r in out]
    want = "https://host0001.example/p/000000007?a=1&b=2"
    assert all(c == want for c in canon[:6]), canon[:6]
    assert len(set(canon[6:])) == 3 and want not in canon[6:]
    assert canon[7] == "http://host0001.example:443/p/000000007?a=1&b=2"


def test_dedup_snapshots_latest_and_partial_agg(spark):
    """Keeps max (warc_ts, url) per canonical url with snapshot counts;
    the plan is ONE exchange with a partial (map-side) aggregate below it
    — snapshots combine before the shuffle."""
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, s)
    rows = [("https://a.example/x", t(1)), ("https://A.example/x#f", t(5)),
            ("https://a.example/x/", t(3)), ("https://b.example/y", t(2))]
    df = spark.createDataFrame(rows, ["url", "warc_ts"])
    out = {r["canon_url"]: r for r in text.dedup_snapshots(df).collect()}
    a = out["https://a.example/x"]
    assert a["n_snapshots"] == 3 and a["warc_ts"] == t(5)
    assert a["url"] == "https://A.example/x#f"
    assert out["https://b.example/y"]["n_snapshots"] == 1
    plan = text.dedup_snapshots(df) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial_max_by" in plan or "partial_count" in plan \
        or plan.lower().count("aggregate") >= 2


def test_vocab_topk_exact_and_plan(spark):
    """Exact corpus top-k vocab vs an independent Python count, with
    deterministic (count desc, token asc) tiebreak; the plan takes the
    top-k via TakeOrderedAndProject (per-partition heaps), not a global
    sort of the vocabulary."""
    from collections import Counter
    import re as _re
    rng = np.random.default_rng(7)
    vocab = [f"w{i:02d}" for i in range(30)]
    docs = [" ".join(rng.choice(vocab, size=rng.integers(1, 40)))
            for _ in range(60)]
    pdf = pd.DataFrame({"doc_id": range(60), "text": docs})
    out = text.vocab_topk(spark.createDataFrame(pdf), k=10).collect()
    cnt = Counter(t for d in docs
                  for t in _re.split(r"\W+", d.lower()) if t)
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = sorted(((r["token"], r["n"]) for r in out),
                 key=lambda kv: (-kv[1], kv[0]))
    assert got == expect
    ranks = {r["token"]: r["rank"] for r in out}
    for i, (tok, _) in enumerate(expect, start=1):
        assert ranks[tok] == i
    plan = text.vocab_topk(spark.createDataFrame(pdf), k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_tfidf_topk_exact_and_log_mode(spark):
    """Ratio-idf mode matches an independent Python tf-idf replay
    (scores and ranks); log mode preserves ranks when idf order is
    preserved and scores are the smooth ln form."""
    import math
    import re as _re
    from collections import Counter
    rng = np.random.default_rng(13)
    vocab = [f"w{i:02d}" for i in range(25)]
    docs = [" ".join(rng.choice(vocab, size=rng.integers(2, 30)))
            for _ in range(50)]
    pdf = pd.DataFrame({"doc_id": range(50), "text": docs})
    df = spark.createDataFrame(pdf)
    out = text.tfidf_topk(df, k=4).collect()
    tok = [dict(Counter(t for t in _re.split(r"\W+", d.lower()) if t))
           for d in docs]
    dfreq = Counter(t for c in tok for t in c)
    n = float(len(docs))
    want = {}
    for i, c in enumerate(tok):
        scored = sorted(((tf * (n / dfreq[t]), t, tf) for t, tf in c.items()),
                        key=lambda s: (-s[0], s[1]))[:4]
        for rk, (sc, t, tf) in enumerate(scored, start=1):
            want[(i, t)] = (tf, sc, rk)
    got = {(r["doc_id"], r["token"]): (r["tf"], r["score"], r["rk"])
           for r in out}
    assert got == want
    log_out = text.tfidf_topk(df, k=4, log_idf=True).collect()
    r0 = log_out[0]
    expect = r0["tf"] * (math.log((n + 1.0) / (dfreq[r0["token"]] + 1.0))
                         + 1.0)
    assert abs(r0["score"] - expect) < 1e-9


def test_ngram_topk_exact(spark):
    """Bigram counts vs an independent Python replay; docs shorter than
    n contribute nothing (no empty/negative sequence blowup)."""
    from collections import Counter
    import re as _re
    docs = ["a b c a b", "b c", "a", "", "x y x y x"]
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    out = text.ngram_topk(spark.createDataFrame(pdf), n=2, k=10).collect()
    cnt = Counter()
    for d in docs:
        t = [x for x in _re.split(r"\W+", d.lower()) if x]
        cnt.update(" ".join(t[i:i + 2]) for i in range(len(t) - 1))
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["token"], r["n"]) for r in
           sorted(out, key=lambda r: r["rank"])]
    assert got == want
    tri = text.ngram_topk(spark.createDataFrame(pdf), n=3, k=5).collect()
    assert ("a b c", 1) in {(r["token"], r["n"]) for r in tri}


def test_dedup_spans_known_values(spark):
    """Dup-span removal on a hand-checked corpus: cross-doc dup, self-repeat
    with overlapping coverage merged into one island, untouched doc, empty
    doc, and a doc shorter than n."""
    rows = [
        (1, "alpha beta gamma delta unique one two three"),
        (2, "alpha beta gamma delta something else entirely here"),
        (3, "x y z alpha beta gamma delta alpha beta gamma delta tail"),
        (4, "completely fresh text nothing shared anywhere at all"),
        (5, ""),
        (6, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["n_removed"],
                         r["clean_text"])
           for r in text.dedup_spans(df, n=4, min_count=2).collect()}
    assert got == {
        1: (8, 1, 4, "unique one two three"),
        2: (8, 1, 4, "something else entirely here"),
        3: (12, 1, 8, "x y z tail"),  # self-repeat: tokens 4-11 one island
        4: (8, 0, 0, "completely fresh text nothing shared anywhere at all"),
        5: (0, 0, 0, ""),
        6: (2, 0, 0, "short doc"),
    }


def test_dedup_spans_hash_modes_and_validation(spark):
    """md5_60 exchange mode gives identical output to the xxhash64 fast
    path (identity-equivalent hashes), and parameter envelopes raise."""
    rows = [(i, f"p q r s t{i} common run of words here") for i in range(4)]
    rows += [(10, "common run of words here and more past the span edge"),
             (11, "common run of words here and more past the span edge")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(text.dedup_spans(df, n=5, min_count=2).collect())
    b = sorted(text.dedup_spans(df, n=5, min_count=2,
                                hash_fn="md5_60").collect())
    assert a == b
    assert any(r["n_removed"] > 0 for r in a)
    with pytest.raises(ValueError):
        text.dedup_spans(df, n=0)
    with pytest.raises(ValueError):
        text.dedup_spans(df, min_count=1)
    with pytest.raises(ValueError):
        text.dedup_spans(df, hash_fn="sha1")


def test_dedup_spans_min_count_and_islands(spark):
    """min_count=3 requires three occurrences; two disjoint dup regions in
    one doc stay two islands with the gap text preserved."""
    tri = "one two three four"
    rows = [
        (1, f"{tri} gap1 gap2 {tri}"),      # 2 in-doc + 1 below = 3 total
        (2, f"{tri} solo"),
        (3, "five six seven eight filler five six seven eight"),  # only 2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           text.dedup_spans(df, n=4, min_count=3).collect()}
    assert got[1]["n_dup_spans"] == 2
    assert got[1]["clean_text"] == "gap1 gap2"
    assert got[2]["clean_text"] == "solo"
    # the five-six-seven-eight gram occurs only twice -> survives min_count=3
    assert got[3]["n_removed"] == 0


def test_unigram_lm_score_known_values(spark):
    """mean_freq mode against hand-computed reference counts, including
    OOV tokens, an empty doc, and a doc fully outside the LM vocab."""
    lm_rows = [(100, "the cat sat on the mat"),
               (101, "the dog sat")]
    # LM counts: the=3, cat=1, sat=2, on=1, mat=1, dog=1; T=9
    docs_rows = [(1, "the cat"),        # (3+1)/(2*9)
                 (2, "the zebra"),      # (3+0)/(2*9), 1 oov
                 (3, ""),               # empty
                 (4, "qq ww")]          # all oov -> 0/(2*9)
    lm = spark.createDataFrame(lm_rows, ["doc_id", "text"])
    docs = spark.createDataFrame(docs_rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["score"])
           for r in text.unigram_lm_score(docs, lm_corpus=lm).collect()}
    assert got == {
        1: (2, 0, 4.0 / 18.0),
        2: (2, 1, 3.0 / 18.0),
        3: (0, 0, 0.0),
        4: (2, 2, 0.0),
    }


def test_unigram_lm_score_logprob_golden(spark):
    """logprob mode vs an independent numpy replay (add-one smoothing over
    T + V), and self-scoring default (lm_corpus=None)."""
    import math
    from collections import Counter
    import re as _re

    def toks(s):
        return [x for x in _re.split(r"\W+", s.lower()) if x]

    docs_rows = [(1, "a b a c"), (2, "b b d"), (3, "e f"), (4, "")]
    docs = spark.createDataFrame(docs_rows, ["doc_id", "text"])
    cnt = Counter()
    for _, s in docs_rows:
        cnt.update(toks(s))
    total, vocab = sum(cnt.values()), len(cnt)
    want = {}
    for i, s in docs_rows:
        tt = toks(s)
        if not tt:
            want[i] = 0.0
        else:
            want[i] = sum(math.log((cnt[t] + 1.0) / (total + vocab))
                          for t in tt) / len(tt)
    got = {r["doc_id"]: r["score"] for r in
           text.unigram_lm_score(docs, mode="logprob").collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
    with pytest.raises(ValueError):
        text.unigram_lm_score(docs, mode="perplexity")
    empty = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.unigram_lm_score(docs, lm_corpus=empty)


def test_chunk_documents_known_values(spark):
    """Strided slicing vs a hand-rolled replay: overlap, ragged-tail drop,
    short doc, empty doc, and the non-overlapping default."""
    rows = [(1, " ".join(f"t{i}" for i in range(10))),
            (2, "a b c"),
            (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.chunk_documents(df, max_tokens=4, stride=3, min_tokens=2)
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
           for r in out.collect()}
    # start 10 gives a 1-token tail < min_tokens -> dropped
    assert got == {
        (1, 0): (4, "t0 t1 t2 t3"),
        (1, 1): (4, "t3 t4 t5 t6"),
        (1, 2): (4, "t6 t7 t8 t9"),
        (2, 0): (3, "a b c"),
    }
    # non-overlapping default covers every token exactly once
    nn = text.chunk_documents(df, max_tokens=4).collect()
    tot = sum(r["n_tokens"] for r in nn if r["doc_id"] == 1)
    assert tot == 10
    with pytest.raises(ValueError):
        text.chunk_documents(df, max_tokens=0)
    with pytest.raises(ValueError):
        text.chunk_documents(df, max_tokens=4, stride=0)
    with pytest.raises(ValueError):
        text.chunk_documents(df, max_tokens=4, min_tokens=5)


def test_quality_buckets_exact_and_approx(spark):
    """Exact mode matches a hand ntile; approx mode puts every doc in a
    bucket, respects score monotonicity (a better score never lands in a
    strictly worse bucket), and populations are near-balanced."""
    rows = [(i, float(100 - i)) for i in range(30)]  # doc 0 best
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    ex = {r["doc_id"]: r["bucket"] for r in
          text.quality_buckets(df, n_buckets=3, mode="exact").collect()}
    assert all(ex[i] == 1 for i in range(10))
    assert all(ex[i] == 2 for i in range(10, 20))
    assert all(ex[i] == 3 for i in range(20, 30))
    ap = {r["doc_id"]: r["bucket"] for r in
          text.quality_buckets(df, n_buckets=3, mode="approx").collect()}
    assert set(ap.values()) <= {1, 2, 3}
    ordered = [ap[i] for i in range(30)]  # scores strictly decreasing
    assert ordered == sorted(ordered), ordered
    from collections import Counter
    pops = Counter(ordered)
    assert all(5 <= pops[b] <= 15 for b in (1, 2, 3)), pops
    with pytest.raises(ValueError):
        text.quality_buckets(df, n_buckets=1)
    with pytest.raises(ValueError):
        text.quality_buckets(df, mode="median")


def test_resample_mixture_hits_targets(spark):
    """Mixture resampling on skewed strata: the bottleneck stratum keeps
    everything (f=1), others downsample to the target ratio; output
    matches an independent Python replay of the fraction math + LCG rule,
    and the call is stable under repartition."""
    from engine import ops
    rows = ([(i, "a") for i in range(100)]
            + [(i, "b") for i in range(100, 400)]
            + [(i, "c") for i in range(400, 1000)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    targets = {"a": 0.5, "b": 0.25, "c": 0.25}
    h = F.col("doc_id").cast("long") * F.lit(2654435761) + F.lit(97)
    got = {(r["doc_id"], r["source"]) for r in
           ops.resample_mixture(df, targets, "source", key="doc_id",
                                hash_expr=h).collect()}
    # replay: w normalized, N = min(n/w) = min(200, 1200, 2400) = 200
    tot = sum(targets.values())
    w = {s: v / tot for s, v in targets.items()}
    n = {"a": 100, "b": 300, "c": 600}
    n_out = min(n[s] / w[s] for s in w)
    frac = {s: w[s] * n_out / n[s] for s in w}
    assert frac["a"] == 1.0
    want = {(i, s) for i, s in rows
            if (i * 2654435761 + 97) % (1 << 31) < frac[s] * (1 << 31)}
    assert got == want
    # stable under repartition
    got2 = {(r["doc_id"], r["source"]) for r in
            ops.resample_mixture(df.repartition(7), targets, "source",
                                 key="doc_id", hash_expr=h).collect()}
    assert got2 == got
    # every 'a' row kept (bottleneck stratum), unlisted strata dropped
    assert {i for i, s in rows if s == "a"} == {i for i, s in got if s == "a"}
    with pytest.raises(ValueError):
        ops.resample_mixture(df, {}, "source")
    with pytest.raises(ValueError):
        ops.resample_mixture(df, {"a": 0.5, "b": -1.0}, "source")
    with pytest.raises(ValueError):
        ops.resample_mixture(df, {"a": 0.5, "zz": 0.5}, "source")


def test_pq_adc_topk_clustered_recall(spark):
    """PQ ANN on a planted 4-cluster corpus: every query's top-1 ADC
    neighbor comes from the query's own cluster, ADC ranks correlate
    with true L2 (same-cluster candidates beat cross-cluster ones), and
    parameter envelopes raise."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, 64)) * 5.0
    rows = []
    for i in range(48):
        c = i % 4
        rows.append((i, (centers[c] + 0.1 * rng.standard_normal(64)).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["vec_id", "embedding"]))
    qdf = df.filter(F.col("vec_id") < 4)  # one query per cluster
    out = similarity.pq_adc_topk(df, qdf, k=5, m=4, n_codes=8,
                                 iters=3, dim=64).toPandas()
    assert set(out["a"]) == {0, 1, 2, 3}
    for a, grp in out.groupby("a"):
        grp = grp.sort_values("rk")
        assert len(grp) == 5
        # top-5 by ADC are all same-cluster members (clusters well apart)
        assert all(b % 4 == a % 4 for b in grp["b"]), (a, list(grp["b"]))
        # rk consistent with adc order
        assert list(grp["adc"]) == sorted(grp["adc"])
    with pytest.raises(ValueError):
        similarity.pq_adc_topk(df, qdf, m=5, dim=64)  # 64 % 5 != 0
    with pytest.raises(ValueError):
        similarity.pq_adc_topk(df, df.filter(F.col("vec_id") < 0), m=4)


def test_pq_train_encode_codes_shape(spark):
    """Codes are in [0, n_codes), every vector gets one code per
    subspace, and identical vectors get identical codes."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((10, 8))
    rows = [(i, base[i].tolist()) for i in range(10)]
    rows.append((10, base[0].tolist()))  # duplicate of vec 0
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["vec_id", "embedding"]))
    codes, cents = similarity.pq_train_encode(df, m=2, n_codes=4, iters=2,
                                              dim=8)
    pdf = codes.toPandas().set_index("vec_id")
    assert len(cents) == 2 and all(len(cs) == 4 for cs in cents)
    for s in range(2):
        assert pdf[f"c{s}"].between(0, 3).all()
        assert pdf.loc[10, f"c{s}"] == pdf.loc[0, f"c{s}"]


def test_ivfpq_topk_clustered_recall_and_probe(spark):
    """IVFPQ on a planted 4-cluster corpus: exhaustive probing finds
    same-cluster neighbors for every query; nprobe=1 returns candidates
    only from the query's own (best) cell — still the same-cluster set
    here since clusters align with cells."""
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((4, 64)) * 6.0
    rows = []
    for i in range(48):
        c = i % 4
        rows.append((i, (centers[c] + 0.1 * rng.standard_normal(64)).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["vec_id", "embedding"]))
    qdf = df.filter(F.col("vec_id") < 4)
    full = similarity.ivfpq_topk(df, qdf, k=5, n_cells=4, m=4, n_codes=8,
                                 iters_coarse=3, iters_pq=2,
                                 dim=64).toPandas()
    assert set(full["a"]) == {0, 1, 2, 3}
    for a, grp in full.groupby("a"):
        assert len(grp) == 5
        assert all(b % 4 == a % 4 for b in grp["b"]), (a, list(grp["b"]))
    probe1 = similarity.ivfpq_topk(df, qdf, k=5, n_cells=4, nprobe=1, m=4,
                                   n_codes=8, iters_coarse=3, iters_pq=2,
                                   dim=64).toPandas()
    # with well-separated clusters, probing 1 cell loses no recall
    kf = set(map(tuple, full[["a", "b"]].itertuples(index=False)))
    kp = set(map(tuple, probe1[["a", "b"]].itertuples(index=False)))
    assert kp == kf
    with pytest.raises(ValueError):
        similarity.ivfpq_topk(df, qdf, m=5, dim=64)
    with pytest.raises(ValueError):
        similarity.ivfpq_topk(df, df.filter(F.col("vec_id") < 0))


def test_bm25_topk_golden(spark):
    """BM25 vs an independent Python replay (both idf modes), including a
    query term absent from the corpus, unmatched docs excluded, tie and
    rank order, and validation."""
    import math
    import re as _re
    from collections import Counter

    docs_rows = [
        (1, "spark join hash join merge join"),
        (2, "hash table build side hash hash"),
        (3, "scan parquet pushdown filter scan"),
        (4, "totally unrelated words about cats"),
        (5, "join hash scan join hash scan join extra words here padding"),
    ]
    df = spark.createDataFrame(docs_rows, ["doc_id", "text"])
    terms = ["join", "hash", "missing"]
    k1, b = 1.2, 0.75

    def toks(s):
        return [x for x in _re.split(r"\W+", s.lower()) if x]

    dls = {i: len(toks(s)) for i, s in docs_rows}
    n = len(dls)
    avgdl = sum(dls.values()) / n
    tfs = {i: Counter(t for t in toks(s) if t in terms)
           for i, s in docs_rows}
    dfv = Counter()
    for c in tfs.values():
        dfv.update(c.keys())

    def replay(log_idf):
        out = {}
        for i in dls:
            sc = 0.0
            for t in sorted(tfs[i]):
                tf = tfs[i][t]
                r = (n - dfv[t] + 0.5) / (dfv[t] + 0.5)
                idf = math.log(1.0 + r) if log_idf else r
                sc = sc + idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * (dls[i] / avgdl)))
            if tfs[i]:
                out[i] = sc
        return out

    for mode in (False, True):
        got = {r["doc_id"]: (r["score"], r["rk"]) for r in
               text.bm25_topk(df, terms, k=10, log_idf=mode).collect()}
        want = replay(mode)
        assert got.keys() == want.keys()          # doc 4 excluded
        for i, w in want.items():
            assert abs(got[i][0] - w) < 1e-12, (mode, i, got[i][0], w)
        ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
        assert [i for i, _ in ranked] == [
            i for i, (_, rk) in sorted(got.items(), key=lambda kv: kv[1][1])]
    with pytest.raises(ValueError):
        text.bm25_topk(df, [])
    empty = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.bm25_topk(empty, ["x"])


def test_quantize_int8_known_values(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3],
        "embedding": [[0.5, -1.0, 0.25], [0.0, 0.0, 0.0],
                      [2.0, 1.0, -0.5]]}))
    out = (similarity.quantize_int8(df).toPandas()
           .sort_values(["vec_id", "dim"]))
    got = out.groupby("vec_id")["q"].apply(list).to_dict()
    # v1: scale 1.0 -> [64, -127, 32] (floor(x*127+0.5), half-up)
    assert got[1] == [int(np.floor(x / 1.0 * 127.0 + 0.5))
                      for x in (0.5, -1.0, 0.25)] == [64, -127, 32]
    assert got[2] == [0, 0, 0]          # all-zero vector guard
    assert got[3] == [127, 64, -32]     # scale 2.0; floor(-31.25) = -32
    assert out["q"].between(-127, 127).all()


def test_pack_sequences_known_values(spark):
    """Straddling docs split across bins, empty docs dropped, per-group
    concatenation in doc_id order, every bin full except the group
    tail."""
    rows = [("a", 1, "one two three four five"),
            ("a", 2, ""),                       # dropped
            ("a", 3, "six seven"),
            ("a", 4, "eight nine ten eleven twelve thirteen fourteen"),
            ("b", 10, "x y z")]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = text.pack_sequences(df, capacity=4).collect()
    got = {(r["source"], r["bin_id"], r["doc_id"]):
           (r["start_tok"], r["n_tok"], r["piece"]) for r in out}
    assert got == {
        ("a", 0, 1): (0, 4, "one two three four"),
        ("a", 1, 1): (4, 1, "five"),
        ("a", 1, 3): (0, 2, "six seven"),
        ("a", 1, 4): (0, 1, "eight"),
        ("a", 2, 4): (1, 4, "nine ten eleven twelve"),
        ("a", 3, 4): (5, 2, "thirteen fourteen"),
        ("b", 0, 10): (0, 3, "x y z"),
    }
    with pytest.raises(ValueError):
        text.pack_sequences(df, capacity=0)


def test_pack_sequences_coverage_property(spark):
    """Over a generated corpus: re-assembling pieces per (group, bin) in
    doc order reproduces the group's concatenated token stream exactly,
    with every bin holding exactly `capacity` tokens except each group's
    final one."""
    rows = [(f"s{i % 3}", i,
             " ".join(f"w{i}_{j}" for j in range((i * 7) % 23)))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    cap = 16
    pdf = text.pack_sequences(df, capacity=cap).toPandas()
    for g, gp in pdf.groupby("source"):
        docs = [txt.split() for s, d, txt in sorted(rows) if s == g and txt]
        stream = [w for d in docs for w in d]
        got = " ".join(gp.sort_values(["bin_id", "doc_id"]).piece)
        assert got.split() == stream, g
        sizes = gp.groupby("bin_id").n_tok.sum().sort_index()
        assert all(v == cap for v in sizes[:-1]), (g, list(sizes))
        assert 0 < sizes.iloc[-1] <= cap


def test_dedup_paragraphs_known_values(spark):
    """C4-style paragraph dedup on a hand-checked corpus: cross-doc dup
    keeps the (doc_id, pos)-first copy, within-doc repeat keeps the
    earlier position, short lines bypass dedup (always kept), and a doc
    whose every paragraph lost still emits an empty-text row."""
    rows = [
        (1, "alpha beta\nshared paragraph here\ngamma delta"),
        (2, "shared paragraph here\nfresh text two"),
        (3, "repeat me\nmiddle bit\nrepeat me"),
        (4, "ok\nalpha beta\nok"),        # 'ok' < min_chars: bypasses twice
        (5, "shared paragraph here"),      # loses everything -> empty text
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
           for r in text.dedup_paragraphs(df, min_chars=3).collect()}
    assert got == {
        1: ("alpha beta\nshared paragraph here\ngamma delta", 3, 0),
        2: ("fresh text two", 1, 1),
        3: ("repeat me\nmiddle bit", 2, 1),
        4: ("ok\nok", 0, 1),               # bypass rows kept, dup dropped
        5: ("", 0, 1),
    }


def test_dedup_paragraphs_reassembly_property(spark):
    """Property over a generated corpus with heavy paragraph reuse: the
    multiset of kept paragraphs equals the distinct input paragraphs
    (each exactly once), every kept paragraph sits at its globally first
    (doc_id, pos), and per-doc n_kept + n_dropped == paragraph count."""
    rows = [(i, "\n".join(f"para {(i * 3 + j) % 11}" for j in range(5)))
            for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.dedup_paragraphs(df).toPandas().set_index("doc_id")
    kept = [p for t in out.text for p in (t.split("\n") if t else [])]
    assert sorted(kept) == sorted({f"para {k}" for k in range(11)})
    firsts = {}
    for i, t in sorted(rows):
        for j, p in enumerate(t.split("\n")):
            firsts.setdefault(p, (i, j))
    for i, t in sorted(rows):
        keptset = set((out.loc[i, "text"] or "").split("\n")) - {""}
        want = {p for j, p in enumerate(t.split("\n"))
                if firsts[p] == (i, j)}
        assert keptset == want, i
        assert out.loc[i, "n_kept"] + out.loc[i, "n_dropped"] == 5


def test_dedup_paragraphs_regex_delim_contract(spark):
    """A regex delim (split pattern != literal join separator) must raise
    unless join_str disambiguates; with an explicit join_str the split
    pattern may be a real regex and reassembly uses the literal."""
    df = spark.createDataFrame(
        [(0, "a.b..a"), (1, "c.a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.dedup_paragraphs(df, delim=r"\.+")
    out = {r.doc_id: r.text
           for r in text.dedup_paragraphs(
               df, delim=r"\.+", join_str=".").collect()}
    assert out == {0: "a.b", 1: "c"}


def test_decontaminate_bloom_guarantees(spark):
    """Bloom decontamination structural guarantees: flags are a SUPERSET
    of exact decontaminate's on any corpus (no false negatives), exact
    hits always flag, a pathologically small filter (m=64, k=1) floods
    false positives but still never misses, and the envelopes raise."""
    rows = [(i, " ".join(f"w{(i * 5 + j) % 37}" for j in range(8)))
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = df.filter(F.col("doc_id") % 7 == 0)
    exact = {r["doc_id"]: r["is_contaminated"]
             for r in text.decontaminate(df, bench, n=3).collect()}
    for m, k in [(1 << 12, 4), (64, 1)]:
        got = {r["doc_id"]: r["is_flagged"]
               for r in text.decontaminate_bloom(df, bench, n=3,
                                                 m_bits=m, k=k).collect()}
        assert set(got) == set(exact)
        assert all(got[i] for i, c in exact.items() if c), (m, k)
    with pytest.raises(ValueError):
        text.decontaminate_bloom(df, bench, m_bits=1 << 28)
    with pytest.raises(ValueError):
        text.decontaminate_bloom(df, bench, m_bits=100)
    with pytest.raises(ValueError):
        text.decontaminate_bloom(df, bench, k=0)


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[:], i
        for j, cb in enumerate(b, 1):
            dp[j] = min(prev[j] + 1, dp[j - 1] + 1, prev[j - 1] + (ca != cb))
    return dp[-1]


@pytest.fixture(scope="module")
def fuzzy_corpus(spark):
    """Seeded 60 strings mixing exact dups, 1-2-edit variants, tiny
    strings and the empty string, and fuzzy_pairs' sorted rows over them
    at max_dist 1, 2 and 3."""
    import random
    rng = random.Random(7)
    words = ["spark", "spork", "stark", "shark", "sharp", "parse",
             "spars", "a", "ab", "", "query", "quer", "queue"]
    rows = [(i, rng.choice(words) + rng.choice(["", "s", "x", "ing"]))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {d: sorted((r.id_a, r.id_b, r.dist)
                       for r in text.fuzzy_pairs(df, max_dist=d).collect())
             for d in (1, 2, 3)}
    return rows, df, pairs


def test_fuzzy_pairs_equals_all_pairs(fuzzy_corpus):
    """PassJoin blocking is LOSSLESS: over the seeded corpus the blocked
    join returns exactly the brute-force all-pairs result."""
    import itertools
    rows, _, got = fuzzy_corpus
    for d in (1, 2, 3):
        want = sorted((a, b, _lev(sa, sb))
                      for (a, sa), (b, sb) in itertools.combinations(rows, 2)
                      if _lev(sa, sb) <= d)
        assert got[d] == want, d


def test_fuzzy_lookup_self_equals_fuzzy_pairs(fuzzy_corpus):
    """The two PassJoin callers share their blocking: looking the seeded
    corpus up against itself gives fuzzy_pairs' pairs in both
    orientations plus every string matching itself at distance 0."""
    rows, df, pairs = fuzzy_corpus
    gaz = df.select(F.col("doc_id").alias("gaz_id"),
                    F.col("text").alias("name"))
    for d in (1, 2):
        got = sorted((r.doc_id, r.gaz_id, r.dist) for r in
                     text.fuzzy_lookup(df, gaz, max_dist=d).collect())
        want = sorted(pairs[d] + [(b, a, k) for a, b, k in pairs[d]]
                      + [(i, i, 0) for i, _ in rows])
        assert got == want, d


def test_fuzzy_pairs_envelopes(spark):
    """Long strings and an oversized tiny band raise per contract."""
    df = spark.createDataFrame([(1, "x" * 300), (2, "y")],
                               ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.fuzzy_pairs(df)
    tiny = spark.createDataFrame([(i, "a") for i in range(5)],
                                 ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.fuzzy_pairs(tiny, max_dist=2, tiny_envelope=3)
    with pytest.raises(ValueError):
        text.fuzzy_pairs(tiny, max_dist=0)


def test_dedup_incremental_equals_batch(spark, tmp_path):
    """Incremental probe == batch dedup_minhash over old ∪ new,
    restricted to new-touching pairs with the documented orientation
    (b new; a<b when both new, a historical otherwise); the index ledger
    makes re-appending a batch a no-op, and mismatched index params or a
    missing index raise."""
    rows = [(i, "alpha beta gamma delta epsilon zeta "
             + (f"x{i} " if i % 4 else "")) for i in range(24)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    old = df.filter(F.col("doc_id") < 16)
    new = df.filter(F.col("doc_id") >= 16)
    tbl = str(tmp_path / "didx")
    assert text.dedup_index_write(old.filter(F.col("doc_id") < 8), tbl, 0)
    assert text.dedup_index_write(old.filter(F.col("doc_id") >= 8), tbl, 1)
    assert not text.dedup_index_write(old, tbl, 1)  # replay no-op
    inc = sorted((r.a, r.b, r.jaccard)
                 for r in text.dedup_probe_incremental(spark, new,
                                                       tbl).collect())
    full = sorted((r.a, r.b, r.jaccard)
                  for r in text.dedup_minhash(df, 0.5).collect())
    want = sorted(
        [(a, b, j) for a, b, j in full if b >= 16 and (a < 16 or a < b)]
        + [(b, a, j) for a, b, j in full if a >= 16 and b < 16])
    assert inc == want
    with pytest.raises(ValueError):
        text.dedup_index_write(new, tbl, 2, bands=8)
    with pytest.raises(ValueError):
        text.dedup_probe_incremental(spark, new, str(tmp_path / "none"))


def test_html_to_text_extraction(spark):
    """Extraction semantics: script/style/head blocks dropped (case-
    insensitive, multi-line), tags stripped, one level of entity
    decoding (&amp;amp; -> &amp;), whitespace collapsed — and on the
    engine's synthetic pages the extraction reproduces the stored text
    byte-for-byte (the north-rule invariant)."""
    rows = [
        (1, b"<html><head><title>t</title></head><body><p>Hello "
            b"&amp;amp; <b>world</b></p><script>var x='<p>';</script>"
            b"</body></html>"),
        (2, b"<HTML><BODY>A&nbsp;&lt;tag&gt;  spaced\n lines</BODY></HTML>"),
        (3, b"<style type='text/css'>p{color:red}</style>plain"),
        (4, b"no markup at all"),
        # <header> must NOT match the head-dropping pattern even when a
        # later literal </head> exists (malformed multi-head document)
        (5, b"<header>Visible banner</header><p>body</p></head>tail"),
    ]
    df = spark.createDataFrame(rows, ["id", "html"])
    got = {r.id: r.extracted_text
           for r in text.html_to_text(df).collect()}
    assert got == {1: "Hello &amp; world", 2: 'A <tag> spaced lines',
                   3: "plain", 4: "no markup at all",
                   5: "Visible banner body tail"}
    from engine.datagen import web_pages_from_events
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pages = text.html_to_text(web_pages_from_events(ev))
    n_bad = pages.filter(
        F.col("extracted_text") != F.col("text")).count()
    assert n_bad == 0


# ------------------------------------------------- jaccard_prefix_join


def _py_shingle_pairs(rows, tau_pct, n=3):
    """Definition replay in pure Python: 3-gram shingle sets, every pair
    with 100*inter >= tau*union."""
    import re
    sets = {}
    for i, txt in rows:
        t = [w for w in re.split(r"\W+", txt.lower()) if w]
        sets[i] = {" ".join(t[j:j + n]) for j in range(len(t) - n + 1)}
    ids = sorted(sets)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sets[a] or not sets[b]:
                continue
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if 100 * i >= tau_pct * u:
                out[(a, b)] = (i, u)
    return out


_JPJ_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog near the old barn"),
    (2, "the quick brown fox jumps over the lazy dog near the new barn"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "a completely different sentence about spark shuffle exchanges"),
    (5, "a completely different sentence about spark shuffle behavior"),
    (6, "the quick brown fox jumps over the lazy dog near the old barn"),
    (7, "short text"),            # < 3 tokens: empty shingle set, no pairs
    (8, "the the the the the the the the the the the the the"),  # hot token
    (9, "the the the the the the the the the the the the door"),
]


@pytest.mark.parametrize("tau", [20, 50, 80, 100])
def test_jaccard_prefix_join_matches_definition(spark, tau):
    df = spark.createDataFrame(_JPJ_ROWS, ["doc_id", "text"])
    got = {(r["a"], r["b"]): (r["inter_size"], r["union_size"])
           for r in text.jaccard_prefix_join(df, tau_pct=tau).collect()}
    assert got == _py_shingle_pairs(_JPJ_ROWS, tau)


def test_jaccard_prefix_join_agrees_with_allpairs_twin(spark):
    # same pair set as the documented all-pairs twin at the same tau
    df = spark.createDataFrame(_JPJ_ROWS, ["doc_id", "text"])
    fast = {(r["a"], r["b"])
            for r in text.jaccard_prefix_join(df, tau_pct=30).collect()}
    brute = {(r["a"], r["b"])
             for r in text.ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert fast == brute


def test_jaccard_prefix_join_validates_tau(spark):
    df = spark.createDataFrame(_JPJ_ROWS[:2], ["doc_id", "text"])
    for bad in (0, 101, 50.0, -3):
        with pytest.raises(ValueError):
            text.jaccard_prefix_join(df, tau_pct=bad)


# ------------------------------------------------------ PMI collocations


def _python_pmi(texts, min_count):
    """Independent replay: regex tokenize, positional bigram/unigram
    counts, the identical left-assoc IEEE ratio tree in Python floats."""
    import re
    docs = [[t for t in re.split(r"\W+", s.lower()) if t] for s in texts]
    uni, bg = {}, {}
    for toks in docs:
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    nu, nb = float(sum(uni.values())), float(sum(bg.values()))
    return {(a, b): (c, uni[a], uni[b],
                     float(c) * nu * nu / (float(uni[a]) * float(uni[b]) * nb))
            for (a, b), c in bg.items() if c >= min_count}


def test_pmi_collocations_match_python(spark):
    texts = ["new york is big big big", "new york new york",
             "big apple in new york", "the apple is big",
             "york new", "in in in new york"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = {(r["w1"], r["w2"]): (r["c_ab"], r["c_a"], r["c_b"],
                                r["pmi_ratio"])
           for r in text.pmi_collocations(df, min_count=2).collect()}
    want = _python_pmi(texts, 2)
    assert got == want  # ratio compared bit-for-bit (identical IEEE tree)
    # min_count prunes singleton bigrams; the planted collocation outranks
    # a same-frequency pair of more common tokens ("in new": both frequent)
    assert ("the", "apple") not in got
    assert got[("new", "york")][0] == 5
    assert got[("new", "york")][3] > got[("in", "new")][3]


def test_pmi_collocations_validates(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["a b"]}))
    with pytest.raises(ValueError):
        text.pmi_collocations(df, min_count=0)
    empty = spark.createDataFrame(pd.DataFrame({"text": ["single"]}))
    with pytest.raises(ValueError):
        text.pmi_collocations(empty, min_count=1)


# ----------------------------------------- inverted index / phrase search


def _pytok(s):
    import re
    return [t for t in re.split(r"\W+", s.lower()) if t]


def test_inverted_index_matches_python(spark):
    texts = {1: "the cat sat on the mat", 2: "cat cat cat", 3: "dog",
             4: ""}
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    got = {(r["token"], r["doc_id"]): (r["tf"], r["positions"], r["df"])
           for r in text.build_inverted_index(df).collect()}
    post = {}
    for d, s in texts.items():
        for p, t in enumerate(_pytok(s)):
            post.setdefault((t, d), []).append(p)
    dfreq = {}
    for (t, _d) in post:
        dfreq[t] = dfreq.get(t, 0) + 1
    want = {(t, d): (len(ps), ",".join(map(str, ps)), dfreq[t])
            for (t, d), ps in post.items()}
    assert got == want
    assert got[("the", 1)] == (2, "0,4", 1)
    assert got[("cat", 2)][0] == 3 and got[("cat", 2)][2] == 2


def test_phrase_search_adjacency_and_overlap(spark):
    texts = {1: "new york new york city", 2: "york new", 3: "new new york",
             4: "newyork", 5: "a new york a"}
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    got = {r["doc_id"]: (r["n_matches"], r["first_pos"])
           for r in text.phrase_search(df, ["new", "york"]).collect()}
    assert got == {1: (2, 0), 3: (1, 1), 5: (1, 1)}
    # overlapping self-adjacency: "a a a" has TWO "a a" occurrences
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["a a a"]}))
    got2 = {r["doc_id"]: (r["n_matches"], r["first_pos"])
            for r in text.phrase_search(df2, ["a", "a"]).collect()}
    assert got2 == {9: (2, 0)}
    with pytest.raises(ValueError):
        text.phrase_search(df, [])


def test_perceptual_hash_properties(spark):
    rows = [("u1", bytearray(b"<html>alpha</html>")),
            ("u2", bytearray(b"<html>beta</html>")),
            ("u3", bytearray(b"<html>alpha</html>")),  # dup of u1
            ("u4", bytearray(b""))]                    # decode error
    df = spark.createDataFrame(rows, ["url", "html"])
    out = {r["url"]: r for r in
           multimodal.perceptual_hash(df).collect()}
    # determinism: identical payloads -> identical signature
    assert out["u1"]["phash"] == out["u3"]["phash"]
    assert out["u1"]["phash"] != out["u2"]["phash"]
    # the fake decoder's 16-dim vector repeats its 8 digest words, so
    # the bit pattern repeats with period 8: phash = low_byte * 257
    for u in ("u1", "u2"):
        p = out[u]["phash"]
        assert p == (p & 0xFF) * 257
        assert out[u]["n_set"] == bin(p).count("1")
        assert out[u]["decode_error"] is None
    # corrupt payload flags, never fails the job
    assert out["u4"]["phash"] is None
    assert "empty media payload" in out["u4"]["decode_error"]


def test_fuzzy_lookup_matches_brute(spark):
    import pandas as pd
    import pytest as _pt
    from pyspark.sql import functions as F
    from engine import text

    gaz = [(0, "springfield"), (1, "shelbyville"), (2, "ogdenville"),
           (3, "np"), (4, "x")]          # two tiny entries (len <= 2)
    corp = [(100, "springfeld"),          # deletion typo -> 0
            (101, "shelbyvile"),          # -> 1
            (102, "ogdenville"),          # exact -> 2
            (103, "qq"),                  # within 2 of 'np' and 'x'
            (104, "zzzzzzzzzz")]          # no match
    gdf = spark.createDataFrame(pd.DataFrame(gaz, columns=["gaz_id", "name"]))
    cdf = spark.createDataFrame(
        pd.DataFrame(corp, columns=["doc_id", "text"]))
    got = {(r["doc_id"], r["gaz_id"]): (r["dist"], r["is_best"])
           for r in text.fuzzy_lookup(cdf, gdf, max_dist=2).collect()}
    brute = {}
    for did, t in corp:
        ms = sorted((_lev(t, n), gid) for gid, n in gaz
                    if _lev(t, n) <= 2)
        for i, (dd, gid) in enumerate(ms):
            brute[(did, gid)] = (dd, i == 0)
    assert got == brute
    assert got[(100, 0)] == (1, True)
    assert got[(102, 2)] == (0, True)
    assert (103, 3) in got              # tiny-gazetteer branch
    assert not any(k[0] == 104 for k in got)
    with _pt.raises(ValueError):
        text.fuzzy_lookup(cdf, gdf.limit(0))
    with _pt.raises(ValueError):
        text.fuzzy_lookup(cdf, gdf, max_gaz=2)
    with _pt.raises(ValueError):
        text.fuzzy_lookup(cdf, gdf, tiny_envelope=1)
    long = cdf.withColumn("text", F.rpad("text", 500, "a"))
    with _pt.raises(ValueError):
        text.fuzzy_lookup(long, gdf, max_len=256)
