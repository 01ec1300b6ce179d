"""Trained hashed-feature logistic regression (engine/classifier.py):
learnability on a planted separable corpus, exact-quant parity vs an
independent numpy replay, float-mode parity vs a numpy golden, and the
featurize edge cases (zero-token docs, binary vs count features)."""

import hashlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.classifier import (RESID_SCALE, WEIGHT_SCALE, apply_classifier,
                               featurize, train_quality_classifier)


def _docs(spark):
    """Planted corpus: docs mentioning 'aardvark' are positive; a shared
    background vocabulary plus one zero-token doc and one near-collision
    distractor word per positive word."""
    rng = np.random.default_rng(7)
    base = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta",
            "iota", "kappa", "lam", "mu", "nu"]
    rows = []
    for i in range(120):
        toks = list(rng.choice(base, size=12))
        if i % 3 == 0:
            toks.insert(int(rng.integers(0, 12)), "aardvark")
        rows.append((i, " ".join(toks)))
    rows.append((120, ""))          # zero-token doc (negative)
    return spark.createDataFrame(pd.DataFrame(rows,
                                              columns=["doc_id", "text"]))


def _numpy_features(texts, dims, binary=True):
    X = np.zeros((len(texts), dims + 1), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = [x for x in re.split(r"\W+", t.lower()) if x]
        bs = [int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dims
              for tok in toks]
        if binary:
            for b in set(bs):
                X[i, b] = 1
        else:
            for b in bs:
                X[i, b] += 1
        X[i, dims] = 1
    return X


def _numpy_train_quant(X, y, rounds, lr_num):
    """Independent replay of the quant contract (module docstring)."""
    Q, S = float(WEIGHT_SCALE), float(RESID_SCALE)
    n = len(y)
    wq = np.zeros(X.shape[1], dtype=np.int64)
    for _ in range(rounds):
        m = (X @ wq).astype(np.float64) / Q
        p = 0.5 + 0.5 * m / (1.0 + np.abs(m))
        r = np.floor((p - y) * S + 0.5).astype(np.int64)
        wq = wq - np.floor(lr_num * (X.T @ r) / (S * n) + 0.5).astype(np.int64)
    return wq


def test_quant_learns_and_matches_numpy(spark):
    docs = _docs(spark).cache()
    pdf = docs.orderBy("doc_id").toPandas()
    y = np.array(["aardvark" in t.split() for t in pdf["text"]], np.int64)
    label = F.array_contains(F.split(F.col("text"), r"\s+"),
                             F.lit("aardvark"))
    dims, rounds = 128, 8
    wq, feats = train_quality_classifier(docs, label, dims=dims,
                                         rounds=rounds)
    out = (apply_classifier(feats, wq)
           .orderBy("doc_id").toPandas())
    feats.unpersist()
    # independent numpy replay: identical weights, margins, probs, preds
    X = _numpy_features(pdf["text"], dims)
    wq_np = _numpy_train_quant(X, y, rounds, 2048)
    assert list(wq) == wq_np.tolist()
    mm = X @ wq_np
    np.testing.assert_array_equal(out["margin_micro"].to_numpy(), mm)
    m = mm.astype(np.float64) / WEIGHT_SCALE
    p = 0.5 + 0.5 * m / (1.0 + np.abs(m))
    np.testing.assert_array_equal(out["prob"].to_numpy(), p)  # bit-exact
    # and it LEARNS: planted marker is linearly separable
    assert (out["pred"].to_numpy() == y).mean() == 1.0
    assert 0.2 < y.mean() < 0.5  # non-degenerate base rate
    docs.unpersist()


def test_all_training_paths_identical(spark, monkeypatch):
    """The three quant training paths — distributed Arrow gradient
    kernel, distributed expression form, and the sub-envelope driver
    (collected numpy) side — are bit-identical twins: same weights
    after every round (integer matvec margins + elementwise IEEE residual
    chain in all three).  Each side is forced through
    MAX_DRIVER_TRAIN_BYTES, and the kernel / expression calls show
    which side ran."""
    from engine import classifier
    docs = _docs(spark)
    label = F.array_contains(F.split(F.col("text"), r"\s+"),
                             F.lit("aardvark"))
    calls = []

    def spy(name):
        real = getattr(classifier, name)

        def wrapped(*args):
            calls.append(name)
            return real(*args)
        monkeypatch.setattr(classifier, name, wrapped)
    spy("_grad_arrow")
    spy("_margin_micro")
    rounds = 3
    ws = []
    for limit, use_arrow, ran in ((-1, True, ["_grad_arrow"] * rounds),
                                  (-1, False, ["_margin_micro"] * rounds),
                                  (1 << 62, True, [])):
        monkeypatch.setattr(classifier, "MAX_DRIVER_TRAIN_BYTES", limit)
        calls.clear()
        w, f = train_quality_classifier(docs, label, dims=64, rounds=rounds,
                                        use_arrow=use_arrow)
        f.unpersist()
        assert calls == ran
        ws.append(w)
    assert ws[0] == ws[1] == ws[2]


def test_float_mode_matches_numpy_golden(spark):
    docs = _docs(spark)
    pdf = docs.orderBy("doc_id").toPandas()
    y = np.array(["aardvark" in t.split() for t in pdf["text"]], np.float64)
    label = F.array_contains(F.split(F.col("text"), r"\s+"),
                             F.lit("aardvark"))
    dims, rounds, lr = 64, 6, 2.0
    w, feats = train_quality_classifier(docs, label, dims=dims,
                                        rounds=rounds, mode="float",
                                        lr_num=2048)
    out = apply_classifier(feats, w, mode="float").orderBy("doc_id").toPandas()
    feats.unpersist()
    X = _numpy_features(pdf["text"], dims).astype(np.float64)
    wg = np.zeros(dims + 1)
    n = len(y)
    for _ in range(rounds):
        p = 1.0 / (1.0 + np.exp(-(X @ wg)))
        wg = wg - lr * (X.T @ (p - y)) / n
    np.testing.assert_allclose(np.array(w), wg, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(out["margin"].to_numpy(), X @ wg,
                               rtol=1e-9, atol=1e-12)


def test_featurize_zero_token_and_count_mode(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["dog dog cat", ""]}))
    for binary, want_total in ((True, 2), (False, 3)):
        fv = (featurize(df, F.lit(1), dims=16, binary=binary)
              .orderBy("doc_id").toPandas()["fv"])
        assert len(fv[0]) == 17 and fv[0][-1] == 1
        assert sum(fv[0][:-1]) == want_total
        assert sum(fv[1][:-1]) == 0 and fv[1][-1] == 1  # zero-token doc


def test_quant_envelope_raises(spark):
    import engine.classifier as C
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}))
    old = C.MAX_TRAIN_ROWS
    C.MAX_TRAIN_ROWS = 2
    try:
        with pytest.raises(ValueError, match="envelope"):
            train_quality_classifier(df, F.lit(1), dims=8, rounds=1)
    finally:
        C.MAX_TRAIN_ROWS = old
