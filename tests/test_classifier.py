"""Batch-perceptron quality classifier (operators/classifier.py):
integer-exact distributed training.  Core claim: the epoch trajectory is
order- and partitioning-independent int64 math, so a pure-python replay
reproduces Spark's weights exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataslicer_spark.operators.classifier import (
    add_text_features,
    batch_perceptron_fit,
    perceptron_predict,
)


def _numpy_fit(X, y, n_epochs, lr=1):
    w = np.zeros(X.shape[1] + 1, dtype=np.int64)
    Xb = np.hstack([np.ones((len(X), 1), dtype=np.int64), X])
    for _ in range(n_epochs):
        m = y * (Xb @ w) <= 0
        w = w + lr * (Xb[m] * y[m, None]).sum(axis=0)
    return w


@pytest.fixture(scope="module")
def toy(spark):
    rng = np.random.default_rng(11)
    X = rng.integers(0, 50, size=(200, 3))
    y = np.where(2 * X[:, 0] - X[:, 1] + 3 * X[:, 2] - 60 > 0, 1, -1)
    rows = [
        (int(i), int(y[i]), int(X[i, 0]), int(X[i, 1]), int(X[i, 2]))
        for i in range(len(X))
    ]
    df = spark.createDataFrame(rows, "id long, y int, a long, b long, c long")
    return X, y, df


def test_fit_matches_numpy_replay(toy):
    X, y, df = toy
    for epochs in (1, 4):
        w_np = _numpy_fit(X.astype(np.int64), y.astype(np.int64), epochs)
        w_sp = batch_perceptron_fit(df, ["a", "b", "c"], "y", n_epochs=epochs)
        assert list(w_np) == w_sp


def test_fit_partitioning_invariance(toy):
    _, _, df = toy
    a = batch_perceptron_fit(df, ["a", "b", "c"], "y", n_epochs=3)
    b = batch_perceptron_fit(
        df.repartition(17), ["a", "b", "c"], "y", n_epochs=3
    )
    assert a == b


def test_predict_scores_and_zero_margin(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, -1), (3, 0)], "id long, a long"
    )
    out = {
        r.id: (r.score, r.pred)
        for r in perceptron_predict(df, ["a"], [0, 1]).collect()
    }
    assert out == {1: (2, 1), 2: (-1, -1), 3: (0, -1)}  # 0 margin → −1


def test_null_rows_ignored_in_fit_scored_null_in_predict(spark):
    df = spark.createDataFrame(
        [(1, 1, 10), (2, -1, None), (3, -1, 2)],
        "id long, y int, a long",
    )
    w = batch_perceptron_fit(df, ["a"], "y", n_epochs=2)
    w_np = _numpy_fit(
        np.array([[10], [2]], dtype=np.int64),
        np.array([1, -1], dtype=np.int64),
        2,
    )
    assert w == list(w_np)
    scored = {r.id: (r.score, r.pred) for r in
              perceptron_predict(df, ["a"], w).collect()}
    assert scored[2] == (None, -1)


def test_learns_separable_quality_signal(spark):
    # origin-separable signal (batch-gradient perceptron steps move the
    # whole misclassified sum at once, so a separator far from the origin
    # needs many epochs — centered features converge in a few)
    rows = [(i, 1, 1 + i) for i in range(20)] + [
        (100 + i, -1, -1 - i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id long, y int, f long")
    w = batch_perceptron_fit(df, ["f"], "y", n_epochs=10)
    out = perceptron_predict(df, ["f"], w)
    acc = out.filter(F.col("pred") == F.col("y")).count() / out.count()
    assert acc == 1.0


def test_text_features_match_manual(spark):
    df = spark.createDataFrame(
        [(1, "Ab c, 12!")], "doc_id long, text string"
    )
    r = add_text_features(df).collect()[0]
    assert (r.f_len, r.f_spaces, r.f_digits, r.f_upper, r.f_punct) == (
        9, 2, 2, 1, 2
    )


def test_lr_schedule_matches_numpy_and_validates(toy):
    X, y, df = toy

    def np_fit(schedule):
        w = np.zeros(X.shape[1] + 1, dtype=np.int64)
        Xb = np.hstack([np.ones((len(X), 1), dtype=np.int64), X])
        for lr in schedule:
            m = y * (Xb @ w) <= 0
            w = w + lr * (Xb[m] * y[m, None]).sum(axis=0)
        return list(w)

    sched = [8, 4, 2, 1]
    got = batch_perceptron_fit(
        df, ["a", "b", "c"], "y", n_epochs=4, lr=sched
    )
    assert got == np_fit(sched)
    with pytest.raises(ValueError, match="schedule"):
        batch_perceptron_fit(df, ["a"], "y", n_epochs=3, lr=[1, 2])


def test_substring_count_literal_only(spark):
    from dataslicer_spark.operators.classifier import substring_count

    df = spark.createDataFrame([(1, "aXbXXc")], "id long, t string")
    assert df.select(substring_count(F.col("t"), "X").alias("n")).first().n == 3
    assert (
        df.select(substring_count(F.col("t"), "XX").alias("n")).first().n == 1
    )
    with pytest.raises(ValueError, match="literal"):
        substring_count(F.col("t"), "a.*b")


def test_engines_agree_and_validate(toy, monkeypatch):
    """The fit takes the expression path at ≤ ``EXPR_MAX_FEATURES``
    features and the Arrow kernel beyond; forcing each path through the
    bound gives identical weights."""
    from dataslicer_spark.operators import classifier

    X, y, df = toy
    sched = [4, 2, 1]
    calls = []
    orig = classifier._fit_arrow

    def spy(*args):
        calls.append(1)
        return orig(*args)

    monkeypatch.setattr(classifier, "_fit_arrow", spy)
    a = batch_perceptron_fit(df, ["a", "b", "c"], "y", n_epochs=3, lr=sched)
    assert not calls
    monkeypatch.setattr(classifier, "EXPR_MAX_FEATURES", 2)
    b = batch_perceptron_fit(df, ["a", "b", "c"], "y", n_epochs=3, lr=sched)
    assert calls
    assert a == b


def test_wide_fit_runs_one_job_per_epoch(spark, count_jobs):
    """The Arrow path (> ``EXPR_MAX_FEATURES`` = 16 features) reduces
    each epoch's partial gradients on the driver: one job per epoch on a
    materialized input, and the same weights as the numpy replay."""
    from dataslicer_spark.utils import materialize

    rng = np.random.default_rng(5)
    X = rng.integers(-3, 4, size=(150, 20))
    y = np.where(X[:, :5].sum(axis=1) > 0, 1, -1)
    cols = [f"x{j}" for j in range(X.shape[1])]
    rows = [(int(y[i]), *map(int, X[i])) for i in range(len(X))]
    schema = "y int, " + ", ".join(f"{c} long" for c in cols)
    df = materialize(spark.createDataFrame(rows, schema).repartition(3))
    w, jobs = count_jobs(lambda: batch_perceptron_fit(df, cols, "y", n_epochs=4))
    assert jobs == 4
    assert w == list(_numpy_fit(X.astype(np.int64), y.astype(np.int64), 4))


def test_hashed_bow_features(spark):
    import hashlib

    from dataslicer_spark.operators.classifier import hashed_bow_features

    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, ""), (3, None), (4, "  cat  ")],
        "doc_id long, text string",
    )
    dim = 8
    out = hashed_bow_features(
        df.filter(F.col("text").isNotNull()), "doc_id", "text", dim=dim
    )
    rows = {r.doc_id: [r[f"f{j}"] for j in range(dim)] for r in out.collect()}
    slot = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
    want1 = [0] * dim
    want1[slot("cat")] += 2
    want1[slot("dog")] += 1
    assert rows[1] == want1
    assert rows[2] == [0] * dim          # empty text → all-zero row kept
    want4 = [0] * dim
    want4[slot("cat")] = 1
    assert rows[4] == want4


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_hashed_bow_null_and_empty_text_give_zero_rows(spark, ansi):
    """NULL text counts as no tokens under both ANSI settings (size(NULL)
    is NULL with ANSI on and −1 with it off; the slot array is coalesced
    before counting)."""
    from dataslicer_spark.operators.classifier import hashed_bow_features

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = hashed_bow_features(df, "doc_id", "text", dim=4).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert sorted((r.doc_id, r.f0, r.f1, r.f2, r.f3) for r in rows) == [
        (1, 0, 0, 0, 0), (2, 0, 0, 0, 0), (3, 0, 0, 0, 0)
    ]


def test_hashed_bow_keeps_rows_and_input_columns(spark):
    """Output rows are 1:1 with input rows — duplicate ids are not merged
    — and carry every input column ahead of the counts."""
    from dataslicer_spark.operators.classifier import hashed_bow_features

    df = spark.createDataFrame(
        [(1, "cat", 10), (1, "cat cat", 11), (2, "dog", 12)],
        "doc_id long, text string, n int",
    )
    out = hashed_bow_features(df, "doc_id", "text", dim=4)
    assert out.columns == ["doc_id", "text", "n", "f0", "f1", "f2", "f3"]
    got = sorted(
        (r.doc_id, r.n, r.f0 + r.f1 + r.f2 + r.f3) for r in out.collect()
    )
    assert got == [(1, 10, 1), (1, 11, 2), (2, 12, 1)]


def test_hashed_bow_is_one_map_only_job(spark, sf_dir, count_jobs):
    """Featurizing a scan is a projection: materializing it runs one job,
    and the plan has no shuffle, join or aggregate."""
    import os

    from dataslicer_spark.operators.classifier import hashed_bow_features
    from dataslicer_spark.utils import materialize

    scan = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    feats = hashed_bow_features(scan, "doc_id", "text")
    plan = feats._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Join", "Aggregate"):
        assert node not in plan
    assert plan.count("md5(") == 1  # once per token, not once per slot
    _, jobs = count_jobs(lambda: materialize(feats))
    assert jobs == 1


def test_sql_text_paths_quote_column_names(spark, toy):
    """The fit, predict and featurize expressions are SQL text: column
    names with spaces, dashes and backticks give the same results as
    plain names."""
    from dataslicer_spark.operators import classifier
    from dataslicer_spark.operators.classifier import hashed_bow_features

    _, _, df = toy
    odd = ["a b", "x-y", "q`t"]
    df_odd = df.toDF("id", "l-y", *odd)
    for bound in (16, 0):  # expression path, then the Arrow kernel
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(classifier, "EXPR_MAX_FEATURES", bound)
            w = batch_perceptron_fit(df, ["a", "b", "c"], "y", n_epochs=3)
            assert batch_perceptron_fit(df_odd, odd, "l-y", n_epochs=3) == w
    want = {r.id: r.score for r in perceptron_predict(df, ["a", "b", "c"], w).collect()}
    got = {r.id: r.score for r in perceptron_predict(df_odd, odd, w).collect()}
    assert got == want

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, None), (3, "dog bird")],
        "doc_id long, text string",
    )
    plain = hashed_bow_features(docs, "doc_id", "text", dim=8)
    quoted = hashed_bow_features(
        docs.toDF("a b", "x-y"), "a b", "x-y", dim=8, prefix="q`t"
    )
    assert quoted.columns == ["a b", "x-y", *[f"q`t{j}" for j in range(8)]]
    assert sorted(tuple(r) for r in quoted.collect()) == sorted(
        tuple(r) for r in plain.collect()
    )
