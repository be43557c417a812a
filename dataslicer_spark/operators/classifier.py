"""Distributed linear-classifier training — the quality-filter model stage
of an LLM data pipeline (CCNet/LLaMA-style corpora train a fastText
classifier and keep documents it scores as "high quality"; this module
provides the distributed-training shape with an exactly-verifiable
algorithm).

Batch perceptron, integer-exact: per epoch, every misclassified row
contributes ``y·x`` to a gradient sum; weights update once per epoch
(``w += lr · Σ y·x``).  With integer features and labels the whole
trajectory is int64 — order-independent sums, no floats anywhere — so
the n-epoch training run replays bit for bit in the DuckDB oracle
(chained CTEs), the same device as operators/kmeans.py.

Scale design mirrors every distributed SGD/L-BFGS implementation:

- weights reach the executors each epoch as literal expressions for
  ≤ ``EXPR_MAX_FEATURES`` features (scan → filter → partial aggregate,
  pure JVM whole-stage codegen, no Python) and inside an Arrow kernel
  beyond — the fit picks the path from the feature count;
- the wire carries one (d+1)-vector per partition per epoch, never
  per-row gradients: the map-side partial aggregate, or on the Arrow
  path one binary row per partition that ``utils.sum_partials`` sums
  on the driver — one job per epoch, at most
  ``SUM_PARTIALS_MAX_CELLS`` int64 cells collected at once (a √P tree
  level pre-sums beyond that);
- the driver holds d ints — model state is microscopic;
- prediction is a map-only literal-weights projection.

The wide expressions — the weighted sum, the fit's null filter and the
expression path's gradient sums — are built as one SQL string each
(``F.expr`` / ``filter(str)`` / ``selectExpr``), never as a Python
``Column`` tree: every ``F.lit``/``F.col``/operator node is a Py4J
round trip, and a 64-feature dot product or null filter built node by
node cost 0.25–0.5 s of driver time per call before Spark saw a plan.
Column names are backtick-quoted (``utils.sql_ident``), so names with
spaces, dashes or backticks stay safe.

Batch (not sequential) perceptron is the deliberate choice: classic
per-sample perceptron updates are order-dependent and cannot be
distributed or replayed; the batch variant is a parallel gradient step
on the perceptron criterion (Duda & Hart §5.5 "many-at-a-time"), loses
nothing for a filtering model, and is engine-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import check_col, sql_ident, sum_partials

#: Widest feature set the fit runs as JVM aggregate expressions; wider
#: ones run the Arrow kernel.  A (d+1)-aggregate expression is compiled
#: afresh EVERY epoch (new weight literals), which dominated a 64-feature
#: fit at ~3 s/epoch vs ~0.3 s for the kernel.
EXPR_MAX_FEATURES = 16

#: (name, builder) — integer surface features computable identically in
#: Spark and ANSI SQL (simple character classes only: Java regex and RE2
#: agree on these).  The bias constant is prepended by the trainer.
def text_feature_exprs(text: Column) -> dict[str, Column]:
    """Integer quality-surface features of a text column."""
    return {
        "f_len": F.length(text).cast("long"),
        "f_spaces": (
            F.length(text) - F.length(F.regexp_replace(text, " ", ""))
        ).cast("long"),
        "f_digits": F.length(F.regexp_replace(text, "[^0-9]", "")).cast("long"),
        "f_upper": F.length(F.regexp_replace(text, "[^A-Z]", "")).cast("long"),
        "f_punct": F.length(
            F.regexp_replace(text, "[^.,!?]", "")
        ).cast("long"),
    }


def substring_count(text: Column, pattern: str) -> Column:
    """Occurrences of a literal substring, as the portable
    ``(len(t) − len(replace_all(t, pat, ''))) / len(pat)`` identity —
    integer-exact and identical in Spark and ANSI SQL.  ``pattern`` must
    be regex-free (it is passed to ``regexp_replace`` verbatim)."""
    if not pattern or set(pattern) & set("\\^$.|?*+()[]{}"):
        raise ValueError(
            f"substring_count needs a literal pattern, got {pattern!r}"
        )
    diff = F.length(text) - F.length(F.regexp_replace(text, pattern, ""))
    return (diff / F.lit(len(pattern))).cast("long")


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard feature columns (map-only, JVM)."""
    check_col(text_col, df)
    out = df
    for name, expr in text_feature_exprs(F.col(text_col)).items():
        out = out.withColumn(name, expr)
    return out


def hashed_bow_features(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    dim: int = 64,
    prefix: str = "f",
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): whitespace
    tokens hash into ``dim`` count buckets — the fixed-width,
    vocabulary-free text representation fastText-style classifiers train
    on.  Returns ``df``'s columns plus ``{prefix}0…{prefix}{dim−1}``
    int64 counts, one output row per input row (like
    ``add_text_features``); NULL or token-free text gets an all-zero
    row.  ``id_col`` names the document key the caller carries through;
    the features do not depend on it.

    Slots come from md5 (not xxhash64) so any SQL engine replays them:
    ``conv(substr(md5(token),1,8),16,10) % dim``.  The plan is map-only:
    one projection computes the document's slot array (md5 once per
    token), a second counts each slot with ``size(filter(…))``.  No
    shuffle, no join — the wire carries nothing; features are a per-row
    function of the text.
    """
    check_col([id_col, text_col], df)
    # coalesce the ARRAY, not the size: size(NULL) is NULL under ANSI
    # but −1 with ANSI off
    slots = (
        rf"transform(filter(coalesce(split({sql_ident(text_col)}, '\\s+'),"
        f" array()), t -> t <> ''),"
        f" t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {dim})"
    )
    # __slots stays its own projection: it is referenced dim times, so
    # Catalyst keeps it below the counts instead of inlining md5 per slot
    return df.withColumn("__slots", F.expr(slots)).selectExpr(
        *[sql_ident(c) for c in df.columns],
        *[
            f"CAST(size(filter(__slots, s -> s = {j})) AS BIGINT)"
            f" AS {sql_ident(f'{prefix}{j}')}"
            for j in range(dim)
        ],
    )


def _dot(weights: list[int], feature_cols: list[str]) -> str:
    """``w0 + w1 * f1 + …`` as SQL text.  Integer literals type as
    ``F.lit`` does: int when they fit, bigint otherwise."""
    terms = [f"{int(w)} * {sql_ident(c)}" for w, c in zip(weights[1:], feature_cols)]
    return " + ".join([str(int(weights[0])), *terms])  # bias first


def batch_perceptron_fit(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_epochs: int = 3,
    lr: int | list[int] = 1,
    init_weights: list[int] | None = None,
) -> list[int]:
    """Train; returns ``[w_bias, w_f1, …]`` ints.  ``init_weights``
    resumes from an existing model (the online/streaming update path —
    see streaming/train.py).

    ``label_col`` must hold ±1.  Rows with any NULL feature or label are
    ignored (mirrored by the oracle's WHERE).  Every epoch re-reads
    ``df``: hand it a materialized frame (``utils.materialize``) when
    the source is expensive to re-scan — on one, the Arrow path runs
    exactly one job per epoch.

    ``lr`` may be a per-epoch integer schedule (len == n_epochs): a
    decaying schedule (e.g. ``[16, 8, 4, 2, 1, 1]``) damps the
    batch-update zigzag the same way a decaying step size does in batch
    gradient descent, while every update stays integer-exact.

    The epoch gradient runs as JVM aggregate expressions (d+1
    conditional sums, whole-stage codegen) for at most
    ``EXPR_MAX_FEATURES`` features, and beyond that as an Arrow kernel
    computing per-partition partial gradients in one int64 matmul.
    Identical integer math, identical results.
    """
    check_col([label_col, *feature_cols], df)
    lrs = [int(lr)] * n_epochs if isinstance(lr, int) else [int(v) for v in lr]
    if len(lrs) != n_epochs:
        raise ValueError(
            f"lr schedule has {len(lrs)} entries for {n_epochs} epochs"
        )
    clean = df.filter(
        " AND ".join(
            f"{sql_ident(c)} IS NOT NULL" for c in [label_col, *feature_cols]
        )
    )
    if init_weights is None:
        w = [0] * (1 + len(feature_cols))
    else:
        if len(init_weights) != 1 + len(feature_cols):
            raise ValueError(
                f"init_weights has {len(init_weights)} entries for "
                f"{1 + len(feature_cols)} (bias + features)"
            )
        w = [int(v) for v in init_weights]
    if len(feature_cols) > EXPR_MAX_FEATURES:
        return _fit_arrow(clean, feature_cols, label_col, lrs, w)
    y = sql_ident(label_col)
    for step in lrs:
        miscls = f"{y} * ({_dot(w, feature_cols)}) <= 0"
        aggs = [f"sum(CASE WHEN {miscls} THEN {y} ELSE 0 END) AS g0"] + [
            f"sum(CASE WHEN {miscls} THEN {y} * {sql_ident(c)} ELSE 0 END)"
            f" AS g{j + 1}"
            for j, c in enumerate(feature_cols)
        ]
        row = clean.selectExpr(*aggs).collect()[0]
        for j in range(len(w)):
            g = row[f"g{j}"]
            w[j] += step * int(g if g is not None else 0)
    return w


def _fit_arrow(
    clean: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lrs: list[int],
    w: list[int],
) -> list[int]:
    """Epoch loop with Arrow-kernel partial gradients: each partition
    reduces to one (d+1)-vector and ``sum_partials`` adds them on the
    driver — one job per epoch, identical int64 math to the expression
    path (matmul of int64 never leaves numpy's exact integer domain)."""
    import numpy as np

    # positional names: mapInPandas cannot address a column named with
    # a backtick
    src = clean.selectExpr(
        f"{sql_ident(label_col)} AS y",
        *[f"{sql_ident(c)} AS x{j}" for j, c in enumerate(feature_cols)],
    )
    d = len(feature_cols)
    for step in lrs:
        wa = np.asarray(w, dtype=np.int64)

        def grad(batches):
            g = np.zeros(d + 1, dtype=np.int64)
            for pdf in batches:
                A = pdf.to_numpy(dtype=np.int64)
                y, X = A[:, 0], A[:, 1:]
                m = y * (wa[0] + X @ wa[1:]) <= 0
                g[0] += y[m].sum()
                g[1:] += (X[m] * y[m, None]).sum(axis=0)
            return g

        g = sum_partials(src, grad, d + 1)
        w = [wj + step * int(gj) for wj, gj in zip(w, g)]
    return w


def perceptron_predict(
    df: DataFrame,
    feature_cols: list[str],
    weights: list[int],
    score_col: str = "score",
    pred_col: str = "pred",
) -> DataFrame:
    """Attach the integer margin and the ±1 prediction (0 margin → −1,
    matching the training rule's "≤ 0 is misclassified-as-negative").
    Map-only literal-weights plan."""
    check_col(feature_cols, df)
    score = F.expr(_dot(weights, feature_cols))
    return df.withColumn(score_col, score).withColumn(
        pred_col,
        F.when(F.col(score_col) > 0, F.lit(1)).otherwise(F.lit(-1)),
    )


__all__ = [
    "text_feature_exprs",
    "substring_count",
    "hashed_bow_features",
    "add_text_features",
    "batch_perceptron_fit",
    "perceptron_predict",
]
