"""Trained document-quality classifier (north-star LLM-pipeline op:
the fastText-style quality model practice — public accounts of the
GPT-3 / LLaMA corpora describe a linear classifier over cheap text
features deciding which web documents enter the training mix; the
WebText practice scored documents against a reference corpus).

Spark-first shape: features are pure JVM expressions over the scan
(no Python), training is ``pyspark.ml`` LogisticRegression — an
L-BFGS job that aggregates gradients tree-wise across executors, the
idiomatic way to fit a linear model to a 100 TB corpus — and scoring
is the fitted model's single codegen'd projection. The train split is
the deterministic md5 ``hash_fraction`` (no RNG — rerunning the
pipeline reproduces the same split, same posture as the mixture
sampler).

The weak label is derived from the t03 quality blend (above/below
the corpus median): the test of this operator is the PLUMBING —
features → assembler → scaler → LBFGS → scores — with an AUC floor
on held-out rows pinned in pytest, not SQL-oracle equality (iterative
optimization has no static SQL twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quality_feature_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc cheap text features, all JVM-side: token count, mean
    token length, stopword ratio, digit ratio, uppercase ratio,
    non-alnum ratio. Returns (doc_id, source, features..., quality)
    with NULL quality for token-less docs (t03 semantics)."""
    from ..plans.text_ops import _quality_expr, _stop_array, tokens

    raw = F.col(text_col)
    toks = tokens(F.lower(raw))
    scored = docs.select(
        F.col("doc_id"),
        F.col("source"),
        raw.alias("_t"),
        F.size(toks).cast("long").alias("n_tok"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias(
            "_tok_chars"
        ),
        F.size(F.filter(toks, lambda x: F.array_contains(_stop_array(), x))).alias(
            "_stop_hits"
        ),
    ).withColumn(
        "quality",
        F.when(
            F.col("n_tok") > 0,
            F.round(
                _quality_expr(F.col("n_tok"), F.col("_tok_chars"), F.col("_stop_hits")), 6
            ),
        ),
    )
    return scored.select(
        "doc_id",
        "source",
        "quality",
        F.col("n_tok").cast("double").alias("f_n_tok"),
        F.when(F.col("n_tok") > 0, F.col("_tok_chars") / F.col("n_tok"))
        .otherwise(F.lit(0.0))
        .alias("f_tok_len"),
        F.when(F.col("n_tok") > 0, F.col("_stop_hits") / F.col("n_tok"))
        .otherwise(F.lit(0.0))
        .alias("f_stop_ratio"),
        (
            (F.length(F.col("_t")) - F.length(F.regexp_replace(F.col("_t"), r"[0-9]", "")))
            / F.greatest(F.length(F.col("_t")), F.lit(1))
        ).alias("f_digit_ratio"),
        (
            (F.length(F.col("_t")) - F.length(F.regexp_replace(F.col("_t"), r"[A-Z]", "")))
            / F.greatest(F.length(F.col("_t")), F.lit(1))
        ).alias("f_upper_ratio"),
        (
            (
                F.length(F.col("_t"))
                - F.length(F.regexp_replace(F.col("_t"), r"[^A-Za-z0-9 ]", ""))
            )
            / F.greatest(F.length(F.col("_t")), F.lit(1))
        ).alias("f_punct_ratio"),
    )


FEATURES = [
    "f_n_tok",
    "f_tok_len",
    "f_stop_ratio",
    "f_digit_ratio",
    "f_upper_ratio",
    "f_punct_ratio",
]


def labeled_quality_frame(
    docs: DataFrame,
    train_frac: float = 0.8,
    salt: str = "qsplit",
) -> DataFrame:
    """The deterministic (features, label, is_train) frame both the
    fit and the scoring pass read — materialized once (see the
    localCheckpoint note inside). Split out of
    :func:`train_and_score_quality` (r12 verdict item 5) so a WARM
    process can rebuild the frame and score it with PERSISTED
    parameters without refitting."""
    from .sampling import hash_fraction

    feats = quality_feature_frame(docs)
    med = feats.filter(F.col("quality").isNotNull()).agg(
        F.percentile_approx("quality", 0.5, 10000).alias("med")
    )
    labeled = (
        feats.filter(F.col("quality").isNotNull())
        .crossJoin(F.broadcast(med))
        .withColumn("label", (F.col("quality") >= F.col("med")).cast("double"))
        .withColumn("is_train", hash_fraction(F.col("doc_id"), salt) < train_frac)
        .drop("med")
    )
    # one materialization feeds scaler fit, every L-BFGS pass AND the
    # caller's scoring pass — without it the tokenize-heavy feature
    # lineage recomputes per consumer. localCheckpoint (not .cache):
    # the checkpoint's storage is ContextCleaner-managed, reclaimed
    # when the returned frame is garbage-collected, so nothing leaks
    # per call in a long-lived session (pinned by
    # tests/test_dedup_similarity.py::test_quality_model_scopes_its_cache),
    # while the scoring pass still reads the materialized frame.
    from ..plan_debug import note_subtree

    return note_subtree("quality_model.labeled", labeled).localCheckpoint(eager=True)


def fit_quality_params(labeled: DataFrame) -> dict:
    """Fit scaler + L-BFGS on the train split and EXTRACT the linear
    model into a plain parameter dict ``{coef, intercept, mean,
    std}`` — the serve-without-the-model form scoring uses (see the
    codegen note in :func:`score_quality`). The dict is the persisted
    artifact: four float vectors, exact under JSON round-trip
    (repr-based float encoding)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    asm = VectorAssembler(inputCols=FEATURES, outputCol="_rawf")
    scaler = StandardScaler(inputCol="_rawf", outputCol="_f", withMean=True, withStd=True)
    # maxIter bounds the number of L-BFGS jobs (each iteration is one
    # treeAggregate over the cluster); 20 is past convergence for a
    # linear signal and halves the per-run job count vs the 50 default
    lr = LogisticRegression(
        featuresCol="_f", labelCol="label", maxIter=20, regParam=1e-3, tol=1e-6
    )

    train = asm.transform(labeled.filter(F.col("is_train")))
    if not train.head(1):
        raise ValueError(
            "fit_quality_params: the hash split left zero training"
            " rows (corpus too small for the train fraction) — lower"
            " train_frac or provide more docs"
        )
    smodel = scaler.fit(train)
    model = lr.fit(smodel.transform(train))
    return {
        "coef": [float(x) for x in model.coefficients.toArray()],
        "intercept": float(model.intercept),
        "mean": [float(x) for x in smodel.mean.toArray()],
        "std": [float(x) for x in smodel.std.toArray()],
    }


def score_quality(labeled: DataFrame, params: dict) -> DataFrame:
    """Score with PLAIN column expressions from the extracted
    coefficients instead of model.transform: (a) the scoring plan
    stays whole-stage codegen — no per-row ML vector UDF on the
    100 TB side, the standard serve-without-the-model practice for
    linear models; (b) Model.transform's UDF closure drags the
    session's ObservationManager into task serialization, which
    BREAKS ("Task not serializable") in any session where a
    df.observe query has run (A13) — scoring via expressions
    sidesteps the interaction entirely (pinned by
    tests/test_quality.py::test_classifier_after_observation)."""
    coef, intercept = params["coef"], params["intercept"]
    mean, std = params["mean"], params["std"]
    margin = F.lit(intercept)
    for i, name in enumerate(FEATURES):
        s = float(std[i]) if float(std[i]) != 0.0 else 1.0
        margin = margin + F.lit(float(coef[i])) * (
            (F.col(name) - F.lit(float(mean[i]))) / F.lit(s)
        )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return labeled.select(
        "doc_id",
        "source",
        "label",
        "is_train",
        F.round(prob, 4).alias("prob"),
        (prob >= 0.5).cast("int").alias("prediction"),
    )


def train_and_score_quality(
    docs: DataFrame,
    train_frac: float = 0.8,
    salt: str = "qsplit",
) -> DataFrame:
    """Fit the classifier on a deterministic hash split and score
    every LABELED document (docs with no tokens have NULL quality, no
    label to derive, and are excluded — callers joining on the output
    must treat missing ids as unscored, not low-quality). Returns
    (doc_id, source, label, is_train, prob, prediction) — prob
    rounded to 4dp (L-BFGS converges to the unique
    optimum of the convex objective, but the last ulps depend on
    aggregation order; 4dp is stable in practice and the pytest gate
    asserts ranking quality, not bit-equality). Composes the split
    stages."""
    labeled = labeled_quality_frame(docs, train_frac=train_frac, salt=salt)
    return score_quality(labeled, fit_quality_params(labeled))
