"""Learned document-quality classifier (fastText-style) on Spark ML.

The standard corpus-curation move (GPT-3/CCNet/RedPajama pipelines): train a
linear classifier to separate "reference-quality" text from raw-crawl text,
then keep documents whose predicted quality clears a threshold (optionally
with Pareto-style stochastic keeping). fastText's architecture is a bag of
hashed n-gram features into a linear layer — exactly
``RegexTokenizer -> HashingTF(binary word counts + hashed bigrams) ->
LogisticRegression`` on Spark ML, which is what this module builds.

Everything is distributed end-to-end:
  * featurization is per-row (HashingTF is stateless — no vocabulary to
    broadcast or fit, the property that lets fastText scale);
  * LogisticRegression trains via L-BFGS with ``treeAggregate`` gradient
    passes — no driver-side data materialization at any point;
  * scoring is a single narrow map (model coefficients broadcast once).

At 100 TB: train on a (stratified) sample — a linear model saturates long
before corpus scale — then score the full corpus with the fitted model; the
scoring pass is shuffle-free.

When no labeled reference corpus is available, ``weak_quality_labels``
bootstraps labels from the heuristic quality signals
(operators/textanalysis.py), the usual distillation seed.

Reference parity: the reference's inference surface
(src/linkml_store/inference/implementations/sklearn_inference_engine.py)
fits sklearn models on driver-collected pandas frames; this operator is the
corpus-scale counterpart and part of the LLM-pipeline extension.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "weak_quality_labels",
    "train_quality_classifier",
    "score_quality",
    "quality_filter",
]


def weak_quality_labels(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    threshold: float = 0.5,
) -> DataFrame:
    """Bootstrap binary labels from the heuristic quality score: 1.0 where
    ``quality_score(text) >= threshold`` else 0.0."""
    from linkml_store_spark.operators.textanalysis import quality_score

    return df.withColumn(
        label_col,
        (quality_score(F.col(text_col)) >= threshold).cast("double"),
    )


def _feature_pipeline(text_col: str, num_features: int, use_bigrams: bool):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, VectorAssembler

    stages = [
        RegexTokenizer(
            inputCol=text_col, outputCol="__words", pattern=r"\W+", toLowercase=True
        )
    ]
    if use_bigrams:
        stages += [
            NGram(n=2, inputCol="__words", outputCol="__bigrams"),
            HashingTF(
                inputCol="__words", outputCol="__tf1", numFeatures=num_features
            ),
            HashingTF(
                inputCol="__bigrams", outputCol="__tf2", numFeatures=num_features
            ),
            VectorAssembler(inputCols=["__tf1", "__tf2"], outputCol="__features"),
        ]
    else:
        stages.append(
            HashingTF(
                inputCol="__words", outputCol="__features", numFeatures=num_features
            )
        )
    return Pipeline(stages=stages)


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 1 << 13,
    use_bigrams: bool = True,
    reg_param: float = 1e-4,
    max_iter: int = 20,
    tol: Optional[float] = 1e-4,
):
    """Fit the fastText-analog pipeline; returns a PipelineModel whose
    ``transform`` adds ``prediction`` and ``probability``. The label column
    must be 0.0/1.0 doubles (see ``weak_quality_labels``). ``tol`` is the
    L-BFGS convergence tolerance (None keeps Spark ML's default).

    Default sizing (round 13, measured): every L-BFGS iteration moves a
    dense ``2*num_features`` coefficient vector through the treeAggregate
    (broadcast out, gradient back) and through the driver's L-BFGS
    history, so the per-iteration cost scales with the hashing dimension,
    not the data — the old ``1 << 15``/50-iteration defaults spent
    ~0.16 s/iteration at sf0.1 (20.3 s total) where ``1 << 13``/20
    iterations fits in 2.7 s with 0.999 prediction agreement on the same
    corpus and identical downstream filter behavior (weak-label agreement
    0.9948 vs 0.9954, both far above the 0.85 differential bar;
    ``git show a13ae2f:tools/qfit_r13.py``). L-BFGS does NOT converge before 50 iterations at
    the library tol (1e-6) — the extra 30 iterations buy coefficient
    precision the quality FILTER cannot observe. Callers training on very
    large labeled samples (the 100 TB sampling note above) can raise
    ``num_features``/``max_iter`` back; the levers are exposed."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression

    feats = _feature_pipeline(text_col, num_features, use_bigrams)
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
        standardization=False,
    )
    if tol is not None:
        lr.setTol(tol)
    # Train on the narrow (text, label) projection — fit reads only
    # these two columns, so the persisted featurization intermediates
    # carry nothing else (guide §2.3 project-early). Deliberately NOT
    # fanned out (round 12, measured): every L-BFGS iteration pays a
    # dense num_features-dim gradient accumulator per TASK, so at
    # training-sample sizes the per-task constant dominates the per-row
    # work and partitions make the fit slower (18 s at 1 partition,
    # 36 s at 8, 91 s at 32 on the sf0.1 corpus). At 100 TB the
    # TRAINING SAMPLE — not the corpus — sets the partition count; the
    # module docstring's sampling note covers that.
    model = Pipeline(stages=[feats, lr]).fit(df.select(text_col, label_col))
    # Strip the L-BFGS training summary from the fitted model (round 13,
    # measured): the scoring UDF's task closure serializes the model, and
    # the summary drags its captured SparkSession into the closure graph —
    # which HARD-FAILS ("Task not serializable:
    # ...classic.ObservationManager") the moment ANYTHING in the session
    # has used Dataset.observe, because Spark 4.1's session holds its
    # observation manager in a non-transient, non-serializable lazy field
    # that observe() initializes. Nothing downstream reads the summary
    # (the quality filter wants only transform()), and dropping it also
    # keeps the per-task closure to coefficients instead of the summary
    # object graph. setSummary is private[ml] in Scala — public at
    # bytecode level, which is what py4j dispatches on; guarded so API
    # drift degrades to the old behavior (with a warning) instead of
    # breaking the fit.
    from py4j.protocol import Py4JError

    try:
        lrm = model.stages[-1]
        lrm._java_obj.setSummary(
            getattr(df.sparkSession._jvm, "scala.Option").empty()
        )
    except (AttributeError, IndexError, Py4JError) as e:
        import warnings

        warnings.warn(
            "could not strip the quality classifier's training summary "
            f"({type(e).__name__}: {e}); scoring in a session that has "
            "used Dataset.observe may fail with 'Task not serializable'",
            stacklevel=2,
        )
    return model


def score_quality(
    model,
    df: DataFrame,
    out_col: str = "quality_prob",
) -> DataFrame:
    """Add P(label=1) as ``out_col``; drops the intermediate feature columns
    so the output schema is input + one double column. Per-row map — the
    input is fanned out first so a single-row-group store scores on
    every core (no-op on pre-split inputs and on streams; unlike the
    FIT, scoring has no per-task accumulator, so parallelism is pure
    win)."""
    from pyspark.ml.functions import vector_to_array

    from linkml_store_spark.operators.scale import fan_out

    scored = model.transform(fan_out(df))
    extra = [
        c
        for c in ("__words", "__bigrams", "__tf1", "__tf2", "__features",
                  "rawPrediction", "probability", "prediction")
        if c in scored.columns
    ]
    return scored.withColumn(
        out_col, F.round(vector_to_array(F.col("probability"))[1], 6)
    ).drop(*extra)


def quality_filter(
    model,
    df: DataFrame,
    keep_threshold: float = 0.5,
    out_col: str = "quality_prob",
) -> DataFrame:
    """The curation filter: rows whose predicted quality clears the bar."""
    return score_quality(model, df, out_col).filter(F.col(out_col) >= keep_threshold)


def adaptive_quality_filter(
    df: DataFrame,
    by: str = "source",
    quantile: float = 0.2,
    text_col: str = "text",
    score_col: str = None,
    keep_score: bool = False,
) -> DataFrame:
    """FineWeb-style per-group adaptive quality gate: drop each group's
    bottom ``quantile`` of its OWN score distribution instead of applying
    one global threshold (a global bar over-prunes clean sources and
    under-prunes dirty ones — the reason FineWeb filters per dump).

    ``score_col`` names a precomputed score; by default the native
    heuristic ``textanalysis.quality_score`` is computed inline. One
    exact interpolated percentile aggregate per group (at most |groups|
    rows — broadcast), one broadcast join, one filter: shuffle-free over
    the corpus beyond the percentile aggregate itself. Keeps rows with
    ``score >= group threshold`` (ties at an exact data point included
    identically in any engine — the interpolated threshold equals a real
    score exactly when the rank is integral, with no arithmetic)."""
    from linkml_store_spark.operators.scale import fan_out
    from linkml_store_spark.operators.textanalysis import quality_score

    # fan out first: the inline heuristic score is evaluated in BOTH the
    # percentile pass and the final filter pass, and a one-row-group
    # store scans as ONE task (no-op on pre-split inputs)
    df = fan_out(df)
    if score_col is None:
        scored = df.withColumn("__q", quality_score(F.col(text_col)))
    else:
        scored = df.withColumn("__q", F.col(score_col))
    thr = scored.groupBy(by).agg(
        F.percentile("__q", float(quantile)).alias("__thr")
    ).withColumnRenamed(by, "__by")
    # null-safe equi-join: rows with a NULL group key gate against the
    # NULL group's own threshold (groupBy emits one) — a plain USING join
    # never matches NULL and silently REMOVED every un-sourced doc
    # (round-9 advisor finding)
    out = scored.join(
        F.broadcast(thr), scored[by].eqNullSafe(F.col("__by"))
    ).filter(
        F.col("__q") >= F.col("__thr")
    ).drop("__by")
    if keep_score:
        return out.withColumnRenamed("__q", "quality").withColumnRenamed(
            "__thr", "group_threshold"
        )
    return out.drop("__q", "__thr")


def train_test_quality_eval(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    test_fraction: float = 0.25,
    seed: int = 42,
    **train_kw,
) -> Tuple[object, float]:
    """Deterministic hash-split train/eval; returns (model, holdout accuracy).
    The split is content-hash based (stable under repartitioning), the same
    discipline as operators/splits.py."""
    bucket = F.pmod(F.xxhash64(F.col(text_col)), F.lit(1000))
    test = df.filter(bucket < int(test_fraction * 1000))
    train = df.filter(bucket >= int(test_fraction * 1000))
    model = train_quality_classifier(train, text_col, label_col, **train_kw)
    scored = score_quality(model, test)
    agg = scored.agg(
        F.avg(
            ((F.col("quality_prob") >= 0.5).cast("double") == F.col(label_col))
            .cast("double")
        ).alias("acc")
    ).first()
    return model, float(agg["acc"])
