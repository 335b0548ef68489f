"""fastText-style quality classifier on Spark ML."""

import random

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.operators import quality_model

GOOD_WORDS = (
    "the quick brown fox jumps over a lazy dog and then it runs to the "
    "river where the water is clear and the trees are tall in the morning"
).split()
BAD_WORDS = "zxqj kvw pqzt wxvk jqzz vvkx qqpw zzkt xkvq wjpq".split()


def _doc(rng, words, n=30):
    return " ".join(rng.choice(words) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(7)
    rows = [
        {"doc_id": i, "text": _doc(rng, GOOD_WORDS), "label": 1.0}
        for i in range(120)
    ] + [
        {"doc_id": 200 + i, "text": _doc(rng, BAD_WORDS), "label": 0.0}
        for i in range(120)
    ]
    return spark.createDataFrame(rows)


def test_train_and_score_separable(corpus):
    model, acc = quality_model.train_test_quality_eval(corpus)
    assert acc >= 0.95
    scored = quality_model.score_quality(model, corpus)
    # output schema: input + one rounded double column, no ml intermediates
    assert set(scored.columns) == {"doc_id", "text", "label", "quality_prob"}
    mean_good = scored.filter("label = 1.0").agg(F.avg("quality_prob")).first()[0]
    mean_bad = scored.filter("label = 0.0").agg(F.avg("quality_prob")).first()[0]
    assert mean_good > 0.9 > 0.1 > mean_bad


def test_quality_filter(corpus):
    model = quality_model.train_quality_classifier(corpus)
    kept = quality_model.quality_filter(model, corpus, keep_threshold=0.5)
    labels = kept.groupBy("label").count().collect()
    by_label = {r["label"]: r["count"] for r in labels}
    # the filter keeps nearly all good docs and nearly no bad ones
    assert by_label.get(1.0, 0) >= 110
    assert by_label.get(0.0, 0) <= 10


def test_weak_labels_bootstrap(spark):
    rows = [
        {"doc_id": 0, "text": "The quick brown fox jumps over the lazy dog near the river bank."},
        {"doc_id": 1, "text": "zzz !!!! @@@@ ???? xxxx !!!! @@@@ zzzz"},
    ]
    df = quality_model.weak_quality_labels(spark.createDataFrame(rows))
    got = {r["doc_id"]: r["label"] for r in df.collect()}
    assert got[0] == 1.0 and got[1] == 0.0


def test_unigram_only_pipeline(corpus):
    model = quality_model.train_quality_classifier(
        corpus, use_bigrams=False, num_features=1 << 12
    )
    scored = quality_model.score_quality(model, corpus)
    acc = scored.agg(
        F.avg(((F.col("quality_prob") >= 0.5).cast("double") == F.col("label")).cast("double"))
    ).first()[0]
    assert acc >= 0.95


def test_adaptive_quality_filter_per_group_thresholds(spark):
    """The per-group gate drops each source's bottom-quantile by its OWN
    distribution: a doc that survives in a low-quality source would have
    been cut under the clean source's threshold — the FineWeb rationale."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.quality_model import (
        adaptive_quality_filter,
    )
    from linkml_store_spark.operators.textanalysis import quality_score

    prose = ("the quick brown fox jumps over the lazy dog and it is "
             "a fine day for walking in the park with friends ")
    noise = "@@@ ### !!! %% ^^ && ** (( )) {{ }} [[ ]] ~~ ``"
    rows = (
        [(i, prose * 3, "clean") for i in range(8)]
        + [(100, prose + noise, "clean")]          # clean source's worst
        + [(200 + i, noise * (i + 1), "dirty") for i in range(8)]
        + [(300, prose * 2 + noise, "dirty")]      # dirty source's best
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    kept = adaptive_quality_filter(df, by="source", quantile=0.25,
                                   keep_score=True)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 300 in ids          # dirty source's best survives its OWN gate
    assert 100 not in ids      # clean source's worst falls below its gate
    # per-group retention ~ (1 - quantile) of each group
    per = {r["source"]: r["n"] for r in kept.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per["clean"] >= 6 and per["dirty"] >= 6
    # the emitted threshold is each group's own percentile
    thr = {r["source"]: r["group_threshold"] for r in
           kept.select("source", "group_threshold").distinct().collect()}
    assert thr["clean"] > thr["dirty"]
    # score column matches the inline heuristic
    q = {r["doc_id"]: r["quality"] for r in kept.collect()}
    ref = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", quality_score(F.col("text")).alias("s")).collect()}
    assert all(abs(q[i] - ref[i]) < 1e-12 for i in q)


def test_tuned_fit_defaults_agree_with_reference_fit(corpus):
    """Round-13 fit sizing (num_features 1<<13, maxIter 20, tol 1e-4) must
    stay prediction-equivalent to the heavyweight reference configuration
    (1<<15 features, 50 iterations, library tol) — the differential gate
    the declared quality_classifier query relies on (>= 0.85 agreement;
    measured 0.999 at sf0.1, ``git show a13ae2f:tools/qfit_r13.py``)."""
    fast = quality_model.train_quality_classifier(corpus)
    ref = quality_model.train_quality_classifier(
        corpus, num_features=1 << 15, max_iter=50, tol=None
    )
    f = quality_model.score_quality(fast, corpus).select(
        "doc_id", (F.col("quality_prob") >= 0.5).alias("__f")
    )
    r = quality_model.score_quality(ref, corpus).select(
        "doc_id", (F.col("quality_prob") >= 0.5).alias("__r")
    )
    agree = f.join(r, "doc_id").agg(
        F.avg((F.col("__f") == F.col("__r")).cast("double"))
    ).first()[0]
    assert agree >= 0.85


def test_fit_survives_prior_observe_in_session(spark, corpus):
    """Round-13 pin: Dataset.observe anywhere in the session initializes
    Spark 4.1's non-serializable session ObservationManager; a fitted
    model whose training summary still captures the session then fails
    every scoring action with "Task not serializable". The fit strips
    the summary, so observe-then-score must work."""
    from pyspark.sql import Observation

    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 5

    model = quality_model.train_quality_classifier(corpus)
    assert not model.stages[-1].hasSummary
    scored = quality_model.score_quality(model, corpus)
    acc = scored.agg(
        F.avg(((F.col("quality_prob") >= 0.5).cast("double")
               == F.col("label")).cast("double"))
    ).first()[0]
    assert acc > 0.9
