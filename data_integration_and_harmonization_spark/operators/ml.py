"""ML operators (reference ``train_models``/``evaluate_model``,
ref:55-120), re-expressed as Spark ML pipelines.

Model zoo mapping (ref:64-68):
- Decision Tree -> ml.classification/regression.DecisionTree*
- Random Forest -> ml.classification/regression.RandomForest*
- XGBoost       -> ``xgboost.spark.SparkXGB*`` when the public package
  is importable, else Spark's native GBT* (documented fallback — same
  gradient-boosted-trees family, distributed natively).

Differences from the reference, by design:
- sklearn takes a raw feature matrix (ref:59-60); Spark ML wants a
  single vector column -> ``VectorAssembler`` in every pipeline.
- ``train_test_split(random_state=42)`` is an exact 80/20 shuffle;
  ``randomSplit`` is per-row Bernoulli — proportions converge, counts
  are not exact (documented divergence, SURVEY §2.7 M1).
- GridSearchCV (ref:71-93) -> ``CrossValidator(numFolds=3)`` with the
  ref:72-81 grid translated: n_estimators->numTrees (RF) / maxIter
  (GBT), max_depth(None->default)->maxDepth, learning_rate->stepSize.

Each ``fit`` runs as a sequence of distributed Spark jobs; the
orchestration loop over models stays on the driver (M10), matching the
reference's structure with distributed execution underneath.
"""

from __future__ import annotations

import functools
from typing import Any

from pyspark.ml.evaluation import MulticlassClassificationEvaluator, RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_and_harmonization_spark.functions.concurrency import overlap
from data_integration_and_harmonization_spark.operators.clean import numeric_cols

# Metric display names (ref:110-119): classification reports
# accuracy + weighted precision/recall/F1 (ref:111 average='weighted');
# regression reports MAE/MSE/R2. evaluate_model computes all of them
# in one aggregation pass — the per-metric evaluator objects
# (MulticlassClassificationEvaluator / RegressionEvaluator) define the
# semantics and still drive CrossValidator model selection.


def _model_zoo(is_classification: bool, seed: int) -> dict[str, Any]:
    if is_classification:
        from pyspark.ml.classification import (
            DecisionTreeClassifier,
            GBTClassifier,
            RandomForestClassifier,
        )

        zoo = {
            "Decision Tree": DecisionTreeClassifier(seed=seed),
            "Random Forest": RandomForestClassifier(seed=seed),
        }
        try:  # public distributed-XGBoost package, optional
            from xgboost.spark import SparkXGBClassifier

            zoo["XGBoost"] = SparkXGBClassifier(random_state=seed)
        except ImportError:
            zoo["XGBoost"] = GBTClassifier(seed=seed)
        return zoo
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        GBTRegressor,
        RandomForestRegressor,
    )

    zoo = {
        "Decision Tree": DecisionTreeRegressor(seed=seed),
        "Random Forest": RandomForestRegressor(seed=seed),
    }
    try:
        from xgboost.spark import SparkXGBRegressor

        zoo["XGBoost"] = SparkXGBRegressor(random_state=seed)
    except ImportError:
        zoo["XGBoost"] = GBTRegressor(seed=seed)
    return zoo


def _param_grid(name: str, model: Any) -> list | None:
    """ref:72-81 translated to Spark param maps."""
    if name == "Random Forest":
        return (
            ParamGridBuilder()
            .addGrid(model.numTrees, [50, 100, 200])
            # sklearn max_depth None means unbounded; Spark caps at 30
            # and defaults to 5 — use {5, 10, 20} as the translation.
            .addGrid(model.maxDepth, [5, 10, 20])
            .build()
        )
    if name == "XGBoost":
        step = getattr(model, "stepSize", None) or getattr(model, "learning_rate", None)
        iters = getattr(model, "maxIter", None) or getattr(model, "n_estimators", None)
        if step is None or iters is None:
            return None
        return (
            ParamGridBuilder()
            .addGrid(step, [0.01, 0.1])
            .addGrid(iters, [50, 100, 200])
            .build()
        )
    return None  # Decision Tree: fit untuned even in tuning mode (ref:85-92)


def _resolve_grid(spec: Any, model: Any) -> list | None:
    """Normalize a user grid spec onto the estimator ACTUALLY fitted.

    pyspark's ``Params._copyValues`` filters extra params by
    ``param.parent == self.uid`` — a ParamGridBuilder grid built from a
    DIFFERENT estimator instance is silently ignored (verified: the
    fit proceeds with defaults, no error). So user grids are accepted
    as either

    - a dict ``{param_name: [values]}`` — resolved here against the
      inner estimator (unwrapping OneVsRest), or
    - a list of ParamMaps — re-keyed by param NAME onto the inner
      estimator, making foreign-instance grids actually apply.
    """
    if spec is None:
        return None
    inner = model.getClassifier() if hasattr(model, "getClassifier") else model
    if isinstance(spec, dict):
        b = ParamGridBuilder()
        for pname, values in spec.items():
            b.addGrid(getattr(inner, pname), values)
        return b.build()
    return [
        {getattr(inner, param.name): v for param, v in pm.items()} for pm in spec
    ]


def tuning_grid(name: str, model: Any) -> list | None:
    """Grid for the estimator actually being tuned. The grid params
    live on the INNER classifier, so a OneVsRest-wrapped model must be
    unwrapped before the param lookup — looking on the wrapper finds
    no stepSize/maxIter and silently degrades to an untuned fit.
    (pyspark's OneVsRest.copy(extra) forwards extra params to its
    classifier, so CrossValidator param maps built from the inner
    estimator apply through the wrapper.)"""
    inner = model.getClassifier() if hasattr(model, "getClassifier") else model
    return _param_grid(name, inner)


def exact_split(
    df: DataFrame,
    order_cols: list[str],
    k: int = 5,
    holdout_col: str = "is_test",
) -> DataFrame:
    """M1 exact-count split parity (ref:62: sklearn's
    ``train_test_split(test_size=0.2, random_state=42)`` is an EXACT
    80/20 shuffle split; ``randomSplit`` is per-row Bernoulli). Every
    k-th row by global rank over ``order_cols`` (a unique composite
    key) is held out — deterministic, exactly floor(n/k) test rows,
    and distributed via the window-free global index (one range
    shuffle, no single-task stage).
    """
    from data_integration_and_harmonization_spark.functions.indexing import (
        with_global_index,
    )

    idx = with_global_index(df, order_cols, index_col="__split_pos")
    return idx.withColumn(holdout_col, (F.col("__split_pos") % k) == 0).drop("__split_pos")


def group_split(
    df: DataFrame,
    group_cols: list[str],
    k: int = 5,
    seed: int = 42,
    fold_col: str = "fold",
) -> DataFrame:
    """Leakage-safe k-fold assignment: every row of a GROUP lands in
    the same fold — ``fold = md5(netstring(group):seed) mod k``.

    The group-aware split a training pipeline needs where a row-level
    split LEAKS: pass a duplicate-cluster id (``dedup.duplicate_clusters``)
    and near-duplicate documents can never straddle train/eval —
    row-level splitting of deduplicated-but-clustered corpora is the
    classic evaluation-contamination mechanism (Lee et al. 2022,
    arXiv:2107.06499 §6 measure the resulting metric inflation). Also
    the sklearn ``GroupKFold`` shape for entity-keyed rows (all of a
    user's rows in one fold).

    Shuffle-free and scan-pushed: one md5 projection per row, no
    grouping — the fold is a pure function of the group key, so the
    assignment is reproducible by ANY engine (same md5 arithmetic as
    the sampling family; DuckDB-replayable). Fold sizes are
    group-count-balanced in expectation, not exact — exactness would
    need a global group shuffle; hash assignment is the shape that
    holds at 100 TB.
    """
    from data_integration_and_harmonization_spark.operators.sampling import (
        _injective_key,
    )

    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", _injective_key(group_cols), F.lit(str(seed)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn(fold_col, (h % k).cast("int"))


def evaluate_model(predictions: DataFrame, is_classification: bool, label_col: str = "label") -> dict[str, float]:
    """M8/M9 (ref:107-120): weighted classification metrics / MAE-MSE-R2.

    Single-pass: every metric derives from ONE aggregation job —
    classification collects the confusion matrix (bounded by classes²,
    a driver-safe collect) and applies the public MulticlassMetrics
    formulas (weighted = per-class metric weighted by true-class
    support; 0 when a denominator is 0); regression aggregates the
    residual sums (n, Σ|e|, Σe², Σy, Σy²) and derives MAE/MSE/R² =
    ``1 - SS_res/SS_tot`` exactly as RegressionEvaluator defines them.
    One evaluator instance per metric would re-scan the predictions
    per metric (4 jobs instead of 1) for identical values.
    """
    if is_classification:
        cm = predictions.groupBy(
            F.col(label_col).alias("y"), F.col("prediction").alias("p")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
        total = sum(r["n"] for r in cm) or 1
        classes = sorted({r["y"] for r in cm} | {r["p"] for r in cm})
        tp = {c: sum(r["n"] for r in cm if r["y"] == c and r["p"] == c) for c in classes}
        support = {c: sum(r["n"] for r in cm if r["y"] == c) for c in classes}
        predicted = {c: sum(r["n"] for r in cm if r["p"] == c) for c in classes}
        prec = {c: (tp[c] / predicted[c] if predicted[c] else 0.0) for c in classes}
        rec = {c: (tp[c] / support[c] if support[c] else 0.0) for c in classes}
        f1 = {
            c: (2 * prec[c] * rec[c] / (prec[c] + rec[c]) if prec[c] + rec[c] else 0.0)
            for c in classes
        }
        w = {c: support[c] / total for c in classes}
        return {
            "Accuracy": sum(tp.values()) / total,
            "Precision": sum(w[c] * prec[c] for c in classes),
            "Recall": sum(w[c] * rec[c] for c in classes),
            "F1 Score": sum(w[c] * f1[c] for c in classes),
        }
    e = F.col(label_col) - F.col("prediction")
    row = predictions.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(e)).alias("sae"),
        F.sum(e * e).alias("sse"),
        F.sum(label_col).alias("sy"),
        F.sum(F.col(label_col) * F.col(label_col)).alias("syy"),
    ).first()
    if not row["n"]:
        return {"MAE": float("nan"), "MSE": float("nan"), "R2 Score": float("nan")}
    n = row["n"]
    ss_tot = row["syy"] - row["sy"] * row["sy"] / n
    return {
        "MAE": row["sae"] / n,
        "MSE": row["sse"] / n,
        "R2 Score": 1.0 - row["sse"] / ss_tot if ss_tot else float("nan"),
    }


def save_model(model, path: str) -> None:
    """S8 model sink. The reference imports joblib (ref:15) but never
    persists anything; the engine's idiomatic equivalent is Spark ML's
    native writer (distributed, self-describing metadata + parquet)."""
    model.write().overwrite().save(path)


def load_model(path: str):
    from pyspark.ml import PipelineModel

    return PipelineModel.load(path)


def quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = 1 << 15,
    seed: int = 42,
) -> dict[str, float]:
    """Model-based document quality filtering — the FineWeb-Edu /
    DCLM-class curation step where a cheap linear classifier, trained
    on weak labels, replaces hand-tuned heuristics as the corpus
    gatekeeper. Weak labels here are the engine's own heuristic
    quality score dichotomized at its exact median (top half = 1);
    features are hashed unigram counts + IDF (the fastText-ish
    bag-of-words shape); the model is L2 logistic regression. The
    point the verdicts pin is the PIPELINE — tokenize -> HashingTF ->
    IDF -> LR, all executor-side, label medians exact — not the
    modest accuracy of a 4-feature heuristic teacher.

    Split is deterministic (md5 of the id, ~25% holdout), so every
    metric is reproducible run-to-run. Returns holdout accuracy, the
    majority-class baseline, and areaUnderROC; a classifier that
    can't beat majority on its own teacher's labels means the wiring
    is broken, which is what the driver-row verdict checks.

    Scale shape: HashingTF and IDF are single-pass distributed
    aggregations over the token arrays; LR is Spark ML's LBFGS
    (maxIter bounded data passes, vector-width driver traffic). At
    100 TB the fit runs on a deterministic subsample (caller filters)
    and only transform() touches the full corpus.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import HashingTF, IDF, RegexTokenizer

    from data_integration_and_harmonization_spark.operators.text import (
        quality_columns,
    )

    scored = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).select("id", "text", *quality_columns("text"))
    med = scored.agg(F.expr("percentile(quality_score, 0.5)")).first()[0]
    labeled = scored.select(
        "id",
        "text",
        (F.col("quality_score") >= F.lit(med)).cast("double").alias("label"),
    )
    test_bucket = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 2), 16, 10)
    labeled = labeled.withColumn(
        "is_test", (test_bucket.cast("long") % 4 == 0)
    ).persist()
    try:
        train = labeled.where(~F.col("is_test"))
        test = labeled.where(F.col("is_test"))
        pipe = Pipeline(
            stages=[
                RegexTokenizer(
                    inputCol="text", outputCol="toks", pattern=r"[^\p{L}\p{N}]+"
                ),
                HashingTF(
                    inputCol="toks", outputCol="tf", numFeatures=num_features
                ),
                IDF(inputCol="tf", outputCol="features"),
                LogisticRegression(maxIter=20, regParam=0.01),
            ]
        )
        model = pipe.fit(train)
        pred = model.transform(test).select("label", "prediction", "rawPrediction")
        agg = pred.agg(
            F.avg((F.col("label") == F.col("prediction")).cast("double")).alias("acc"),
            F.greatest(F.avg("label"), 1 - F.avg("label")).alias("majority"),
        ).first()
        auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(pred)
        return {
            "HoldoutAccuracy": round(float(agg["acc"]), 6),
            "MajorityBaseline": round(float(agg["majority"]), 6),
            "AreaUnderROC": round(float(auc), 6),
            "BeatsMajority": 1.0 if agg["acc"] > agg["majority"] else 0.0,
        }
    finally:
        labeled.unpersist(False)


def train_models(
    df: DataFrame,
    target_column: str,
    is_classification: bool,
    hyperparameter_tuning: bool = False,
    seed: int = 42,
    param_grids: dict[str, list] | None = None,
) -> dict[str, dict[str, float]]:
    """EP3 (ref:55-104): validate target, 80/20 split, fit the zoo
    (optionally 3-fold CV over the ref grid), score on held-out test.

    Returns the ref:94-shaped ``{model: {metric: value}}`` dict.
    """
    if target_column not in df.columns:
        raise ValueError(f"Target column '{target_column}' not found in the dataset.")

    feats = [c for c in numeric_cols(df) if c != target_column]
    if not feats:
        raise ValueError("no numeric feature columns available")

    base = df.select(*feats, df[target_column].cast("double").alias("label")).dropna()
    # Size the fit partitioning to the data: iterative tree fits run
    # MANY short jobs over the cached train set, so partitions far
    # smaller than ~20k rows turn each iteration into pure task-
    # scheduling overhead. ~20k rows per partition keeps tasks
    # meaningful at subsample scale and still fans out to the full
    # cluster for big inputs (capped at defaultParallelism only as a
    # floor-setting heuristic — Spark splits further by size upstream).
    sc = df.sparkSession.sparkContext
    base = base.cache()
    n_rows = base.count()
    parts = max(4, min(sc.defaultParallelism, n_rows // 20_000 + 1))
    train, test = base.repartition(parts).randomSplit([0.8, 0.2], seed=seed)
    # Assemble ONCE, before the per-model loop: the assembled train
    # frame is shared by all three estimators AND by every CV fold, so
    # the VectorAssembler projection (and the scan under it) runs once
    # instead of once per fit. Assembly is a narrow projection — it
    # changes neither partitioning nor row order, so the randomSplit
    # membership is identical to splitting the raw frame.
    assembler = VectorAssembler(inputCols=feats, outputCol="features")
    train = assembler.transform(train).cache()
    test = assembler.transform(test)

    def fit_one(name: str, model: Any) -> dict[str, float]:
        if hasattr(model, "setLabelCol"):
            model.setLabelCol("label")
        if is_classification and n_classes > 2 and type(model).__name__ == "GBTClassifier":
            # Spark's GBT is binary-only (sklearn/XGBoost are natively
            # multiclass) — lift it with one-vs-rest for parity.
            from pyspark.ml.classification import OneVsRest

            model = OneVsRest(classifier=model, labelCol="label", parallelism=4)
        grid = None
        if hyperparameter_tuning:
            grid = (
                _resolve_grid(param_grids.get(name), model)
                if param_grids is not None
                else tuning_grid(name, model)
            )
        if grid:
            ev = (
                MulticlassClassificationEvaluator(labelCol="label", metricName="accuracy")
                if is_classification
                else RegressionEvaluator(labelCol="label", metricName="r2")
            )
            # estimator is the bare model over the pre-assembled cached
            # frame — wrapping the assembler in a Pipeline here would
            # re-project features numFolds x |grid| times
            est = CrossValidator(
                estimator=model,
                estimatorParamMaps=grid,
                evaluator=ev,
                numFolds=3,
                seed=seed,
                parallelism=4,
            )
        else:
            est = model
        # One retry, ONLY for the known-transient signature:
        # concurrent driver-thread fits (this pool x CrossValidator's
        # own parallelism) very rarely trip a py4j/Instrumentation
        # race inside Spark ("NumberFormatException: Cannot parse null
        # string" out of est.fit). The fits are seeded and
        # side-effect-free, so that single retry is safe and
        # deterministic; any OTHER error is deterministic and
        # re-raises immediately, and the swallowed first traceback is
        # logged so the race stays diagnosable.
        try:
            fitted = est.fit(train)
        except Exception as exc:  # noqa: BLE001 — filtered just below
            if "Cannot parse null string" not in str(exc):
                raise
            import logging
            import traceback

            logging.getLogger(__name__).warning(
                "retrying %s fit after transient py4j race:\n%s",
                name,
                traceback.format_exc(),
            )
            fitted = est.fit(train)
        # no cache: evaluate_model is single-pass, so the transform
        # lineage executes exactly once
        return evaluate_model(fitted.transform(test), is_classification)

    # The three fits are independent; submit them from concurrent
    # driver threads so the Spark scheduler interleaves their jobs —
    # each individual fit rarely saturates the cluster (tree fits have
    # serial per-iteration barriers), so overlap recovers the idle
    # slots. Results are per-model deterministic (seeded fits over the
    # same cached split), so concurrency cannot change values.
    zoo = _model_zoo(is_classification, seed)
    # materialize BOTH split halves before the concurrent fits: each
    # thread evaluates on test, and an uncached test would re-run the
    # full scan+dropna+sort lineage once per model. The two cache
    # materializations and the class-count probe are independent
    # single-agg jobs over cached frames, run back-to-back before —
    # three sequential driver-action latencies; overlapping them
    # (guide §2.6) changes no value (counts only materialize, the
    # distinct is the same aggregate).
    test = test.cache()

    def _n_classes():
        return base.select("label").distinct().count() if is_classification else 0

    _, _, n_classes = overlap(train.count, test.count, _n_classes)
    base.unpersist(False)

    fits = overlap(*[functools.partial(fit_one, name, model) for name, model in zoo.items()])
    results = dict(zip(zoo, fits))
    train.unpersist()
    test.unpersist()
    return results


def train_models_df(spark, results: dict[str, dict[str, float]]) -> DataFrame:
    """Long-format metrics table: (model, metric, value)."""
    rows = [
        (model, metric, float(value))
        for model, metrics in results.items()
        for metric, value in metrics.items()
    ]
    return spark.createDataFrame(rows, "model string, metric string, value double")
