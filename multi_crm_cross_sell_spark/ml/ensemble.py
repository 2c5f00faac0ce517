"""4-member ensemble scorer on MLlib (SURVEY §2.10 ML1-ML9).

Reference: PyTorch NN + XGBoost + RandomForest + GradientBoosting with
weighted voting (/root/reference/src/ml/pipeline.py:160-290; weights
0.3/0.3/0.2/0.2 at pipeline.py:48-54, config/ml_config.yaml:4-11).

Spark re-design:
- NN → MultilayerPerceptronClassifier(layers=[d,64,32,16,2])
  (capability parity: same ensemble-member role; dropout/batchnorm are
  training details MLlib's MLP doesn't expose — SURVEY §7.3(c)).
- XGBoost → GBTClassifier(maxIter=20, maxDepth=6, stepSize=0.1) —
  gradient-boosted trees of the same family, not xgboost parity. The
  slot keeps the name "xgb" for the reference's vote weights and the
  saved-model layout.
- RandomForestClassifier(numTrees=100, maxDepth=10).
- GradientBoosting → GBTClassifier(maxIter=100, maxDepth=5, stepSize=0.1).
- Weighted vote + per-row score stddev = column expressions
  (functions/features.py ensemble_score / score_confidence).

The decisive scale win vs the reference: inference is ONE
model.transform over the whole pair DataFrame (ML8) instead of a
Python loop calling predict on 1×6 matrices per pair
(pipeline.py:338-351).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    MultilayerPerceptronClassifier,
    RandomForestClassifier,
)
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.features import ensemble_score, score_confidence

# Reference pair-feature names (pipeline.py:108-157): 6-dim vector.
PAIR_FEATURES = [
    "industry_match",
    "size_compatibility",
    "geo_match",
    "product_complementarity",
    "maturity_alignment",
    "activity_score",
]


def feature_pipeline(feature_cols: list[str], with_scaler: bool = True) -> Pipeline:
    """VectorAssembler (+ StandardScaler) — ML1/M2. Assembler order is
    the fixed feature spec, replacing the reference's reliance on dict
    ordering (entity_resolution.py:420)."""
    stages = [VectorAssembler(inputCols=feature_cols, outputCol="features_raw")]
    if with_scaler:
        stages.append(
            StandardScaler(
                inputCol="features_raw", outputCol="features", withMean=True, withStd=True
            )
        )
    else:
        stages.append(VectorAssembler(inputCols=feature_cols, outputCol="features"))
    return Pipeline(stages=stages)


@dataclass
class EnsembleScorer:
    """Four MLlib members + weighted vote (ML3-ML7).

    ``maxIter``/``numTrees`` default to reference values scaled down;
    pass reference-exact values for full parity runs.
    """

    feature_cols: list[str] = field(default_factory=lambda: list(PAIR_FEATURES))
    label_col: str = "label"
    seed: int = 42
    nn_layers: tuple[int, ...] = (64, 32, 16)
    nn_iters: int = 50
    rf_trees: int = 100
    rf_depth: int = 10
    gb_iters: int = 20
    gb_depth: int = 5

    def fit(self, train: DataFrame) -> "EnsembleModel":
        d = len(self.feature_cols)
        feats = feature_pipeline(self.feature_cols).fit(train)
        prepared = feats.transform(train)

        nn = MultilayerPerceptronClassifier(
            featuresCol="features",
            labelCol=self.label_col,
            layers=[d, *self.nn_layers, 2],
            maxIter=self.nn_iters,
            seed=self.seed,
        )
        xgb = GBTClassifier(
            featuresCol="features",
            labelCol=self.label_col,
            maxIter=20,
            maxDepth=6,
            stepSize=0.1,
            seed=self.seed,
        )
        rf = RandomForestClassifier(
            featuresCol="features",
            labelCol=self.label_col,
            numTrees=self.rf_trees,
            maxDepth=self.rf_depth,
            seed=self.seed,
        )
        gb = GBTClassifier(
            featuresCol="features",
            labelCol=self.label_col,
            maxIter=self.gb_iters,
            maxDepth=self.gb_depth,
            stepSize=0.1,
            seed=self.seed,
        )
        members = {
            "nn": nn.fit(prepared),
            "xgb": xgb.fit(prepared),
            "rf": rf.fit(prepared),
            "gb": gb.fit(prepared),
        }
        return EnsembleModel(features=feats, members=members)


@dataclass
class EnsembleModel:
    features: PipelineModel
    members: dict

    def transform(self, df: DataFrame) -> DataFrame:
        """Batch inference (ML8): one pass per member over the full
        DataFrame; positive-class probability extracted from the
        probability vector; weighted vote + confidence as expressions."""
        out = self.features.transform(df)
        for name, model in self.members.items():
            scored = model.transform(out)
            out = scored.withColumn(
                f"score_{name}", vector_to_array(F.col("probability")).getItem(1)
            ).drop("rawPrediction", "probability", "prediction")
        scores = {n: F.col(f"score_{n}") for n in self.members}
        return out.withColumn(
            "score",
            ensemble_score(scores["nn"], scores["xgb"], scores["rf"], scores["gb"]),
        ).withColumn(
            "score_std",
            score_confidence(scores["nn"], scores["xgb"], scores["rf"], scores["gb"]),
        )

    def save(self, path: str) -> None:
        """Persistence + registry (ML17): MLlib native save per member.
        Layout contract: {path}/features + one dir per fixed member
        name (nn/xgb/rf/gb) — ``load`` relies on it."""
        self.features.write().overwrite().save(f"{path}/features")
        for name, model in self.members.items():
            model.write().overwrite().save(f"{path}/{name}")

    @classmethod
    def load(cls, path: str) -> "EnsembleModel":
        """ML17 round-trip (reference orchestrator.py:356-373 reloads
        the pickled ensemble; here each member reloads via its MLlib
        model class; the xgb slot holds a GBT model)."""
        from pyspark.ml.classification import (
            GBTClassificationModel,
            MultilayerPerceptronClassificationModel,
            RandomForestClassificationModel,
        )

        features = PipelineModel.load(f"{path}/features")
        members = {
            "nn": MultilayerPerceptronClassificationModel.load(f"{path}/nn"),
            "rf": RandomForestClassificationModel.load(f"{path}/rf"),
            "gb": GBTClassificationModel.load(f"{path}/gb"),
            "xgb": GBTClassificationModel.load(f"{path}/xgb"),
        }
        return cls(features=features, members=members)

    def feature_importances(self) -> dict[str, list[float]]:
        """ML9: native tree feature importances (the reference mocks
        SHAP; tree importances are the built-in explainability path,
        SHAP itself would ride mapInPandas with a broadcast model)."""
        out = {}
        for name, model in self.members.items():
            fi = getattr(model, "featureImportances", None)
            if fi is not None:
                out[name] = list(fi.toArray())
        return out


def per_row_explanations(
    model: "EnsembleModel",
    df: DataFrame,
    id_cols: list[str],
    feature_cols: list[str] | None = None,
) -> DataFrame:
    """ML9 per-row explanations for the (tree) ensemble: feature
    ablation contributions. contribution_j(x) = score(x) −
    score(x with x_j ← global mean of x_j): how much each feature's
    actual value moved THIS row's ensemble score away from the
    population baseline.

    The reference serves a mocked global importance list
    (api/main.py:883-890); this is the real per-row counterpart,
    computed model-agnostically so it covers the MLP member too (true
    TreeSHAP needs node-level statistics MLlib does not expose).

    Spark shape: d+1 full model.transform passes (one per ablated
    feature) joined on the id — every pass is ordinary distributed
    batch inference, no per-row Python, no driver loop. Cost is
    O(d · inference); for the 6-feature reference spec that is 7
    passes, embarrassingly parallel at any scale.

    ``id_cols`` must uniquely key ``df`` — the ablated passes are
    LEFT-joined back onto the base scores, so a duplicate id would
    fan rows out (never silently drop them) and a null id keeps its
    base row with null contributions."""
    feature_cols = feature_cols or model.features.stages[0].getInputCols()
    means = df.agg(*[F.avg(c).alias(c) for c in feature_cols]).first()
    out = (
        model.transform(df)
        .select(*id_cols, F.col("score").alias("score"))
    )
    for c in feature_cols:
        # An all-null (or empty-input) feature column has a None mean;
        # ablating with 0.0 keeps the pass well-defined instead of
        # raising TypeError driver-side.
        mean_c = float(means[c]) if means[c] is not None else 0.0
        ablated = df.withColumn(c, F.lit(mean_c))
        scored_c = model.transform(ablated).select(
            *id_cols, F.col("score").alias(f"_ablated_{c}")
        )
        out = out.join(scored_c, id_cols, "left")
    contribs = [
        (F.col("score") - F.col(f"_ablated_{c}")).alias(f"contrib_{c}")
        for c in feature_cols
    ]
    return out.select(*id_cols, "score", *contribs)


def cross_validate_member(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    num_folds: int = 5,
    seed: int = 42,
):
    """ML2: k-fold CV over the RF member (reference: cross_val_score
    cv=5 scoring=f1, entity_resolution.py:539; ml_config.yaml:67-72).
    Returns (bestModel, avgMetrics)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=feature_cols, outputCol="features"),
            RandomForestClassifier(
                featuresCol="features", labelCol=label_col, seed=seed
            ),
        ]
    )
    rf = pipe.getStages()[1]
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, [20, 50])
        .addGrid(rf.maxDepth, [5, 10])
        .build()
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol=label_col),
        numFolds=num_folds,
        seed=seed,
        parallelism=4,
    )
    model = cv.fit(train)
    return model.bestModel, list(model.avgMetrics)
