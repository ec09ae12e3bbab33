"""The two closed-loop workloads: one client, one operation at a time.

``dt_train``  one operation is the retrain cycle: a parquet source
              feeds ``TrainerSink`` through ``Pipeline``, the model is
              published as the next ``ModelRegistry`` version, and a
              ``PredictorTransform`` loads ``latest`` and scores a small
              held-out table.
``dt_score``  set-up trains one model; one operation loads it with
              ``PredictorTransform`` and scores a large table that
              carries passthrough columns.

Every output is materialised in full by a ``noop`` write.  The checks
ride the same write as ``Observation`` metrics, so they cost no extra
Spark job; a failed check raises ``CheckFailed``.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import Observation

from decision_tree_analytics_spark.config import PredictorConfig, TrainerConfig
from decision_tree_analytics_spark.ml.registry import LATEST, ModelRegistry
from decision_tree_analytics_spark.pipeline import Pipeline, PredictorTransform, TrainerSink
from dtbench import gen

MODEL = "dt"
# Held-out RMSE must sit near the generator's noise: below the floor
# means leakage, well above it means the tree did not learn.
RMSE_BAND = (0.8 * gen.NOISE_SD, 1.25 * gen.NOISE_SD)


class CheckFailed(Exception):
    pass


def check(ok: bool, message: str) -> None:
    if not ok:
        raise CheckFailed(message)


class Context:
    """What an operation needs: the live session, the tracer, the run's
    model root and the DataFrames materialised by the current op."""

    def __init__(self, spark, tracer, model_root: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.model_root = model_root
        self.materialised: list = []

    def source(self, path: str):
        def read(spark):
            with self.tracer.span("sources.read"):
                return spark.read.parquet(path)

        return read

    def materialise(self, df, *metrics) -> dict:
        """Write ``df`` to the noop sink; returns the observed metrics."""
        obs = Observation()
        observed = df.observe(obs, *metrics)
        with self.tracer.span("ml.predictor.exec", job_group=True):
            observed.write.format("noop").mode("overwrite").save()
        self.materialised.append(observed)
        return obs.get


def train(ctx: Context, path: str, version: str):
    cfg = TrainerConfig(
        file_set_name=MODEL,
        model_version=version,
        cardinality_mapping=gen.CARDINALITY_MAPPING,
    )
    model = Pipeline(source=ctx.source(path), sink=TrainerSink(cfg, ctx.model_root)).run(
        ctx.spark
    )
    check(model is not None, "trainer returned no model")
    check(
        model.depth <= cfg.max_depth,
        f"tree depth {model.depth} exceeds maxDepth {cfg.max_depth}",
    )
    return model


def score(ctx: Context, path: str, predictor: PredictorConfig):
    return Pipeline(
        source=ctx.source(path),
        transforms=[PredictorTransform(predictor, ctx.model_root)],
    ).run(ctx.spark)


def check_schema(scored, input_schema, field: str) -> None:
    want = [(f.name, f.dataType.simpleString()) for f in input_schema] + [(field, "double")]
    got = [(f.name, f.dataType.simpleString()) for f in scored.schema]
    check(got == want, f"output schema {got} is not the input plus {field} double")


class DtTrain:
    name = "dt_train"
    # The first cycle takes about 5x a warm one and the JIT keeps
    # shaving the next few; more warm-up would steady the timed window
    # further but not fit the run budget.
    warmup_ops = 4
    train_rows = 100_000
    holdout_rows = 20_000

    def inputs(self, seed: int) -> dict[str, tuple[str, int, int]]:
        return {
            "train": ("train", seed, self.train_rows),
            "holdout": ("holdout", seed, self.holdout_rows),
        }

    def setup(self, ctx: Context, paths: dict[str, str]) -> None:
        self.paths = paths
        self.registry = ModelRegistry(ctx.model_root)
        self.predictor = PredictorConfig(
            file_set_name=MODEL,
            model_version=LATEST,
            feature_fields_to_exclude="label",
        )
        self.holdout_schema = ctx.spark.read.parquet(paths["holdout"]).schema

    def op(self, ctx: Context) -> int:
        version = self.registry.next_version(MODEL)
        train(ctx, self.paths["train"], version)
        check(
            self.registry.versions(MODEL)[-1] == version,
            f"registry latest is not the published {version}",
        )
        scored = score(ctx, self.paths["holdout"], self.predictor)
        check_schema(scored, self.holdout_schema, self.predictor.prediction_field)
        err = F.col(self.predictor.prediction_field) - F.col("label")
        got = ctx.materialise(
            scored,
            F.count(F.lit(1)).alias("rows"),
            F.sqrt(F.avg(err * err)).alias("rmse"),
        )
        check(got["rows"] == self.holdout_rows, f"scored {got['rows']} of {self.holdout_rows} rows")
        lo, hi = RMSE_BAND
        check(lo <= got["rmse"] <= hi, f"held-out RMSE {got['rmse']:.4f} outside [{lo}, {hi}]")
        return self.train_rows


class DtScore:
    name = "dt_score"
    # As for dt_train.
    warmup_ops = 4
    train_rows = 100_000
    score_rows = 1_000_000

    def inputs(self, seed: int) -> dict[str, tuple[str, int, int]]:
        return {
            "train": ("train", seed, self.train_rows),
            "score": ("score", seed, self.score_rows),
        }

    def setup(self, ctx: Context, paths: dict[str, str]) -> None:
        self.paths = paths
        shutil.rmtree(os.path.join(ctx.model_root, MODEL), ignore_errors=True)
        train(ctx, paths["train"], ModelRegistry(ctx.model_root).next_version(MODEL))
        self.predictor = PredictorConfig(
            file_set_name=MODEL,
            model_version=LATEST,
            feature_fields_to_include=",".join(gen.FEATURES),
        )
        self.score_schema = ctx.spark.read.parquet(paths["score"]).schema

    def op(self, ctx: Context) -> int:
        scored = score(ctx, self.paths["score"], self.predictor)
        field = self.predictor.prediction_field
        check_schema(scored, self.score_schema, field)
        got = ctx.materialise(
            scored,
            F.count(F.lit(1)).alias("rows"),
            F.count(F.col(field)).alias("scored"),
        )
        check(
            got["rows"] == got["scored"] == self.score_rows,
            f"{got['rows']} rows out, {got['scored']} scored, {self.score_rows} in",
        )
        return self.score_rows


WORKLOADS = {w.name: w for w in (DtTrain, DtScore)}
