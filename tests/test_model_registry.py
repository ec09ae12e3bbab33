"""Versioned model registry: vNNNN layout, latest resolution, the
reference predictor's byte-identical missing-location error on absent
versions (SparkMLPredictor.java:113-116 contract carried over), and
the model-load cache behind the registry and the predictor stage."""

from __future__ import annotations

import dataclasses
import shutil
import sys
import threading
import uuid

import pytest

from decision_tree_analytics_spark.config import PredictorConfig, TrainerConfig
from decision_tree_analytics_spark.errors import ModelNotFoundError
from decision_tree_analytics_spark.ml.features import assemble_features
from decision_tree_analytics_spark.ml.predictor import DecisionTreePredictorStage
from decision_tree_analytics_spark.ml import registry as registry_module
from decision_tree_analytics_spark.ml.registry import ModelRegistry
from decision_tree_analytics_spark.ml.trainer import DecisionTreeTrainerStage
from tests.fixtures import flights

_MISSING = "Failed to find model to use for classification. Location does not exist: {}."

TRAINER = TrainerConfig(
    file_set_name="unused",
    feature_fields_to_include=flights.TRAINER_FEATURES,
    label_field="delayed",
    max_depth=9,
    max_bins=100,
    cardinality_mapping="dofW:7",
)


@pytest.fixture(scope="module")
def registry(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("registry"))
    stage = DecisionTreeTrainerStage(TRAINER, root)
    reg = ModelRegistry(root)
    train = flights.flight_train_df(spark)
    # Two training runs → two immutable versions.
    for _ in range(2):
        model = stage.run(train)
        reg.save(model, "flights")
    return reg


def test_versions_increment_and_latest_resolves(registry):
    assert registry.versions("flights") == ["v0001", "v0002"]
    assert registry.resolve("flights").endswith("flights/v0002")
    assert registry.resolve("flights", "v0001").endswith("flights/v0001")
    assert registry.next_version("flights") == "v0003"


def test_latest_loads_and_predicts(spark, registry):
    model = registry.load("flights")
    assert model.numFeatures == len(flights.TRAINER_FEATURES.split(","))


def test_missing_name_and_version_errors(registry):
    # No versions at all → the reference's exact message, at .../latest.
    with pytest.raises(ModelNotFoundError) as e:
        registry.resolve("nope")
    assert str(e.value) == (
        "Failed to find model to use for classification."
        f" Location does not exist: {registry.model_dir('nope')}/latest."
    )
    # Explicit missing version.
    with pytest.raises(ModelNotFoundError) as e:
        registry.resolve("flights", "v0009")
    assert str(e.value).endswith("flights/v0009.")


def test_predictor_config_tracks_latest(spark, registry):
    cfg = PredictorConfig(
        file_set_name="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        prediction_field="delayed",
        model_version="latest",
    )
    assert cfg.resolve_model_path(registry.root).endswith("flights/v0002")
    stage = DecisionTreePredictorStage(cfg, registry.root)
    out = stage.transform(flights.flight_predict_df(spark))
    assert out.columns[-1] == "delayed"
    assert out.count() == 6


def test_predictor_missing_version_message(registry):
    cfg = PredictorConfig(
        file_set_name="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        model_version="v0042",
    )
    with pytest.raises(ModelNotFoundError) as e:
        DecisionTreePredictorStage(cfg, registry.root)
    assert str(e.value) == (
        "Failed to find model to use for classification."
        f" Location does not exist: {registry.model_dir('flights')}/v0042."
    )


def _jobs_run_by(spark, fn):
    """``fn()`` and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def _predictor(field: str = "delayed", version: str | None = "v0001") -> PredictorConfig:
    return PredictorConfig(
        file_set_name="flights",
        feature_fields_to_exclude=flights.PREDICTOR_EXCLUDES,
        prediction_field=field,
        model_version=version,
    )


@pytest.fixture
def copied(registry, tmp_path):
    """A copy of v0001 at a path no earlier load has seen."""
    root = str(tmp_path)
    shutil.copytree(registry.resolve("flights", "v0001"), f"{root}/flights/v0001")
    return root


def test_second_stage_on_unchanged_version_runs_no_job(spark, copied):
    first, jobs = _jobs_run_by(spark, lambda: DecisionTreePredictorStage(_predictor(), copied))
    assert jobs, "a first load reads the model with Spark jobs"
    second, jobs = _jobs_run_by(spark, lambda: DecisionTreePredictorStage(_predictor(), copied))
    assert jobs == []
    assert second.model is first.model
    assert ModelRegistry(copied).load("flights", "v0001") is first.model
    df = flights.flight_predict_df(spark)
    assert first.transform(df).collect() == second.transform(df).collect()


def test_retrain_in_place_reloads(spark, tmp_path):
    """The reference's unversioned layout: the trainer overwrites one
    directory, and the next stage must score with the new tree."""
    root = str(tmp_path)
    train = flights.flight_train_df(spark)
    trainer = dataclasses.replace(TRAINER, file_set_name="flights")
    predictor = _predictor(version=None)

    deep = DecisionTreeTrainerStage(trainer, root).run(train)
    before = DecisionTreePredictorStage(predictor, root)
    shallow = DecisionTreeTrainerStage(dataclasses.replace(trainer, max_depth=2), root).run(train)
    after = DecisionTreePredictorStage(predictor, root)

    def tree(model):
        return model.toDebugString.splitlines()[1:]  # line 0 carries the uid

    assert tree(before.model) == tree(deep) != tree(shallow) == tree(after.model)
    df = flights.flight_predict_df(spark)
    scored = after.transform(df)
    expected = shallow.transform(assemble_features(df, predictor.validate(df.schema)))
    assert [r.delayed for r in scored.collect()] == [r.prediction for r in expected.collect()]


def test_deleted_cached_path_raises_reference_message(copied):
    DecisionTreePredictorStage(_predictor(), copied)
    shutil.rmtree(f"{copied}/flights/v0001")
    with pytest.raises(ModelNotFoundError) as e:
        DecisionTreePredictorStage(_predictor(), copied)
    assert str(e.value) == _MISSING.format(f"{copied}/flights/v0001")
    with pytest.raises(ModelNotFoundError) as e:
        ModelRegistry(copied).load("flights", "v0001")
    assert str(e.value) == _MISSING.format(f"{copied}/flights/v0001")


@pytest.mark.parametrize("a_first", [True, False])
def test_stages_sharing_a_model_keep_their_own_columns(spark, copied, a_first):
    a = DecisionTreePredictorStage(_predictor("p_a"), copied)
    b = DecisionTreePredictorStage(_predictor("p_b"), copied)
    assert a.model is b.model
    params = (a.model.getFeaturesCol(), a.model.getPredictionCol())
    df = flights.flight_predict_df(spark)
    if a_first:
        out_a, out_b = a.transform(df), b.transform(df)
    else:
        out_b, out_a = b.transform(df), a.transform(df)
    assert out_a.columns == df.columns + ["p_a"]
    assert out_b.columns == df.columns + ["p_b"]
    assert [r.p_a for r in out_a.collect()] == [r.p_b for r in out_b.collect()]
    # The shared model is never mutated.
    assert (a.model.getFeaturesCol(), a.model.getPredictionCol()) == params == (
        "__features__",
        "prediction",
    )


def test_load_cache_is_bounded_under_concurrent_loads(tmp_path, monkeypatch):
    """Threads loading more paths than the cache holds: every call gets
    the model of its own path and the cache never exceeds its bound."""
    paths = []
    for i in range(registry_module._CACHE_ENTRIES + 2):
        (tmp_path / f"m{i}").mkdir()
        (tmp_path / f"m{i}" / "part").write_text(str(i))
        paths.append(str(tmp_path / f"m{i}"))
    monkeypatch.setattr(registry_module.DecisionTreeRegressionModel, "load", lambda p: ("model", p))
    monkeypatch.setattr(registry_module, "_cache", type(registry_module._cache)())
    errors, sizes = [], []

    def worker(k):
        try:
            for j in range(1000):
                path = paths[(k + j) % len(paths)]
                assert registry_module.load_model(path) == ("model", path)
                with registry_module._cache_lock:
                    sizes.append(len(registry_module._cache))
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert max(sizes) <= registry_module._CACHE_ENTRIES
