"""Versioned model registry over the FileSet path convention.

The reference resolves a single model directory per FileSet
(``SparkMLTrainer.java:148-152``); production retraining needs
versions.  The registry keeps the same base layout and adds one
level: ``<base>/<name>/v0001``, ``v0002``, … — version directories
are immutable once written, "latest" is the highest version number
(no pointer file to go stale or race), and the missing-location
error keeps the reference predictor's exact message contract
(``SparkMLPredictor.java:113-116``).

Directory listing uses ``os`` — on a real cluster the base would be
an object store / HDFS path and the two ``listdir``/``exists`` calls
map 1:1 onto ``FileSystem.listStatus``/``exists``; model save/load
already go through Spark's Hadoop FS layer.

Load cache (``load_model``, used by ``ModelRegistry.load`` and the
predictor stage).  Reading a saved tree costs three Spark jobs (0.2-0.3 s
on a 4-core box), paid on every predictor call although a
published version never changes.  ``load_model`` returns the model it
loaded before for the same path only when both still hold:

* the ``SparkContext`` it was loaded under is the active one;
* the directory's fingerprint — relative path, size and ``mtime_ns``
  of every file under it — equals the one taken before that load.

A rewrite in place (the reference's unversioned layout, which the
trainer ``overwrite``-s) changes the fingerprint, so it reloads: the
parquet part files carry a fresh UUID in their names, and every file
a fresh mtime.  The cache holds ``_CACHE_ENTRIES`` models, oldest use
evicted first, so a retrain loop that publishes a new version per
cycle cannot grow it.  The existence check, with the reference's
message, runs before the lookup.  Callers must not mutate a returned
model: they pass per-call columns as a ``transform`` param map.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.ml.regression import DecisionTreeRegressionModel

from decision_tree_analytics_spark.errors import ModelNotFoundError

_VERSION_RE = re.compile(r"^v(\d{4,})$")
LATEST = "latest"


def _missing(path: str) -> ModelNotFoundError:
    # byte-identical to SparkMLPredictor.java:113-116
    return ModelNotFoundError(
        "Failed to find model to use for classification."
        f" Location does not exist: {path}."
    )


_CACHE_ENTRIES = 4
_cache: OrderedDict[str, tuple] = OrderedDict()
_cache_lock = threading.Lock()


def _fingerprint(path: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``path``."""
    files = []
    for parent, _, names in os.walk(path):
        for name in names:
            full = os.path.join(parent, name)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def load_model(path: str) -> DecisionTreeRegressionModel:
    """Load the tree saved at ``path``, reusing the one loaded before
    while its SparkContext is active and its files are unchanged (see
    the module docstring).  The returned model is shared: do not call
    its setters."""
    if not os.path.exists(path):
        raise _missing(path)
    key = os.path.abspath(path)
    # Taken before the load: a rewrite racing the load then misses on
    # the next call instead of pinning a stale model.
    fingerprint = _fingerprint(key)
    sc = SparkContext._active_spark_context
    with _cache_lock:
        hit = _cache.get(key)
        if hit is not None and hit[0] is sc and hit[1] == fingerprint:
            _cache.move_to_end(key)
            return hit[2]
    model = DecisionTreeRegressionModel.load(path)
    with _cache_lock:
        _cache[key] = (sc, fingerprint, model)
        _cache.move_to_end(key)
        while len(_cache) > _CACHE_ENTRIES:
            _cache.popitem(last=False)
    return model


def list_versions(model_dir: str) -> list[str]:
    """Sorted version directory names (``v0001``…) under a model dir."""
    if not os.path.isdir(model_dir):
        return []
    found = [d for d in os.listdir(model_dir) if _VERSION_RE.match(d)]
    return sorted(found, key=lambda d: int(d[1:]))


def resolve_version(model_dir: str, version: str) -> str:
    """Resolve ``latest`` or an explicit ``vNNNN`` to a concrete path.

    ``latest`` with no versions raises the reference's missing-location
    error for the directory searched; explicit versions resolve without
    an existence check (the consumer's load guard owns that, matching
    the unversioned flow)."""
    if version == LATEST:
        versions = list_versions(model_dir)
        if not versions:
            raise _missing(os.path.join(model_dir, LATEST))
        return os.path.join(model_dir, versions[-1])
    return os.path.join(model_dir, version)


class ModelRegistry:
    """Save/load decision-tree models under ``<root>/<name>/vNNNN``."""

    def __init__(self, root: str) -> None:
        self.root = root

    def model_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def versions(self, name: str) -> list[str]:
        return list_versions(self.model_dir(name))

    def next_version(self, name: str) -> str:
        existing = self.versions(name)
        n = int(existing[-1][1:]) + 1 if existing else 1
        return f"v{n:04d}"

    def save(self, model, name: str) -> str:
        """Persist under the next version; returns the version path.
        Versions are write-once (no overwrite of an existing version)."""
        path = os.path.join(self.model_dir(name), self.next_version(name))
        model.write().save(path)
        return path

    def resolve(self, name: str, version: str = LATEST) -> str:
        path = resolve_version(self.model_dir(name), version)
        if not os.path.exists(path):
            raise _missing(path)
        return path

    def load(self, name: str, version: str = LATEST) -> DecisionTreeRegressionModel:
        return load_model(self.resolve(name, version))
