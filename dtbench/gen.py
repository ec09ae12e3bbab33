"""Seeded input generator for the decision-tree workloads.

Every table is a pure function of ``(kind, seed, rows)``: the same
arguments give byte-identical parquet files.  The program under test
only ever sees the parquet directory this module writes.

Columns
-------
* ``x00`` .. ``x10``: uniform [0, 1) doubles, ``x11``: an int in
  [0, 100).  Each numeric feature is null in about ``NULL_SHARE`` of
  the rows.
* ``cat``: an int category in [0, ``CAT_CARDINALITY``), declared to the
  trainer through ``cardinality_mapping``.
* ``label`` (``train`` / ``holdout`` tables): ``signal(...) + noise``
  with noise drawn from N(0, ``NOISE_SD``); about ``NULL_LABEL_SHARE``
  of training labels are null.
* ``row_id``, ``region``, ``note`` (``score`` table): passthrough
  columns the predictor must carry unchanged; ``score`` has no label.

The signal is computed with nulls read as 0.0, which is the program's
null contract for features, so a tree of enough depth can reach the
noise floor: held-out RMSE close to ``NOISE_SD`` is the expected
outcome, not a tuned one.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
NUMERIC = [f"x{i:02d}" for i in range(12)]
FEATURES = NUMERIC + ["cat"]
CAT_CARDINALITY = 8
CARDINALITY_MAPPING = f"cat:{CAT_CARDINALITY}"
NOISE_SD = 0.5
NULL_SHARE = 0.02
NULL_LABEL_SHARE = 0.01
FILES = 8
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# Per-category offsets of the signal; fixed, not seeded, so every seed
# asks the same question of the tree.
CAT_EFFECT = np.array([0.0, 1.2, -0.8, 0.4, 2.0, -1.5, 0.9, -0.3])
KINDS = ("train", "holdout", "score")
# Distinct sub-streams per kind, so a seed's holdout never repeats its
# training rows.
_KIND_SALT = {"train": 0, "holdout": 1, "score": 2}


def signal(x: np.ndarray, cat: np.ndarray) -> np.ndarray:
    """Noise-free target from null-as-zero feature values.

    ``x`` is (rows, 12) with ``x[:, 11]`` the int feature; the mix of
    steps, an interaction and two smooth terms keeps every tree level
    busy without being unlearnable at depth 10."""
    return (
        2.0 * (x[:, 0] > 0.5)
        + 1.5 * x[:, 1]
        - 1.0 * ((x[:, 2] > 0.2) & (x[:, 3] > 0.6))
        + 0.8 * (x[:, 11] >= 50)
        + 0.5 * x[:, 4]
        + CAT_EFFECT[cat]
    )


def make_table(kind: str, seed: int, rows: int) -> pa.Table:
    """The ``kind`` table for ``seed`` with ``rows`` rows, in memory."""
    if kind not in KINDS:
        raise ValueError(f"unknown table kind {kind!r}; expected one of {KINDS}")
    rng = np.random.default_rng([seed, _KIND_SALT[kind], GEN_VERSION])
    x = rng.random((rows, len(NUMERIC)))
    x[:, 11] = np.floor(x[:, 11] * 100)
    nulls = rng.random((rows, len(NUMERIC))) < NULL_SHARE
    x[nulls] = 0.0
    cat = rng.integers(0, CAT_CARDINALITY, rows)

    cols: dict[str, pa.Array] = {}
    if kind == "score":
        cols["row_id"] = pa.array(np.arange(rows, dtype=np.int64))
        cols["region"] = pa.array(np.array(REGIONS)[rng.integers(0, len(REGIONS), rows)])
    for i, name in enumerate(NUMERIC):
        values = x[:, i].astype(np.int32) if name == "x11" else x[:, i]
        cols[name] = pa.array(values, mask=nulls[:, i])
    cols["cat"] = pa.array(cat.astype(np.int32))
    if kind == "score":
        cols["note"] = pa.array([f"n{v:06d}" for v in rng.integers(0, 1_000_000, rows)])
    else:
        label = signal(x, cat) + rng.normal(0.0, NOISE_SD, rows)
        label_nulls = (
            rng.random(rows) < NULL_LABEL_SHARE
            if kind == "train"
            else np.zeros(rows, dtype=bool)
        )
        cols["label"] = pa.array(label, mask=label_nulls)
    return pa.table(cols)


def write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``FILES`` parquet parts under directory ``path``."""
    os.makedirs(path)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            compression="snappy",
        )


def ensure(cache_dir: str, kind: str, seed: int, rows: int) -> str:
    """Path of the cached parquet directory for (kind, seed, rows),
    generating it first if absent.  Writes go to a temporary sibling
    that is renamed into place, so a killed run leaves no half table."""
    path = os.path.join(cache_dir, f"{kind}-g{GEN_VERSION}-s{seed}-n{rows}")
    if os.path.isdir(path):
        os.utime(path)  # marks it recently used for ``evict``
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_table(make_table(kind, seed, rows), tmp)
    os.rename(tmp, path)
    return path


def evict(cache_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used tables of each kind."""
    for kind in KINDS:
        entries = [
            os.path.join(cache_dir, d)
            for d in os.listdir(cache_dir)
            if d.startswith(f"{kind}-") and ".tmp" not in d
        ]
        entries.sort(key=os.path.getmtime, reverse=True)
        for stale in entries[keep:]:
            shutil.rmtree(stale, ignore_errors=True)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Write one seeded input table.")
    ap.add_argument("--cache", required=True)
    ap.add_argument("--kind", choices=KINDS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    a = ap.parse_args()
    os.makedirs(a.cache, exist_ok=True)
    print(ensure(a.cache, a.kind, a.seed, a.rows))
