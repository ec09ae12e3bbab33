import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from dtbench import gen


def file_bytes(path):
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


@pytest.mark.parametrize("kind", gen.KINDS)
def test_same_seed_gives_identical_files(tmp_path, kind):
    a = gen.ensure(str(tmp_path / "a"), kind, 7, 5_000)
    b = gen.ensure(str(tmp_path / "b"), kind, 7, 5_000)
    assert file_bytes(a) == file_bytes(b)
    assert len(file_bytes(a)) == gen.FILES


def test_other_seed_gives_other_rows():
    assert not gen.make_table("train", 1, 1_000).equals(gen.make_table("train", 2, 1_000))


def test_holdout_does_not_repeat_training_rows():
    train = gen.make_table("train", 3, 1_000).column("x00").to_numpy(zero_copy_only=False)
    hold = gen.make_table("holdout", 3, 1_000).column("x00").to_numpy(zero_copy_only=False)
    assert not np.allclose(train, hold)


def test_cache_reuses_the_written_table(tmp_path):
    first = gen.ensure(str(tmp_path), "holdout", 1, 2_000)
    marker = os.path.join(first, "marker")
    open(marker, "w").close()
    assert gen.ensure(str(tmp_path), "holdout", 1, 2_000) == first
    assert os.path.exists(marker)


def test_evict_keeps_the_most_recent(tmp_path):
    for seed in (1, 2, 3):
        path = gen.ensure(str(tmp_path), "holdout", seed, 100)
        os.utime(path, (seed, seed))
    gen.evict(str(tmp_path), keep=2)
    assert sorted(os.listdir(tmp_path)) == ["holdout-g1-s2-n100", "holdout-g1-s3-n100"]


def test_train_table_properties():
    rows = 200_000
    t = gen.make_table("train", 11, rows)
    assert t.column_names == gen.FEATURES + ["label"]
    for name in gen.NUMERIC:
        share = t.column(name).null_count / rows
        assert abs(share - gen.NULL_SHARE) < 0.003, name
    assert t.column("x11").type == "int32"
    cat = t.column("cat").to_numpy()
    assert cat.min() == 0 and cat.max() == gen.CAT_CARDINALITY - 1
    assert abs(t.column("label").null_count / rows - gen.NULL_LABEL_SHARE) < 0.002

    # The label is the stated signal plus noise of the stated level.
    x = np.column_stack(
        [t.column(n).fill_null(0).to_numpy().astype(float) for n in gen.NUMERIC]
    )
    label = t.column("label").to_numpy(zero_copy_only=False)
    resid = label - gen.signal(x, cat)
    resid = resid[~np.isnan(resid)]
    assert abs(resid.mean()) < 0.01
    assert abs(resid.std() - gen.NOISE_SD) < 0.01


def test_score_table_carries_passthrough_and_no_label(tmp_path):
    path = gen.ensure(str(tmp_path), "score", 5, 3_000)
    t = pq.read_table(path)
    assert t.num_rows == 3_000
    assert t.column_names == ["row_id", "region"] + gen.FEATURES + ["note"]
    assert t.column("row_id").to_pylist() == list(range(3_000))
    assert t.column("region").null_count == 0
    assert set(t.column("region").to_pylist()) <= set(gen.REGIONS)


def test_unknown_kind_is_refused():
    with pytest.raises(ValueError, match="unknown table kind"):
        gen.make_table("other", 1, 10)
