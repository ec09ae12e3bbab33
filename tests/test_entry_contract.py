"""Driver-contract invariants for __spark_entry__."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_contract_wiring(spark):
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert len(qs) >= 60
    assert set(osql) <= set(qs)
    # every query is callable with (spark, sf_dir)
    import inspect

    for name, fn in qs.items():
        params = inspect.signature(fn).parameters
        assert len(params) >= 2, name


def test_rows_only_queries_are_the_documented_exceptions():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    rows_only = set(qs) - set(osql)
    # engine-seeded, sketch-based, or iterative ops only — everything
    # else must carry an oracle
    assert rows_only == {
        "q14_approx_distinct",
        "rel_approx_quantile",
        "q26_dt_train_predict",
        "ml_rf_train_predict",
        "sim_ivf_topk",
    }


def test_driver_sampled_names_exist_and_rotate_first():
    """Rotation-contract hygiene: every hand-kept _RECHECK_PRIORITY
    name must be a real, driver-verified query (a typo would silently
    waste a driver sample slot), and all_queries() must enumerate every
    never-verified query BEFORE any verified one.  Flags come from the
    CORRECTNESS loader alone, so a new CORRECTNESS_r*.json landing
    never reds this test."""
    from decision_tree_analytics_spark import operators as O

    qs = list(O.all_queries())
    sampled = set(O._driver_verified_rounds())
    stray = set(O._RECHECK_PRIORITY) - (set(qs) & sampled)
    assert not stray, f"_RECHECK_PRIORITY names not verified queries: {stray}"
    flags = [name in sampled for name in qs]
    # once we hit the first verified name, everything after is verified
    if True in flags:
        first = flags.index(True)
        assert all(flags[first:]), "verified query enumerated before a fresh one"


def test_driver_verified_keys_loader():
    """The auto-rotation loader counts hash-green and clean rows-only
    (err == 'no_oracle') rows, and rejects real error rows.  The live
    repo root holds r01..rN files, so the loaded set is a SUPERSET of
    every single file's green rows — never asserted equal to a fixed
    list, so a new driver drop cannot red it."""
    import glob
    import json
    import os

    from decision_tree_analytics_spark import operators as O

    ks = set(O._driver_verified_rounds())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    assert files
    for f in files:
        with open(f) as fh:
            green = {
                k for k, r in json.load(fh).items() if r.get("hash_match") is True
            }
        assert ks >= green, os.path.basename(f)
    assert "q14_approx_distinct" in ks  # rows-only, err == 'no_oracle'
    assert "rel_approx_quantile" in ks  # r02 errored, r03 clean row wins


def test_driver_verified_rounds_semantics(tmp_path):
    """tmp-dir unit test with synthetic CORRECTNESS files — including
    a FUTURE round — proving a new driver drop can never red the
    suite again: error rows are excluded, no_oracle rows count, and
    the latest round wins per name."""
    import json

    from decision_tree_analytics_spark import operators as O

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "alpha": {"hash_match": True, "err": None},
        "beta": {"hash_match": None, "err": "boom: unhashable"},
        "gamma": {"hash_match": None, "err": "no_oracle"},
    }))
    (tmp_path / "CORRECTNESS_r08.json").write_text(json.dumps({
        "alpha": {"hash_match": True, "err": None},
        "beta": {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_rbad.json").write_text("not json")
    rounds = O._driver_verified_rounds(root=str(tmp_path))
    assert rounds == {"alpha": 8, "beta": 8, "gamma": 1}
    # an empty root (bare checkout) yields an empty map: every name
    # then enumerates as fresh, in module order
    assert O._driver_verified_rounds(root=str(tmp_path / "nowhere")) == {}


def test_all_queries_enumeration_is_fresh_then_recheck_then_stalest():
    """Never-driver-verified queries enumerate first, then
    _RECHECK_PRIORITY, then verified names ordered by last-verified
    round ascending (stalest first) — the property the driver's
    50-sample window relies on to re-check the oldest slice."""
    from decision_tree_analytics_spark import operators as O

    names = list(O.all_queries())
    rounds = O._driver_verified_rounds()
    sampled = set(rounds)
    n_fresh = sum(1 for k in names if k not in sampled)
    assert all(k not in sampled for k in names[:n_fresh])
    promoted = names[n_fresh : n_fresh + len(O._RECHECK_PRIORITY)]
    assert promoted == [k for k in O._RECHECK_PRIORITY if k in names]
    rest = names[n_fresh + len(promoted):]
    rest_rounds = [rounds.get(k, 0) for k in rest]
    assert rest_rounds == sorted(rest_rounds), "verified tail not stalest-first"
