"""Property-based tests (hypothesis) for the integer formulas of
snap_vacuum_plan, rel_mann_kendall and ml_quantile_reg — pure-Python
replicas of the exact expression trees both engines run, checked over
arbitrary inputs.  The Spark-vs-oracle equality lives in
tests/test_oracle_queries.py; these lock the FORMULAS
(vacuum retention accounting, Mann-Kendall statistic bounds, pinball
argmin) against future refactors and against inputs the fixture
never produces (all-tie series, single-generation files, negative
trends)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from decision_tree_analytics_spark.operators.cdc import VACUUM_GENS, VACUUM_KEEP
from decision_tree_analytics_spark.operators.stats_ext import QREG_COMBOS


# ---- snap_vacuum_plan accounting -------------------------------------


def _vacuum_rows(files: list[tuple[int, int, int]]) -> list[dict]:
    """Replica of the planner over (bytes, born, extra) file tuples."""
    spans = [
        (bytes_, born, min(born + extra + 1, VACUUM_GENS - 1))
        for bytes_, born, extra in files
    ]
    live_floor = VACUUM_GENS - VACUUM_KEEP
    rows = []
    cum = 0
    for gen in range(VACUUM_GENS):
        referenced = [
            (b, lo, hi) for b, lo, hi in spans if lo <= gen <= hi
        ]
        last = [(b, lo, hi) for b, lo, hi in spans if hi == gen]
        vac = 1 if gen < live_floor else 0
        if vac:
            cum += sum(b for b, _, _ in last)
        rows.append(
            {
                "gen": gen,
                "n_files_referenced": len(referenced),
                "bytes_last_ref": sum(b for b, _, _ in last),
                "n_files_last_ref": len(last),
                "vacuumable": vac,
                "cum_bytes_reclaimed": cum,
            }
        )
    return rows


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),  # bytes
            st.integers(min_value=0, max_value=3),  # born
            st.integers(min_value=0, max_value=2),  # extra
        ),
        min_size=1,
        max_size=200,
    )
)
def test_vacuum_accounting_invariants(files):
    rows = _vacuum_rows(files)
    # Conservation: every file has exactly one last reference.
    assert sum(r["n_files_last_ref"] for r in rows) == len(files)
    # Nothing referenced by a live snapshot is ever reclaimed: the
    # reclaim total equals the bytes of files whose whole span ended
    # before the live floor.
    live_floor = VACUUM_GENS - VACUUM_KEEP
    expect = sum(
        b
        for b, born, extra in files
        if min(born + extra + 1, VACUUM_GENS - 1) < live_floor
    )
    assert rows[-1]["cum_bytes_reclaimed"] == expect
    # Monotone, and flat across the live tail.
    cums = [r["cum_bytes_reclaimed"] for r in rows]
    assert all(a <= b for a, b in zip(cums, cums[1:]))
    assert cums[live_floor - 1] == cums[-1]
    # A generation's footprint always includes the files whose last
    # reference it is.
    for r in rows:
        assert r["n_files_referenced"] >= r["n_files_last_ref"]


# ---- rel_mann_kendall statistic --------------------------------------


def _mk(xs: list[int]) -> tuple[int, int]:
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    return s, n * (n - 1) // 2


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=2, max_size=40))
def test_mann_kendall_bounds_and_sign(xs):
    s, n_pairs = _mk(xs)
    assert -n_pairs <= s <= n_pairs
    # The ppm normalization both engines compute: sign-split keeps
    # every division positive (Spark div truncates, DuckDB // floors
    # on negatives — they only agree on non-negative numerators).
    trend = (-1 if s < 0 else 1) * (abs(s) * 1_000_000 // n_pairs)
    assert -1_000_000 <= trend <= 1_000_000
    # Strictly increasing series saturate at +1e6; decreasing at -1e6;
    # constant series at exactly 0.
    if all(a < b for a, b in zip(xs, xs[1:])):
        assert trend == 1_000_000
    if all(a > b for a, b in zip(xs, xs[1:])):
        assert trend == -1_000_000
    if len(set(xs)) == 1:
        assert s == 0 and trend == 0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=100), min_size=2, max_size=25))
def test_mann_kendall_antisymmetry(xs):
    s_fwd, _ = _mk(xs)
    s_rev, _ = _mk(list(reversed(xs)))
    assert s_fwd == -s_rev


# ---- ml_quantile_reg pinball loss ------------------------------------


def _pinball10(y: int, yhat: int) -> int:
    return 9 * (y - yhat) if y > yhat else yhat - y


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50_000),  # y cents
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=100,
    )
)
def test_pinball_argmin_is_exact(rows):
    losses = {
        (a, b): sum(_pinball10(y, a + b * h) for y, h in rows)
        for a, b in QREG_COMBOS
    }
    # All losses are non-negative integers (both CASE branches are).
    assert all(v >= 0 for v in losses.values())
    best = min(losses.items(), key=lambda kv: (kv[1], kv[0]))
    # The (loss, a, b) tie-break is total: exactly one winner.
    assert (
        sum(1 for kv in losses.items() if (kv[1], kv[0]) == (best[1], best[0]))
        == 1
    )
    # q=0.9 asymmetry: over-prediction is 9x cheaper than equal-sized
    # under-prediction, so the zero-slope fit never prefers an
    # intercept BELOW one that covers more mass at the same distance.
    y0 = [y for y, _ in rows]
    flat = {a: sum(_pinball10(y, a) for y in y0) for a, _ in QREG_COMBOS}
    # Sanity on the formula itself for a single point:
    assert _pinball10(100, 90) == 90  # under-predict by 10 -> 9*10
    assert _pinball10(90, 100) == 10  # over-predict by 10 -> 1*10
    assert flat  # grid non-empty
