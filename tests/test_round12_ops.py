"""Round-12 registered operators — structural invariants and
pure-Python replays (the Spark-vs-DuckDB equality lives in
tests/test_oracle_queries.py now that the five are in the contract;
plan locks live in tests/test_plans.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators.cdc import (
    VACUUM_GENS,
    VACUUM_KEEP,
    snap_vacuum_plan,
)
from decision_tree_analytics_spark.operators.stats_ext import (
    QREG_COMBOS,
    ml_quantile_reg,
    rel_did,
    rel_mann_kendall,
)
from decision_tree_analytics_spark.operators.text import (
    REJ_THRESHOLD_PPM,
    ns_rejection_sample,
)


def test_rejection_sample_invariants(spark, sf_dir):
    pdf = ns_rejection_sample(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf.n_accepted <= pdf.n_prompts).all()
    assert (pdf.acceptance_ppm <= 1_000_000).all()
    # Every accepted prompt's best reward clears the bar, so the
    # accepted mean must too (NaN rows = sources with 0 accepted).
    m = pdf.mean_accepted_reward_ppm.dropna()
    assert (m >= REJ_THRESHOLD_PPM).all()
    # Selection can only lift quality: advantage is non-negative.
    assert (pdf.mean_advantage_ppm >= 0).all()


def test_vacuum_plan_invariants(spark, sf_dir):
    pdf = (
        snap_vacuum_plan(spark, sf_dir)
        .toPandas()
        .sort_values("gen")
        .reset_index(drop=True)
    )
    assert list(pdf.gen) == list(range(VACUUM_GENS))
    # Retention policy: exactly the last VACUUM_KEEP generations are
    # live; nothing they reference may be reclaimed.
    assert (pdf.vacuumable == (pdf.gen < VACUUM_GENS - VACUUM_KEEP)).all()
    live = pdf[pdf.vacuumable == 0]
    assert (
        pdf.cum_bytes_reclaimed.iloc[-1]
        == pdf[pdf.vacuumable == 1].bytes_last_ref.sum()
    )
    # A live generation's expiry bytes never enter the reclaim total.
    assert (
        pdf.cum_bytes_reclaimed.diff().fillna(pdf.cum_bytes_reclaimed.iloc[0])[
            live.index
        ]
        == 0
    ).all()
    # Conservation: every file has exactly one last reference.
    from decision_tree_analytics_spark.operators.cdc import (
        _order_layout_manifest,
    )

    n_files = (
        _order_layout_manifest(spark, sf_dir)
        .filter(F.col("layout") == "clustered")
        .count()
    )
    assert pdf.n_files_last_ref.sum() == n_files
    # cum is monotone non-decreasing.
    assert (pdf.cum_bytes_reclaimed.diff().dropna() >= 0).all()


def test_quantile_reg_is_grid_argmin(spark, sf_dir):
    """The winner per event type must beat every other grid point —
    recomputed independently in pandas from the raw rows."""
    import math

    from decision_tree_analytics_spark.sources.tables import load_table

    got = ml_quantile_reg(spark, sf_dir).toPandas()
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("y"),
            F.expr("((ts div 1000) div 3600000000) % 24").alias("h"),
        )
        .toPandas()
    )
    for _, row in got.iterrows():
        sub = ev[ev.event_type == row.event_type]
        losses = {}
        for a, b in QREG_COMBOS:
            yhat = a + b * sub.h
            r = sub.y - yhat
            losses[(a, b)] = int((r.where(r > 0, 0) * 9 - r.where(r <= 0, 0)).sum())
        best = min(losses.items(), key=lambda kv: (kv[1], kv[0]))
        assert (row.intercept_cents, row.slope_cents) == best[0]
        assert row.loss10 == best[1]
        # q=0.9 sanity: the fitted line over-predicts far more often
        # than it under-predicts (at least half the rows sit at or
        # under it even on a coarse grid).
        yhat = row.intercept_cents + row.slope_cents * sub.h
        assert (sub.y <= yhat).mean() >= 0.5 or math.isnan(row.loss10)


def test_mann_kendall_matches_replay(spark, sf_dir):
    from decision_tree_analytics_spark.sources.tables import load_table

    got = (
        rel_mann_kendall(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("x"))
        .toPandas()
    )
    for et, g in daily.groupby("event_type"):
        xs = list(g.sort_values("day").x)
        n = len(xs)
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        assert got.loc[et, "n_days"] == n
        assert got.loc[et, "s_stat"] == s
        assert got.loc[et, "var18"] == n * (n - 1) * (2 * n + 5)
        assert abs(got.loc[et, "trend_ppm"]) <= 1_000_000


def test_did_matches_pandas_replay(spark, sf_dir):
    from decision_tree_analytics_spark.sources.tables import load_table

    got = (
        rel_did(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("arm"),
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .toPandas()
    )
    split = (rows.day.min() + rows.day.max() + 1) // 2
    rows["post"] = (rows.day >= split).astype(int)

    def mean_micro(sub):
        # The sign-split idiom both engines run (ADVICE r11): Spark
        # div truncates and DuckDB // floors on negative numerators,
        # so the division only ever sees abs().
        if not len(sub):
            return None
        s = int(sub.cents.sum())
        return (1 if s >= 0 else -1) * (abs(s) * 10_000 // len(sub))

    for et, g in rows.groupby("event_type"):
        cells = {
            (a, p): mean_micro(g[(g.arm == a) & (g.post == p)])
            for a in (0, 1)
            for p in (0, 1)
        }
        want = (cells[(1, 1)] - cells[(1, 0)]) - (
            cells[(0, 1)] - cells[(0, 0)]
        )
        assert got.loc[et, "did_micro"] == want
        assert got.loc[et, "pre_ctrl_micro"] == cells[(0, 0)]
