"""Cache hygiene for queries that persist intermediates.

Several queries persist a mid-plan table (LSH band/bucket stores)
because the consumer self-joins it and Catalyst does not reuse the
exchange across the two sides.  The query functions return a *lazy*
DataFrame, so they cannot unpersist in a ``finally`` the way
``ml_inventory.q26_dt_train_predict`` does — the action happens in
the caller.  Left alone, the cached blocks accumulate for the life of
the session when many queries share one SparkSession (the driver's
correctness sweep, the verify sweep, bench).

``tether_cache`` ties the cached table's lifetime to the *result*
DataFrame: when the caller drops its last reference to the result
(after collecting it), a ``weakref.finalize`` hook unpersists the
intermediate.  Unpersisting is safe at any point — if the result is
somehow re-executed afterwards the plan simply recomputes.
"""

from __future__ import annotations

import logging
import weakref

from pyspark.sql import DataFrame

from decision_tree_analytics_spark.errors import warn_once

logger = logging.getLogger(__name__)


def tether_cache(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Unpersist each ``cached`` DataFrame once ``result`` is
    garbage-collected (i.e. after the caller has consumed it)."""
    jdfs = [c._jdf for c in cached]

    def _release(jdfs=jdfs):
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception as e:
                # Usually the session has already stopped, so there is
                # nothing left to free; reported once per error type.
                warn_once(logger, type(e).__name__, "could not unpersist a tethered cache: %r", e)

    weakref.finalize(result, _release)
    return result
