"""Engine error types.

Validation failures reproduce the reference's error strings
byte-for-byte (asserted in DecisionTreeConfigTest.java:53,67,79-80,93
and SparkMLPredictor.java:113-116) so a user of the reference sees
identical diagnostics.

``warn_once`` is the one way a swallowed exception is reported: a
tuning knob or a cleanup step may fail without failing the query, but
never silently.
"""

from __future__ import annotations

import logging

_warned: set[tuple[str, str]] = set()


def warn_once(logger: logging.Logger, key: str, message: str, *args) -> None:
    """Log ``message % args`` at WARNING the first time ``key`` is seen
    on ``logger``; later calls with the same key are dropped."""
    if (logger.name, key) not in _warned:
        _warned.add((logger.name, key))
        logger.warning(message, *args)


class ConfigValidationError(ValueError):
    """Configure-time validation failure (reference: IllegalArgumentException)."""


class ModelNotFoundError(FileNotFoundError):
    """Predictor model location missing (SparkMLPredictor.java:113-116)."""
