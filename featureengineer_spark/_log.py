"""One-line structured log records for routing decisions and fallbacks.

Each record is a single JSON object on the ``featureengineer_spark.*``
logger hierarchy, so a run's fallbacks can be grepped out of driver or
worker stderr without a debugger."""

from __future__ import annotations

import json
import logging


def log_event(
    logger: logging.Logger, event: str, level: int = logging.WARNING, **fields
) -> None:
    """Write ``{"event": event, **fields}`` as one line at ``level``:
    WARNING (the default) for fallbacks, INFO for routine routing
    decisions."""
    if logger.isEnabledFor(level):
        logger.log(level, json.dumps({"event": event, **fields}, sort_keys=True, default=str))
