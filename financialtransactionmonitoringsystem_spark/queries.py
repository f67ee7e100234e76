"""The full query registry consumed by ``__spark_entry__.py``.

Each operator module contributes a ``QUERIES`` dict (``q_name -> (spark,
sf_dir) -> DataFrame``) and an ``ORACLES`` dict (``q_name -> DuckDB SQL``).
Keys without an oracle are genuinely non-SQL-expressible (approximate,
probabilistic, or custom-stateful) and get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .functions import scalar
from .operators import (aggregates, curate, dedup, extras, layout,
                        multimodal, relational, setops, similarity, skew,
                        text, timeseries, topk, udfs, windows)
from .sources import txfeed
from .streaming import batch_twins

_MODULES = [relational, aggregates, windows, setops, topk, scalar,
            batch_twins, text, dedup, similarity, multimodal, extras, skew,
            curate, timeseries, udfs, layout, txfeed]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every key in registration order: ``_MODULES`` order, then each
    module's ``QUERIES`` order."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        for key, fn in getattr(mod, "QUERIES", {}).items():
            assert key not in out, f"duplicate query key {key}"
            out[key] = fn
    return out


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _MODULES:
        merged.update(getattr(mod, "ORACLES", {}))
    # mirror queries() ordering so driver-side zip/iteration stays aligned
    ordered = {k: merged.pop(k) for k in all_queries() if k in merged}
    ordered.update(merged)
    return ordered
