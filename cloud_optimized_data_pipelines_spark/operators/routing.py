"""Routing operators (SURVEY F8-F11).

The reference's Step Functions Choice states become filtered unions:
the cogify branch (``deploy/cdk/step_function_stack.py:80-99``) splits
the event stream on ``cogify``.

Physically, a split-transform-union over one source is a single scan:
Catalyst collapses the two filters into the same exchange-free stage
when the transforms are column-level, so "routing" costs nothing at
100 TB — no materialized queues, no extra shuffle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_discovery(discovery: str) -> str:
    """F8: Choice on discovery type; unknown -> Fail (step_function_stack.py:111)."""
    if discovery not in ("s3", "cmr"):
        raise ValueError(f"Unsupported discovery type: {discovery!r}")
    return discovery


def split_cogify(
    events: DataFrame,
    cogify_stage: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """F9: cogify? -> raster stage, else passthrough; reunited by name.

    ``cogify_stage`` is the (pandas-UDF) raster transform.  Without one
    every row passes through, so ``events`` is returned as is and the
    metadata-only pipeline stays pure-column.
    """
    if cogify_stage is None:
        return events
    flag = F.coalesce(F.col("cogify"), F.lit(False))
    return cogify_stage(events.filter(flag)).unionByName(
        events.filter(~flag), allowMissingColumns=True
    )
