"""Pipeline-spec compiler (SURVEY section 3).

The reference's "query" is a JSON input event — ``{collection,
discovery, prefix, bucket, filename_regex, datetime_range, ...}``
(``OPERATING.md:69-91``; samples ``data/step_function_inputs/*.json``)
— executed by three Step Functions state machines chained over SQS.

Here the whole lifecycle compiles to ONE logical DataFrame plan:

    discover -> enrich -> (cogify | passthrough) -> transfer
             -> build_stac -> sink

so Catalyst sees every stage at once: filters collapse into the scan,
the config join broadcasts, and the only shuffles are ones the query
semantics actually require (none, for the metadata pipeline — it is
embarrassingly parallel end to end, exactly what the reference's
Map(max_concurrency=100) approximated with lambdas).

A list of input events (scripts/item.py:13-23, SURVEY W4) compiles to
the same single plan: the per-event discovery frames are unioned first,
and routing, transfer and item assembly run once over the union.  Every
event field those stages read (``filename_regex``, ``id_regex``,
``datetime_range``, ``upload``, ``cogify``) is a column of the event
record, so no event's literal is baked into a later stage.  Two events
may discover the same source key, so a ``cogify_stage`` must match its
outputs back on (collection, source URL), as ``cogify_stage`` in
``operators/cogify.py`` does.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame

from cloud_optimized_data_pipelines_spark.operators.build_stac import build_items
from cloud_optimized_data_pipelines_spark.operators.routing import (
    split_cogify,
    validate_discovery,
)
from cloud_optimized_data_pipelines_spark.operators.transfer import plan_transfer
from cloud_optimized_data_pipelines_spark.sources import cmr as cmr_src
from cloud_optimized_data_pipelines_spark.sources import inventory as inv_src


@dataclass
class PipelineSpec:
    """One discovery input event (SURVEY section 1.1 pipeline-input)."""

    collection: str | None = None
    discovery: str = "s3"  # 's3' | 'cmr'
    prefix: str | None = None
    bucket: str | None = None
    filename_regex: str | None = None
    id_regex: str | None = None
    datetime_range: str | None = None  # 'month' | 'year' | None
    version: str | None = None
    temporal: tuple[str, str] | None = None
    bounding_box: tuple[float, float, float, float] | None = None
    include: str | None = None
    mode: str = "data"  # cmr link mode: 'data' | 'stac'
    cogify: bool = False
    upload: bool = False
    dry_run: bool = False
    extra: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_event(cls, event: dict) -> "PipelineSpec":
        known = {f for f in cls.__dataclass_fields__ if f != "extra"}
        kwargs = {k: v for k, v in event.items() if k in known}
        extra = {k: str(v) for k, v in event.items() if k not in known}
        if "temporal" in kwargs and kwargs["temporal"] is not None:
            kwargs["temporal"] = tuple(kwargs["temporal"])
        if "bounding_box" in kwargs and kwargs["bounding_box"] is not None:
            kwargs["bounding_box"] = tuple(kwargs["bounding_box"])
        return cls(extra=extra, **kwargs)


def compile_discovery(
    spec: PipelineSpec,
    inventory: DataFrame | None = None,
    granules: DataFrame | None = None,
) -> DataFrame:
    """Stage 1: discovery source -> event records (EVENT_SCHEMA)."""
    validate_discovery(spec.discovery)
    if spec.discovery == "s3":
        if inventory is None:
            raise ValueError("s3 discovery requires an inventory DataFrame")
        discovered = inv_src.discover(inventory, spec.prefix, spec.filename_regex)
        return inv_src.enrich(
            discovered,
            collection=spec.collection,
            prefix=spec.prefix,
            upload=spec.upload,
            cogify=spec.cogify,
            dry_run=spec.dry_run,
            event_extras=spec.extra,
            filename_regex=spec.filename_regex,
            id_regex=spec.id_regex,
            datetime_range=spec.datetime_range,
        )
    if granules is None:
        raise ValueError("cmr discovery requires a granules DataFrame")
    hits = cmr_src.query_granules(
        granules, spec.collection, spec.version, spec.temporal, spec.bounding_box
    )
    links = cmr_src.explode_links(hits, spec.mode, spec.include)
    from pyspark.sql import functions as F

    return links.select(
        "collection",
        "s3_filename",
        "granule_id",
        F.lit(spec.filename_regex).cast("string").alias("filename_regex"),
        F.lit(spec.id_regex).cast("string").alias("id_regex"),
        F.lit(spec.datetime_range).cast("string").alias("datetime_range"),
        F.lit(None).cast("timestamp").alias("start_datetime"),
        F.lit(None).cast("timestamp").alias("end_datetime"),
        F.lit(None).cast("timestamp").alias("single_datetime"),
        F.lit(None).cast("map<string,string>").alias("properties"),
        F.lit(None).cast("string").alias("asset_name"),
        F.lit(None).cast("array<string>").alias("asset_roles"),
        F.lit(None).cast("string").alias("asset_media_type"),
        F.lit(spec.upload).alias("upload"),
        F.lit(spec.cogify).alias("cogify"),
        F.lit(spec.dry_run).alias("dry_run"),
        F.lit(None).cast("map<string,string>").alias("extra"),
    )


def compile_pipeline(spec: PipelineSpec, **kwargs) -> DataFrame:
    """The full logical plan of one input event: ``compile_many([spec])``."""
    return compile_many([spec], **kwargs)


def compile_many(
    specs: list[PipelineSpec],
    inventory: DataFrame | None = None,
    granules: DataFrame | None = None,
    target_inventory: DataFrame | None = None,
    target_bucket: str = "veda-data-store",
    cogify_stage: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """W4: discovery -> routing -> transfer -> items for a list of events.

    The events' discovery frames (all EVENT_SCHEMA) are unioned, and
    routing, transfer planning and item assembly are applied once to the
    union, so the plan holds one transfer join and one item expression
    tree however many events there are.

    Returns the STAC-item DataFrame (item struct + item_json +
    needs_spill + date_error); callers hand it to a sink.
    """
    if not specs:
        raise ValueError("compile_many needs at least one PipelineSpec, got an empty spec list")
    events = reduce(
        DataFrame.unionByName, [compile_discovery(s, inventory, granules) for s in specs]
    )
    events = split_cogify(events, cogify_stage)
    if target_inventory is not None:
        events = plan_transfer(events, target_inventory, target_bucket)
    return build_items(events)
