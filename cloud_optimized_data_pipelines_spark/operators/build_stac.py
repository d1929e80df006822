"""STAC item assembly (SURVEY section 2.7 C1-C12, K2; build-stac lambda).

The reference parses each event with pydantic, derives dates + item id,
probes the raster for proj/band metadata via ``rio_stac``, and emits an
item dict — or an S3 side-file when the serialized item exceeds the
Step Functions 256 KiB state cap (``lambdas/build-stac/handler.py:20-55``,
``utils/stac.py:73-129``).

Spark-first shape: everything except the raster probe is pure column
algebra over the event DataFrame — date extraction (C1), id derivation
(C4), ISO formatting (C5), property-map assembly, JSON serialization
(C10), spill flag (K2).  The raster probe is quarantined in
``operators/multimodal.py`` as a pandas-UDF stage and joined back on
item id, so the metadata plan never leaves whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.functions.dates import extract_dates
from cloud_optimized_data_pipelines_spark.functions.ids import item_id_per_row
from cloud_optimized_data_pipelines_spark.functions.json_utils import spill_required

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
DEFAULT_ASSET_NAME = "cog_default"
DEFAULT_ASSET_ROLES = ["data", "layer"]
DEFAULT_MEDIA_TYPE = "image/tiff; application=geotiff; profile=cloud-optimized"


def iso(ts: Column) -> Column:
    """C5: ``strftime('%Y-%m-%dT%H:%M:%SZ')`` (utils/stac.py:97-98)."""
    return F.date_format(ts, ISO_FMT)


def derive_datetimes(events: DataFrame) -> DataFrame:
    """C1: fill start/end/single from the filename unless the event
    carries explicit datetimes (RegexEvent fields override extraction —
    events.py:40-42; CMR events take granule times via the enrichment
    join, SURVEY J3)."""
    has_explicit = (
        F.col("start_datetime").isNotNull()
        | F.col("end_datetime").isNotNull()
        | F.col("single_datetime").isNotNull()
    )
    d = extract_dates(F.col("s3_filename"), F.col("datetime_range"))
    return (
        events.withColumn("_d", F.when(~has_explicit, d))
        .withColumn(
            "start_datetime", F.coalesce("start_datetime", "_d.start_datetime")
        )
        .withColumn("end_datetime", F.coalesce("end_datetime", "_d.end_datetime"))
        .withColumn(
            "single_datetime", F.coalesce("single_datetime", "_d.single_datetime")
        )
        .withColumn(
            "date_error", F.when(~has_explicit, F.col("_d.error"))
        )
        .drop("_d")
    )


def enrich_from_granules(events: DataFrame, granules: DataFrame) -> DataFrame:
    """J3: CMR metadata enrichment join (utils/stac.py:118).

    The reference fetches each granule's JSON by concept id, one HTTP
    call per item, limited to 1 result (W3).  Here: a left
    join on granule_id that fills start/end datetimes from the granule's
    temporal range for CMR-routed events (F10: granule_id non-null).
    """
    g = granules.select(
        F.col("granule_id").alias("_gid"),
        F.col("time_start").alias("_g_start"),
        F.col("time_end").alias("_g_end"),
    )
    joined = events.join(g, events["granule_id"] == F.col("_gid"), "left")
    return (
        joined.withColumn(
            "start_datetime", F.coalesce("start_datetime", "_g_start")
        )
        .withColumn("end_datetime", F.coalesce("end_datetime", "_g_end"))
        .drop("_gid", "_g_start", "_g_end")
    )


#: columns attach_raster_metadata produces; build_items folds them into
#: the item struct / properties when present (rio_stac parity —
#: ``lambdas/build-stac/utils/stac.py:32-48`` with_proj/with_raster)
RASTER_META_COLS = (
    "bbox",
    "geometry_wkt",
    "proj_epsg",
    "proj_shape",
    "proj_transform",
    "raster_bands",
)


def attach_raster_metadata(df: DataFrame) -> DataFrame:
    """Derive the rio_stac item fields from raw COG-probe numerics.

    Input columns (``geotiff.cog_stac_metadata`` output, one row per
    raster): x0, y0, sx, sy, width, height, epsg, nodata, data_type,
    vmin, vmax, vsum, vsumsq, valid_count, n_cells.  Everything here is
    a pure column expression (whole-stage codegen) — the only Python in
    the chain is the tag decode itself:

    - ``bbox`` [W, S, E, N]: dataset bounds from the affine transform,
      exactly ``rio_stac``'s ``bbox = feature of dataset_geom`` for a
      north-up raster (south = y0 - h*sy, east = x0 + w*sx);
    - ``geometry_wkt``: the bbox polygon (counter-clockwise ring,
      closing vertex repeated), coordinates printf'd at 9 decimals;
    - ``proj_epsg`` / ``proj_shape`` [h, w] / ``proj_transform``
      [sx, 0, x0, 0, -sy, y0, 0, 0, 1] (rio_stac emits the 3x3 affine
      row-major — ``rio_stac.stac.get_projection_info``);
    - ``raster_bands``: single-band statistics JSON with nodata cells
      excluded (mean / stddev from exact sum / sum-of-squares, stddev
      the population form rio_stac's dataset.statistics reports).
    """
    f9 = lambda c: F.format_string("%.9f", c)  # noqa: E731
    f6 = lambda c: F.format_string("%.6f", c)  # noqa: E731
    south = F.col("y0") - F.col("height") * F.col("sy")
    east = F.col("x0") + F.col("width") * F.col("sx")
    mean = F.col("vsum") / F.col("valid_count")
    var = F.col("vsumsq") / F.col("valid_count") - mean * mean
    corner = lambda x, y: F.concat(f9(x), F.lit(" "), f9(y))  # noqa: E731
    ring = F.concat_ws(
        ", ",
        corner(F.col("x0"), south),
        corner(east, south),
        corner(east, F.col("y0")),
        corner(F.col("x0"), F.col("y0")),
        corner(F.col("x0"), south),
    )
    return (
        df.withColumn(
            "bbox",
            F.array(F.col("x0"), south, east, F.col("y0")).cast(
                "array<double>"
            ),
        )
        .withColumn(
            "geometry_wkt",
            F.concat(F.lit("POLYGON (("), ring, F.lit("))")),
        )
        .withColumn("proj_epsg", F.col("epsg").cast("long"))
        .withColumn(
            "proj_shape",
            F.array(F.col("height"), F.col("width")).cast("array<long>"),
        )
        .withColumn(
            "proj_transform",
            F.concat(
                F.lit("["),
                F.concat_ws(
                    ", ",
                    f9(F.col("sx")),
                    f9(F.lit(0.0)),
                    f9(F.col("x0")),
                    f9(F.lit(0.0)),
                    f9(-F.col("sy")),
                    f9(F.col("y0")),
                    f9(F.lit(0.0)),
                    f9(F.lit(0.0)),
                    f9(F.lit(1.0)),
                ),
                F.lit("]"),
            ),
        )
        .withColumn(
            "raster_bands",
            F.concat(
                F.lit('[{"data_type": "'),
                F.col("data_type"),
                F.lit('", "nodata": '),
                F.coalesce(f6(F.col("nodata")), F.lit("null")),
                F.lit(', "statistics": {"minimum": '),
                f6(F.col("vmin")),
                F.lit(', "maximum": '),
                f6(F.col("vmax")),
                F.lit(', "mean": '),
                f6(mean),
                F.lit(', "stddev": '),
                f6(F.sqrt(var)),
                F.lit(', "valid_percent": '),
                f6(F.col("valid_count") * 100.0 / F.col("n_cells")),
                F.lit("}}]"),
            ),
        )
    )


def build_items(events: DataFrame, spill_limit: int = 256 * 1024) -> DataFrame:
    """Assemble the STAC-item struct + serialized JSON + spill flag.

    Output columns: item STRUCT, item_json STRING, needs_spill BOOLEAN,
    date_error STRING (non-null = the reference would have raised).

    When the events carry raster metadata columns (RASTER_META_COLS,
    from :func:`attach_raster_metadata`), the item struct gains
    ``bbox``/``geometry_wkt`` fields and the properties map gains
    ``proj:epsg``/``proj:shape``/``proj:transform``/``raster:bands`` —
    the ``with_proj=True, with_raster=True`` surface of the reference's
    ``rio_stac.create_stac_item`` call (utils/stac.py:38-39).  Events
    without them (the metadata-only pipeline) keep the exact prior
    struct shape.
    """
    dated = derive_datetimes(events)
    has_raster = all(c in events.columns for c in RASTER_META_COLS)
    prop_keys = [
        F.lit("start_datetime"),
        F.lit("end_datetime"),
        F.lit("datetime"),
    ]
    prop_vals = [
        iso(F.col("start_datetime")),
        iso(F.col("end_datetime")),
        iso(F.col("single_datetime")),
    ]
    if has_raster:
        prop_keys += [
            F.lit("proj:epsg"),
            F.lit("proj:shape"),
            F.lit("proj:transform"),
            F.lit("raster:bands"),
        ]
        prop_vals += [
            F.col("proj_epsg").cast("string"),
            # NULL for a NULL shape (a passthrough row), so the key is dropped
            F.concat(F.lit("["), F.array_join("proj_shape", ", "), F.lit("]")),
            F.col("proj_transform"),
            F.col("raster_bands"),
        ]
    raster_fields = (
        [
            F.col("bbox").alias("bbox"),
            F.col("geometry_wkt").alias("geometry_wkt"),
        ]
        if has_raster
        else []
    )
    item = F.struct(
        item_id_per_row(F.col("s3_filename"), F.col("id_regex")).alias("id"),
        F.col("collection").alias("collection"),
        *raster_fields,
        F.map_filter(
            F.map_concat(
                F.coalesce(
                    F.col("properties"), F.expr("cast(map() as map<string,string>)")
                ),
                F.map_from_arrays(F.array(*prop_keys), F.array(*prop_vals)),
            ),
            lambda _, v: v.isNotNull(),
        ).alias("properties"),
        F.map_from_arrays(
            F.array(F.coalesce(F.col("asset_name"), F.lit(DEFAULT_ASSET_NAME))),
            F.array(
                F.struct(
                    F.col("s3_filename").alias("href"),
                    F.coalesce(
                        F.col("asset_roles"),
                        F.array(*[F.lit(r) for r in DEFAULT_ASSET_ROLES]),
                    ).alias("roles"),
                    F.coalesce(
                        F.col("asset_media_type"), F.lit(DEFAULT_MEDIA_TYPE)
                    ).alias("media_type"),
                )
            ),
        ).alias("assets"),
    )
    out = dated.withColumn("item", item).withColumn(
        "item_json", F.to_json(F.col("item"))
    )
    return out.withColumn(
        "needs_spill", spill_required(F.col("item_json"), spill_limit)
    )
