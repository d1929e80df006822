"""reference-operator queries (SURVEY sections 2.1-2.3, 2.7)

Split out of the single-file registry in round 11 (VERDICT r10 task
9); registration order is preserved by the import order in
``cloud_optimized_data_pipelines_spark.queries`` and pinned by
``tests/test_registry_order.py``.  Code is unchanged — only moved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cloud_optimized_data_pipelines_spark.functions.dates import extract_dates  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.functions.ids import item_id  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import text as T  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import vectors as V  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import dedup as D  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import similarity as S  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.operators.transfer import plan_transfer  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.sources import cmr as cmr_src  # noqa: F401
from cloud_optimized_data_pipelines_spark.sources import inventory as inv_src  # noqa: F401,E501

from cloud_optimized_data_pipelines_spark.queries import (  # noqa: F401
    load_tables,
    query,
)

# ---------------------------------------------------------------------------
# Reference-operator queries (SURVEY section 2.1-2.3, 2.7) — the engine's own
# operators driven from the star schema, checked against an INDEPENDENT
# date-math oracle (not a re-implementation of the regexes).
# ---------------------------------------------------------------------------

_EXTRACT_DATES = """
WITH inv AS (
  SELECT o_orderkey,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN 's3://veda/coll/OMI_' || strftime(o_orderdate, '%Y-%m-%d') || '_V4.tif'
      WHEN 1 THEN 's3://veda/coll/OMI_' || strftime(o_orderdate, '%Y%m%d') || '_V4.tif'
      WHEN 2 THEN 's3://veda/coll/OMI_' || strftime(o_orderdate, '%Y%m') || '_V4.tif'
      ELSE 's3://veda/coll/OMI_' || strftime(o_orderdate, '%Y%m%d') || '_to_'
           || strftime(o_orderdate + INTERVAL 10 DAY, '%Y%m%d') || '_V4.tif'
    END AS s3_filename,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 1 THEN 'month' WHEN 2 THEN 'year' ELSE NULL
    END AS datetime_range,
    o_orderdate
  FROM orders
)
SELECT o_orderkey, s3_filename,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN NULL
    WHEN 1 THEN date_trunc('month', o_orderdate)::TIMESTAMP
    WHEN 2 THEN date_trunc('year', o_orderdate)::TIMESTAMP
    ELSE o_orderdate
  END AS start_datetime,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN NULL
    WHEN 1 THEN last_day(o_orderdate)::TIMESTAMP
    WHEN 2 THEN (date_trunc('year', o_orderdate) + INTERVAL 11 MONTH + INTERVAL 30 DAY)::TIMESTAMP
    ELSE o_orderdate + INTERVAL 10 DAY
  END AS end_datetime,
  CASE WHEN CAST(o_orderkey % 4 AS INT) = 0 THEN o_orderdate ELSE NULL END AS single_datetime
FROM inv
"""


@query("c1_extract_dates", _EXTRACT_DATES)
def c1_extract_dates(spark, sf_dir):
    """extract_dates over filenames synthesized from o_orderdate; the
    oracle derives expectations from date math, independently of the
    regex strategy implementation (true cross-check)."""
    t = load_tables(spark, sf_dir)
    key = (F.col("o_orderkey") % 4).cast("int")
    fname = (
        F.when(key == 0, F.concat(F.lit("s3://veda/coll/OMI_"), F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("_V4.tif")))
        .when(key == 1, F.concat(F.lit("s3://veda/coll/OMI_"), F.date_format("o_orderdate", "yyyyMMdd"), F.lit("_V4.tif")))
        .when(key == 2, F.concat(F.lit("s3://veda/coll/OMI_"), F.date_format("o_orderdate", "yyyyMM"), F.lit("_V4.tif")))
        .otherwise(
            F.concat(
                F.lit("s3://veda/coll/OMI_"),
                F.date_format("o_orderdate", "yyyyMMdd"),
                F.lit("_to_"),
                F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 10 DAY"), "yyyyMMdd"),
                F.lit("_V4.tif"),
            )
        )
    )
    rng = F.when(key == 1, F.lit("month")).when(key == 2, F.lit("year"))
    inv = t["orders"].select(
        "o_orderkey", fname.alias("s3_filename"), rng.alias("datetime_range")
    )
    d = extract_dates(F.col("s3_filename"), F.col("datetime_range"))
    return inv.select(
        "o_orderkey",
        "s3_filename",
        d["start_datetime"].alias("start_datetime"),
        d["end_datetime"].alias("end_datetime"),
        d["single_datetime"].alias("single_datetime"),
    )


_ITEM_ID = """
SELECT p_partkey,
  regexp_extract(fn, 's3://([^/]*)/(.+).tif$', 1) || '-' ||
  regexp_extract(fn, 's3://([^/]*)/(.+).tif$', 2) AS item_id
FROM (
  SELECT p_partkey,
         's3://bucket-' || CAST(p_partkey % 7 AS VARCHAR) || '/parts/p_'
         || CAST(p_partkey AS VARCHAR) || '_' || p_brand || '.nc.tif' AS fn
  FROM part
) t
"""


@query("c4_item_id", _ITEM_ID)
def c4_item_id(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    fn = F.concat(
        F.lit("s3://bucket-"),
        (F.col("p_partkey") % 7).cast("string"),
        F.lit("/parts/p_"),
        F.col("p_partkey").cast("string"),
        F.lit("_"),
        F.col("p_brand"),
        F.lit(".nc.tif"),
    )
    return t["part"].select(
        "p_partkey",
        item_id(fn, r"s3://([^/]*)/(.+).tif$").alias("item_id"),
    )


_DISCOVERY = """
SELECT 'parts' AS collection,
       's3://veda-staging/' || key AS s3_filename,
       FALSE AS upload
FROM (
  SELECT 'parts/p_' || CAST(p_partkey AS VARCHAR) || '_'
         || CAST(p_size AS VARCHAR) || '.tif' AS key
  FROM part
) t
WHERE key LIKE 'parts/%' AND regexp_matches(key, '^parts/p_.*\\.tif$')
"""


@query("s2_discovery_enrich", _DISCOVERY)
def s2_discovery(spark, sf_dir):
    """S1+S2+F1: inventory scan -> anchored regex -> enriched records,
    via the engine's inventory source operators."""
    t = load_tables(spark, sf_dir)
    inventory = t["part"].select(
        F.lit("veda-staging").alias("bucket"),
        F.concat(
            F.lit("parts/p_"),
            F.col("p_partkey").cast("string"),
            F.lit("_"),
            F.col("p_size").cast("string"),
            F.lit(".tif"),
        ).alias("key"),
        F.lit(0).cast("long").alias("size"),
        F.lit(None).cast("timestamp").alias("last_modified"),
    )
    discovered = inv_src.discover(inventory, prefix="parts/", filename_regex=r"^parts/p_.*\.tif$")
    enriched = inv_src.enrich(discovered, prefix="parts/")
    return enriched.select("collection", "s3_filename", "upload")


_LINKS = """
SELECT collection, granule_id, link.href AS s3_filename
FROM (
  SELECT 'OMDOAO3e' AS collection,
         'G' || CAST(o_orderkey AS VARCHAR) || '-X' AS granule_id,
         [
           {'rel': 'http://esipfed.org/ns/fedsearch/1.1/data#',
            'href': 's3://cmr/o_' || CAST(o_orderkey AS VARCHAR) || '.he5'},
           {'rel': 'http://esipfed.org/ns/fedsearch/1.1/browse#',
            'href': 's3://cmr/o_' || CAST(o_orderkey AS VARCHAR) || '.png'},
           {'rel': 'http://esipfed.org/ns/fedsearch/1.1/data#',
            'href': 'https://example.com/o_' || CAST(o_orderkey AS VARCHAR) || '.html'}
         ] AS links
  FROM orders WHERE o_orderkey % 10 = 0
) g, UNNEST(g.links) AS u(link)
WHERE link.rel = 'http://esipfed.org/ns/fedsearch/1.1/data#'
  AND regexp_matches(link.href, '^.*\\.he5$')
"""


@query("s4_link_explode", _LINKS)
def s4_links(spark, sf_dir):
    """S4+F2+F3: granule links flatten + rel/include filters via the
    engine's CMR source operator."""
    t = load_tables(spark, sf_dir)
    okey = F.col("o_orderkey").cast("string")
    granules = (
        t["orders"]
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.concat(F.lit("G"), okey, F.lit("-X")).alias("granule_id"),
            F.lit("OMDOAO3e").alias("collection"),
            F.lit(None).cast("string").alias("version"),
            F.lit(None).cast("timestamp").alias("time_start"),
            F.lit(None).cast("timestamp").alias("time_end"),
            F.lit(None).cast("array<double>").alias("bbox"),
            F.array(
                F.struct(
                    F.lit(cmr_src.DATA_REL).alias("rel"),
                    F.concat(F.lit("s3://cmr/o_"), okey, F.lit(".he5")).alias("href"),
                ),
                F.struct(
                    F.lit("http://esipfed.org/ns/fedsearch/1.1/browse#").alias("rel"),
                    F.concat(F.lit("s3://cmr/o_"), okey, F.lit(".png")).alias("href"),
                ),
                F.struct(
                    F.lit(cmr_src.DATA_REL).alias("rel"),
                    F.concat(F.lit("https://example.com/o_"), okey, F.lit(".html")).alias("href"),
                ),
            ).alias("links"),
        )
    )
    out = cmr_src.explode_links(granules, mode="data", include=r"^.*\.he5$")
    return out.select("collection", "granule_id", "s3_filename")


_TRANSFER = """
WITH ev AS (
  SELECT p_partkey, p_brand AS collection,
         's3://src/parts/p_' || CAST(p_partkey AS VARCHAR) || '_2020.tif' AS src_url,
         (p_size % 2 = 0) AS upload
  FROM part
), tgt AS (
  SELECT 'veda-store' AS bucket,
         p_brand || '/p_' || CAST(p_partkey AS VARCHAR) || '_2020.tif' AS key
  FROM part WHERE p_partkey % 5 = 0
)
SELECT ev.p_partkey,
  CASE WHEN ev.upload
       THEN 's3://veda-store/' || ev.collection || '/p_' || CAST(ev.p_partkey AS VARCHAR) || '_2020.tif'
       ELSE ev.src_url END AS s3_filename,
  (ev.upload AND tgt.key IS NULL) AS needs_copy
FROM ev LEFT JOIN tgt
  ON tgt.key = ev.collection || '/p_' || CAST(ev.p_partkey AS VARCHAR) || '_2020.tif'
"""


@query("k3_transfer_plan", _TRANSFER)
def k3_transfer(spark, sf_dir):
    """K3/F6/F7/J2: upload gate + existence anti-check + URL rewrite via
    the engine's transfer operator."""
    t = load_tables(spark, sf_dir)
    pk = F.col("p_partkey").cast("string")
    events = t["part"].select(
        "p_partkey",
        F.col("p_brand").alias("collection"),
        F.concat(F.lit("s3://src/parts/p_"), pk, F.lit("_2020.tif")).alias("s3_filename"),
        (F.col("p_size") % 2 == 0).alias("upload"),
    )
    target_inv = (
        t["part"]
        .filter(F.col("p_partkey") % 5 == 0)
        .select(
            F.lit("veda-store").alias("bucket"),
            F.concat(F.col("p_brand"), F.lit("/p_"), pk, F.lit("_2020.tif")).alias("key"),
        )
    )
    planned = plan_transfer(events, target_inv, "veda-store")
    return planned.select("p_partkey", "s3_filename", "needs_copy")


_CONFIG_JOIN = """
SELECT d.doc_id, d.source AS collection, c.variable_name
FROM documents d
LEFT JOIN (
  SELECT DISTINCT source, 'var_' || source AS variable_name FROM documents
) c ON c.source = d.source
"""


@query("j1_config_join", _CONFIG_JOIN)
def j1_config(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    config = (
        t["documents"]
        .select("source")
        .distinct()
        .select(
            F.col("source").alias("collection"),
            F.concat(F.lit("var_"), F.col("source")).alias("variable_name"),
        )
    )
    docs = t["documents"].select("doc_id", F.col("source").alias("collection"))
    from cloud_optimized_data_pipelines_spark.sources.config import with_config

    return with_config(docs, config).select("doc_id", "collection", "variable_name")


_J4_COLLECTION = """
SELECT d.doc_id, d.source AS collection, c.time_density, c.is_periodic,
       CAST(c.n_docs AS BIGINT) AS n_docs
FROM documents d
LEFT JOIN (
  SELECT source,
         CASE WHEN COUNT(*) % 3 = 0 THEN 'month'
              WHEN COUNT(*) % 3 = 1 THEN 'day' ELSE 'year' END AS time_density,
         COUNT(*) % 2 = 0 AS is_periodic,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source
) c ON c.source = d.source
"""


@query("j4_collection_join", _J4_COLLECTION)
def j4_collection(spark, sf_dir):
    """J4 collection-metadata join (OPERATING.md:9-24): items enriched
    from a collections dimension (dashboard:time_density /
    dashboard:is_periodic analog), broadcast left join — the dim is
    thousands of rows at most, so no fact shuffle at any scale."""
    t = load_tables(spark, sf_dir)
    coll = (
        t["documents"]
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "source",
            F.when(F.col("n_docs") % 3 == 0, F.lit("month"))
            .when(F.col("n_docs") % 3 == 1, F.lit("day"))
            .otherwise(F.lit("year"))
            .alias("time_density"),
            (F.col("n_docs") % 2 == 0).alias("is_periodic"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )
    return (
        t["documents"]
        .select("doc_id", F.col("source").alias("collection"), "source")
        .join(coll, "source", "left")
        .select("doc_id", "collection", "time_density", "is_periodic", "n_docs")
    )


_EXTENT = """
WITH d AS (
  SELECT CAST(o_orderkey % 4 AS INT) AS coll_bucket,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN o_orderdate
      WHEN 1 THEN date_trunc('month', o_orderdate)::TIMESTAMP
      WHEN 2 THEN date_trunc('year', o_orderdate)::TIMESTAMP
      ELSE o_orderdate
    END AS s,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN o_orderdate
      WHEN 1 THEN last_day(o_orderdate)::TIMESTAMP
      WHEN 2 THEN (date_trunc('year', o_orderdate) + INTERVAL 11 MONTH + INTERVAL 30 DAY)::TIMESTAMP
      ELSE o_orderdate + INTERVAL 10 DAY
    END AS e
  FROM orders
)
SELECT coll_bucket, MIN(s) AS temporal_start, MAX(e) AS temporal_end, COUNT(*) AS n_items
FROM d GROUP BY coll_bucket
"""


@query("a3_collection_extent", _EXTENT)
def a3_extent(spark, sf_dir):
    """A3 (engine improvement over the reference's hand-maintained
    collection extents): aggregate item datetimes per collection."""
    items = c1_extract_dates(spark, sf_dir)
    return (
        items.select(
            (F.col("o_orderkey") % 4).cast("int").alias("coll_bucket"),
            F.coalesce("start_datetime", "single_datetime").alias("s"),
            F.coalesce("end_datetime", "single_datetime").alias("e"),
        )
        .groupBy("coll_bucket")
        .agg(
            F.min("s").alias("temporal_start"),
            F.max("e").alias("temporal_end"),
            F.count("*").alias("n_items"),
        )
    )


_SPILL = """
SELECT doc_id, (n_chars + 49 >= 1024) AS needs_spill
FROM documents
"""


@query("k2_spill_flag", _SPILL)
def k2_spill(spark, sf_dir):
    """K2: the 256KiB side-file rule (demo limit 1KiB so both branches
    occur), via the engine's payload-size scalar."""
    from cloud_optimized_data_pipelines_spark.functions.json_utils import spill_required

    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", spill_required(F.col("text"), 1024).alias("needs_spill")
    )


