"""Config-table sources (SURVEY S7/S9, J1).

Per-collection cogify parameters live in an INI file keyed by collection
(``lambdas/cogify/example.ini``, loaded at ``cogify/handler.py:17-19``);
STAC collection documents live in ``data/collections/*.json``.

Both become small broadcast-joined dimension DataFrames.  The
reference's ``eval(affine_transformation)`` (cogify/handler.py:130) is
replaced with a safe tuple parse — same semantics, no code execution.
"""

from __future__ import annotations

import ast
import configparser

from pyspark.sql import DataFrame, SparkSession

from cloud_optimized_data_pipelines_spark.schemas import COGIFY_CONFIG_SCHEMA


def parse_affine(text: str | None) -> tuple[float, ...] | None:
    """Safe replacement for the reference's ``eval`` of the affine string."""
    if not text:
        return None
    value = ast.literal_eval(text)
    if not isinstance(value, (tuple, list)) or len(value) != 6:
        raise ValueError(f"affine_transformation must be a 6-tuple, got {text!r}")
    return tuple(float(v) for v in value)


def cogify_config_from_ini(spark: SparkSession, path: str) -> DataFrame:
    """INI sections -> config dimension table (one row per collection)."""
    cp = configparser.ConfigParser()
    cp.read(path)
    rows = []
    for section in cp.sections():
        s = cp[section]
        affine = s.get("affine_transformation")
        if affine:
            parse_affine(affine)  # validate eagerly, fail at load not at run
        rows.append(
            (
                section,
                s.get("variable_name"),
                s.get("group"),
                s.get("x_variable"),
                s.get("y_variable"),
                s.get("src_crs"),
                affine,
            )
        )
    return spark.createDataFrame(rows, COGIFY_CONFIG_SCHEMA)


def read_collections(spark: SparkSession, path: str) -> DataFrame:
    """STAC collection JSON documents -> dimension table (SURVEY S9)."""
    return spark.read.option("multiLine", True).json(path)


def with_config(events: DataFrame, config: DataFrame) -> DataFrame:
    """J1: config lookup join on collection.

    The config table is small (one row per collection), so the planner
    broadcasts it from its size estimate and the fact side is not
    shuffled; a config table past the broadcast threshold is shuffled
    instead of forced through the driver.
    """
    return events.join(config, "collection", "left")
