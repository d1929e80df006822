"""Cogify stage — netCDF4/HDF5 -> Cloud-Optimized GeoTIFF (SURVEY S5, S6,
K1, C13, C14; ``lambdas/cogify/handler.py``).

The reference downloads each granule, reads one variable (optionally
inside an HDF5 group), fixes orientation, computes the geo transform
(EPSG:4326 default, per-collection affine override — which it obtains
by ``eval()``-ing a config string, handler.py:130), writes a tiled
deflate COG (256x256 blocks, handler.py:25-29) and uploads it.

Spark-first shape: one ``mapInPandas`` stage keyed by the broadcast
config join (J1).  GDAL/rasterio/netCDF4 are NOT in this container, so
the decode/encode hooks are stubbed behind import-tries with a
deterministic fake; everything Spark-side — config join, batch shape,
schema, error capture, output URL derivation — is real and tested.

Deliberate deviation, documented: handler.py:111-139 computes
``dst_transform`` via ``calculate_default_transform(4326 -> 3857)``
(Web-Mercator METER units) yet writes the profile with
``crs=src_crs`` (4326) and never reprojects the pixels — a
units-mismatched georeference in the reference output.  This engine
writes the self-consistent EPSG:4326 transform derived from the
granule bbox instead (what the affine-override path — which the
reference's real collections use, example.ini — produces anyway).

Scale notes: raster work is memory-heavy (the reference allots 8 GB
per worker — lambda_stack.py:75).  Keep Arrow batches small via
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in
``cogify_stage``), and rely on task retries for flaky I/O (the
reference retries RasterioIOError 5x — step_function_stack.py:167-171).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.sources.config import parse_affine, with_config

# COG output profile (cogify/handler.py:25-29,133-147)
COG_PROFILE = {
    "driver": "GTiff",
    "compress": "DEFLATE",
    "blockxsize": 256,
    "blockysize": 256,
    "tiled": True,
}

COGIFY_RESULT_SCHEMA = (
    "collection string, s3_filename string, output_filename string, "
    "n_bytes bigint, error string"
)


def _have_raster_libs() -> bool:
    try:  # pragma: no cover - environment-dependent
        import netCDF4  # noqa: F401
        import rasterio  # noqa: F401

        return True
    except ImportError:
        return False


def _stub_decode(payload_path: str, variable_name: str | None):
    """Deterministic STAND-IN for the netCDF4/HDF5 variable read
    (handler.py:81-96) — netCDF4 is not in this container.  Synthesizes
    a small raster whose shape/values derive only from (path, variable)
    via md5, with nodata holes, so the rest of the pipeline (affine,
    tiling, deflate, overviews, upload naming) runs for real and is
    byte-reproducible.  Swap for ``Dataset(path)[variable][:]`` when
    netCDF4 exists."""
    import hashlib

    import numpy as np

    seed = hashlib.md5(
        f"{os.path.basename(payload_path)}|{variable_name}".encode()
    ).digest()
    h = 80 + seed[0]  # 80..335 rows
    w = 80 + seed[1]
    y = np.arange(h, dtype=np.float32)[:, None]
    x = np.arange(w, dtype=np.float32)[None, :]
    base = np.float32(int.from_bytes(seed[2:4], "little") % 1000)
    arr = base + y * np.float32(0.25) + x * np.float32(0.5)
    nodata = np.float32(-9999.0)
    arr[(y + x) % 97 == 0] = nodata  # fill-value holes like masked vars
    return arr, float(nodata)


def _apply_cf_packing(arr, fill, attrs):
    """CF packed-data unpacking: ``scale_factor * v + add_offset`` for
    non-fill cells; fill cells keep the RAW fill value (which stays the
    nodata tag).  netCDF4-python's auto mask-and-scale — which the
    reference's ``Dataset(...)`` reads inherit — produces the same
    values for valid cells."""
    scale = attrs.get("scale_factor")
    offset = attrs.get("add_offset")
    if scale is None and offset is None:
        return arr
    s = float(scale) if scale is not None else 1.0
    o = float(offset) if offset is not None else 0.0
    unpacked = arr.astype("float64") * s + o
    if fill is not None:
        unpacked = np.where(
            arr == arr.dtype.type(fill), np.float64(fill), unpacked
        )
    return unpacked


def _coord_range(vals, fill):
    """(min, max) of a coordinate vector, fill cells excluded (netCDF4
    masked-array min/max semantics)."""
    if fill is not None:
        valid = vals[vals != np.float64(fill)]
        if valid.size:
            vals = valid
    return float(vals.min()), float(vals.max())


class _LibReader:  # pragma: no cover - lib-dependent
    """netCDF4-library reader with the SAME contract (raw values +
    attrs dict) as NcReader/H5Reader, so the CF unpacking and bbox
    logic is shared code, not a parallel implementation — library and
    pure-numpy paths emit identical output.  Auto mask-and-scale is
    disabled: masked reads fill cells with scaled garbage after
    np.asarray, and a default masked-array fill (1e20) is NOT the
    file's fill value."""

    def __init__(self, payload_path):
        from netCDF4 import Dataset

        self.src = Dataset(payload_path, "r")

    def _var(self, name, group=None):
        node = self.src if group is None else self.src.groups[group]
        return node[name]

    def attrs(self, name, group=None):
        v = self._var(name, group)
        return {k: v.getncattr(k) for k in v.ncattrs()}

    def read(self, name, group=None):
        v = self._var(name, group)
        v.set_auto_maskandscale(False)
        fill = getattr(v, "_FillValue", None)
        return np.asarray(v[:]), fill


def _finish_decode(reader, variable_name, group, x_variable, y_variable):
    """Shared tail of ALL decode paths (pure-numpy and library): fill
    value, CF packed-data unpacking for the variable AND the x/y
    coordinate vectors, and the coordinate bbox with fill cells
    excluded (handler.py:97-101)."""
    kwargs = {"group": group} if group else {}
    arr, fill = reader.read(variable_name, **kwargs)
    arr = _apply_cf_packing(arr, fill, reader.attrs(variable_name, **kwargs))
    bbox = None
    if x_variable and y_variable:
        xs, xf = reader.read(x_variable, **kwargs)
        ys, yf = reader.read(y_variable, **kwargs)
        xs = _apply_cf_packing(xs, xf, reader.attrs(x_variable, **kwargs))
        ys = _apply_cf_packing(ys, yf, reader.attrs(y_variable, **kwargs))
        xmin, xmax = _coord_range(xs, xf)
        ymin, ymax = _coord_range(ys, yf)
        bbox = (xmin, ymin, xmax, ymax)
    return arr, (float(fill) if fill is not None else None), bbox


def _decode(
    payload_path: str,
    variable_name: str | None,
    group: str | None,
    x_variable: str | None = None,
    y_variable: str | None = None,
    collection: str | None = None,
):
    """Decode chain, most-real-first:

    1. A local file with classic-netCDF magic (``CDF\\x01``/``CDF\\x02``)
       is decoded FOR REAL by the pure-numpy reader
       (sources/netcdf_classic.py) — variable, fill value, and the x/y
       coordinate bbox when configured (handler.py:97-101).
    2. A local file with HDF5 magic (netCDF-4 / HDF-EOS5, the
       reference's GPM IMERG and OMI inputs with group paths,
       handler.py:81-93 + example.ini:13-24) goes to the netCDF4
       library when installed, else is decoded FOR REAL by the
       pure-numpy HDF5 reader (sources/hdf5_lite.py: v1/v2 object
       headers, group traversal, contiguous + chunked/deflate/shuffle).
    3. A non-existent path (the synthetic-fixture case) uses the
       deterministic stub so the rest of the pipeline still runs.

    The tail applies the per-collection orientation fixup to the RAW
    array exactly like the reference (handler.py:90-93, pre-squeeze);
    collections without a fixup get a plain squeeze of degenerate dims.
    Returns (array2d, nodata, bbox | None).
    """
    arr, nodata, bbox = _decode_raw(
        payload_path, variable_name, group, x_variable, y_variable
    )
    # fixups encode the REAL granules' axis layout; the synthetic stub
    # (non-existent path) already produces a 2-D raster
    fixup = (
        ORIENTATION_FIXUPS.get(collection)
        if os.path.isfile(payload_path)
        else None
    )
    arr = np.ascontiguousarray(fixup(arr)) if fixup else arr.squeeze()
    if arr.ndim != 2:
        raise ValueError(
            f"{variable_name!r} is {arr.ndim}-D after orientation "
            "fixup/squeeze; cogify needs a 2-D raster"
        )
    return arr, nodata, bbox


def _decode_raw(
    payload_path: str,
    variable_name: str | None,
    group: str | None,
    x_variable: str | None = None,
    y_variable: str | None = None,
):
    if os.path.isfile(payload_path):
        with open(payload_path, "rb") as f:
            buf = f.read()
        if buf[:3] == b"CDF":
            from cloud_optimized_data_pipelines_spark.sources.netcdf_classic import (
                NcReader,
            )

            return _finish_decode(
                NcReader(buf), variable_name, None, x_variable, y_variable
            )
        if buf[:8] == b"\x89HDF\r\n\x1a\n":
            # HDF5-backed netCDF-4 / HDF-EOS5 (the reference's GPM IMERG
            # and OMI inputs, group paths per example.ini:13-24): real
            # library first, pure-numpy hdf5_lite decode otherwise —
            # both feed the SAME _finish_decode, so they emit identical
            # unpacked values and geo tags
            if _have_raster_libs():  # pragma: no cover - lib-dependent
                return _finish_decode(
                    _LibReader(payload_path),
                    variable_name,
                    group,
                    x_variable,
                    y_variable,
                )
            from cloud_optimized_data_pipelines_spark.sources.hdf5_lite import (
                H5Reader,
            )

            return _finish_decode(
                H5Reader(buf), variable_name, group, x_variable, y_variable
            )
        if _have_raster_libs():  # pragma: no cover - lib-dependent
            # other formats the installed library may read (e.g. HDF4
            # HDF-EOS2 granules via an HDF4-enabled netCDF build)
            return _finish_decode(
                _LibReader(payload_path),
                variable_name,
                group,
                x_variable,
                y_variable,
            )
        raise ValueError(
            "file exists but is neither classic netCDF nor HDF5, and "
            "netCDF4/rasterio are not installed"
        )
    arr, nodata = _stub_decode(payload_path, variable_name)
    return arr, nodata, None


# Per-collection orientation fixups, matching the reference's
# hardcoded cases verbatim (handler.py:90-93): GPM IMERG monthly grids
# arrive (time, lon, lat) and need band-0 transposed; OMI DOAS total
# ozone arrives north-up-flipped.  Keyed on collection name exactly
# like the reference; extend the table for new collections.
ORIENTATION_FIXUPS = {
    "GPM_3IMERGM": lambda v: np.transpose(v[0]),
    "OMDOAO3e": np.flipud,
}


def _cogify_bytes(
    payload_path: str,
    variable_name: str | None,
    affine,
    group: str | None = None,
    x_variable: str | None = None,
    y_variable: str | None = None,
    collection: str | None = None,
) -> bytes:
    """decode (real for classic netCDF / HDF5, stub otherwise) ->
    per-collection orientation fixup (handler.py:90-93) -> encode (REAL
    pure-numpy COG, operators/geotiff.py): tiled 256x256 deflate float32
    + 2x overviews, GeoTIFF tags for EPSG:4326, GDAL nodata — the
    reference output profile (handler.py:133-159) without GDAL."""
    from cloud_optimized_data_pipelines_spark.operators.geotiff import encode_cog

    arr, nodata, bbox = _decode(
        payload_path, variable_name, group, x_variable, y_variable,
        collection=collection,
    )
    geotransform = tuple(affine) if affine is not None else None
    kwargs = {}
    if bbox is not None:
        kwargs["bbox"] = bbox
    return encode_cog(arr, geotransform=geotransform, nodata=nodata, **kwargs)


def cogify_stage(
    events: DataFrame,
    config: DataFrame,
    output_bucket: str = "veda-data-store",
    batch_size: int = 16,
) -> DataFrame:
    """The routed raster branch (F9 true-side): config join + mapInPandas.

    Returns events with ``s3_filename`` rewritten to the COG output URL
    ``s3://{output_bucket}/{collection}/{stem}.tif`` (handler.py:43,162)
    and an ``error`` column for per-record failure capture (rows with
    errors keep flowing — the quarantine split happens in streaming
    mode, SURVEY T4/T5).
    """
    spark = events.sparkSession
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))

    joined = with_config(events, config)
    for optional in ("group", "x_variable", "y_variable"):
        if optional not in joined.columns:
            joined = joined.withColumn(optional, F.lit(None).cast("string"))
    in_cols = [
        "collection",
        "s3_filename",
        "variable_name",
        "group",
        "x_variable",
        "y_variable",
        "affine_transformation",
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_names, sizes, errors = [], [], []
            for _, row in pdf.iterrows():
                try:
                    affine = parse_affine(row["affine_transformation"])
                    blob = _cogify_bytes(
                        row["s3_filename"],
                        row["variable_name"],
                        affine,
                        group=row["group"],
                        x_variable=row["x_variable"],
                        y_variable=row["y_variable"],
                        collection=row["collection"],
                    )
                    stem = os.path.splitext(os.path.basename(row["s3_filename"]))[0]
                    out_names.append(
                        f"s3://{output_bucket}/{row['collection']}/{stem}.tif"
                    )
                    sizes.append(len(blob))
                    errors.append(None)
                except Exception as exc:  # per-record capture, not task kill
                    out_names.append(None)
                    sizes.append(0)
                    errors.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "collection": pdf["collection"],
                    "s3_filename": pdf["s3_filename"],
                    "output_filename": out_names,
                    "n_bytes": sizes,
                    "error": errors,
                }
            )

    # convert each (collection, source URL) once, however many events name
    # it, then rejoin the outputs to every such event row, rewriting
    # s3_filename like the reference does
    results = joined.select(*in_cols).dropDuplicates(["collection", "s3_filename"])
    results = results.mapInPandas(run, COGIFY_RESULT_SCHEMA)
    out = events.join(
        results.select(
            F.col("collection").alias("_coll"),
            F.col("s3_filename").alias("_src"),
            F.col("output_filename"),
            F.col("error").alias("cogify_error"),
        ),
        events["collection"].eqNullSafe(F.col("_coll"))
        & (events["s3_filename"] == F.col("_src")),
        "left",
    )
    return out.withColumn(
        "s3_filename", F.coalesce(F.col("output_filename"), F.col("s3_filename"))
    ).drop("_coll", "_src", "output_filename")


def _cog_variant(v: int) -> dict:
    """One deterministic netCDF→COG reference conversion, pure python.

    Builds a 300x300 integer-valued grid from the variant number (the
    formula is SQL-expressible so an oracle can recompute the stats
    arithmetically), round-trips it through REAL classic-netCDF bytes
    (sources/netcdf_classic.py: write → read_variable, incl. the
    equal-size lat/lon dims bound by name) and the REAL COG encoder
    (operators/geotiff.py: 2x2 tile grid + one 150x150 overview +
    deflate), then DECODES the emitted COG and reports:

    - ``cog_md5``  — md5 of the exact emitted bytes;
    - ``value_sum`` et al. — statistics of the DECODED raster, so an
      arithmetic oracle verifies the encode→decode round-trip
      non-circularly (a bug in either direction breaks equality).

    Mirrors the reference conversion
    (``/root/reference/lambdas/cogify/handler.py:81-159``): variable +
    _FillValue read from netCDF, float32 COG with GDAL nodata.
    """
    import hashlib

    from cloud_optimized_data_pipelines_spark.operators.geotiff import (
        encode_cog,
        read_tiff_meta,
    )
    from cloud_optimized_data_pipelines_spark.sources.netcdf_classic import (
        read_variable,
        write_classic,
    )

    side = 300
    vals = (np.arange(side * side, dtype=np.int64).reshape(side, side) * (v + 1)) % 97
    arr = vals.astype(np.float32)
    arr[0, 0] = np.float32(-9999.0)
    lat = np.arange(side, dtype=np.float64)[::-1]
    lon = np.arange(side, dtype=np.float64)
    nc = write_classic(
        {
            "var": (arr, {"_FillValue": np.float32(-9999.0)}),
            "lat": (np.ascontiguousarray(lat), {}),
            "lon": (lon, {}),
        },
        dims=[("lat", side), ("lon", side)],
        var_dims={"var": ["lat", "lon"], "lat": ["lat"], "lon": ["lon"]},
    )
    dec, fill = read_variable(nc, "var")
    blob = encode_cog(
        dec, bbox=(0.0, 0.0, float(side), float(side)), nodata=fill
    )
    meta = read_tiff_meta(blob)[0]
    full = meta["array"].astype(np.float64)
    return {
        "variant": v,
        "cog_md5": hashlib.md5(blob).hexdigest(),
        "value_sum": float(full.sum()),
        "width": int(full.shape[1]),
        "height": int(full.shape[0]),
        "n_levels": len(read_tiff_meta(blob)),
        "nodata": meta["nodata"][0],
    }


COG_PROBE_SCHEMA = (
    "variant long, cog_md5 string, value_sum double, width long, "
    "height long, n_levels long, nodata string"
)


def _cog_szip_variant(v: int) -> dict:
    """The :func:`_cog_variant` conversion with an HDF5/szip SOURCE:
    the same SQL-expressible grid is written as a REAL HDF5 file whose
    chunks are szip-compressed (filter id 4, CCSDS-121 extended-Rice
    via operators/rice_codec.py — the HDF-EOS compression), read back
    through sources/hdf5_lite.py's full chunk-B-tree + filter-pipeline
    walk, then COG-encoded and re-decoded.  Covers the granule form
    that raised a named error through round 7."""
    import hashlib

    from cloud_optimized_data_pipelines_spark.operators.geotiff import (
        encode_cog,
        read_tiff_meta,
    )
    from cloud_optimized_data_pipelines_spark.sources.hdf5_lite import (
        read_variable,
        write_hdf5,
    )

    side = 300
    vals = (
        np.arange(side * side, dtype=np.int64).reshape(side, side) * (v + 1)
    ) % 97
    arr = vals.astype(np.float32)
    arr[0, 0] = np.float32(-9999.0)
    h5 = write_hdf5(
        {"Grid/var": (arr, {"_FillValue": np.float32(-9999.0)})},
        chunks={"Grid/var": (100, 300)},
        szip={"Grid/var": (25, 300)},  # 12 blocks/scanline, 3 scanlines
    )
    dec, fill = read_variable(h5, "var", group="Grid")
    if dec.dtype != np.float32 or not np.array_equal(
        np.nan_to_num(dec), np.nan_to_num(arr)
    ):  # pragma: no cover - codec guard
        raise RuntimeError(f"szip variant {v}: hdf5 round-trip mismatch")
    blob = encode_cog(
        dec, bbox=(0.0, 0.0, float(side), float(side)), nodata=fill
    )
    meta = read_tiff_meta(blob)[0]
    full = meta["array"].astype(np.float64)
    return {
        "variant": v,
        "cog_md5": hashlib.md5(blob).hexdigest(),
        "value_sum": float(full.sum()),
        "width": int(full.shape[1]),
        "height": int(full.shape[0]),
        "n_levels": len(read_tiff_meta(blob)),
        "nodata": meta["nodata"][0],
    }


def _stac_raster_variant(v: int) -> dict:
    """One deterministic granule -> COG -> STAC-metadata probe.

    Unlike :func:`_cog_variant` (which passes an explicit bbox), this
    variant exercises the COORDINATE path end-to-end: the classic
    netCDF carries lat/lon cell-center vectors (exact quarter-degree
    steps, so every coordinate is a dyadic rational), ``_cogify_bytes``
    derives the bbox from them via ``_finish_decode`` (the reference's
    handler.py:97-101), and :func:`geotiff.cog_stac_metadata` probes
    the EMITTED COG's tags + raster back out — the rio_stac
    ``with_proj=True, with_raster=True`` surface
    (``lambdas/build-stac/utils/stac.py:32-48``).

    Every returned number is replayable arithmetically: grid value at
    flat index k is ``(k*(v+1)) % 97`` with cell 0 set to the -9999
    fill; lon = (-170 + 3v) + 0.25*i, lat = (80 - v) - 0.25*j.
    """
    import hashlib
    import tempfile

    from cloud_optimized_data_pipelines_spark.operators.geotiff import (
        cog_stac_metadata,
    )
    from cloud_optimized_data_pipelines_spark.sources.netcdf_classic import (
        write_classic,
    )

    side = 300
    vals = (
        np.arange(side * side, dtype=np.int64).reshape(side, side) * (v + 1)
    ) % 97
    arr = vals.astype(np.float32)
    arr[0, 0] = np.float32(-9999.0)
    lat = (80.0 - v) - 0.25 * np.arange(side, dtype=np.float64)
    lon = (-170.0 + 3.0 * v) + 0.25 * np.arange(side, dtype=np.float64)
    nc = write_classic(
        {
            "var": (arr, {"_FillValue": np.float32(-9999.0)}),
            "lat": (np.ascontiguousarray(lat), {}),
            "lon": (np.ascontiguousarray(lon), {}),
        },
        dims=[("lat", side), ("lon", side)],
        var_dims={"var": ["lat", "lon"], "lat": ["lat"], "lon": ["lon"]},
    )
    with tempfile.NamedTemporaryFile(suffix=".nc") as f:
        f.write(nc)
        f.flush()
        blob = _cogify_bytes(
            f.name, "var", None, x_variable="lon", y_variable="lat"
        )
    meta = cog_stac_metadata(blob)
    return {"variant": v, "cog_md5": hashlib.md5(blob).hexdigest(), **meta}


STAC_PROBE_SCHEMA = (
    "variant long, cog_md5 string, width long, height long, epsg long, "
    "x0 double, y0 double, sx double, sy double, nodata double, "
    "data_type string, vmin double, vmax double, vsum double, "
    "vsumsq double, valid_count long, n_cells long"
)
