"""Zonal statistics: per-polygon aggregates over raster pixels.

The classic raster x vector operator (the Raptor use case, PAPERS.md):
for every polygon, aggregate the raster values whose pixel CENTER falls
inside it (same coverage rule as rasterize all_touched=False).

Physical shape:
    polys -> (tile, poly) contribution rows
        broadcast path (default): driver bbox loop, coords via a Spark
        broadcast dict, contributions broadcast-joined to tiles
        distributed path: operators.cover no-collect explode; the geom
        struct rides the rows through a shuffle hash join on
        (tile_x, tile_y) — for polygon tables too large to broadcast
    joined ⋈ tiles -> mapInPandas: scanline mask per (poly, tile),
        masked partial aggregates (count/sum/min/max) — one NumPy pass
        per pair
    groupBy(poly_id, band) final combine  (shuffle of tiny rows)

The partial+final split means pixel bytes never shuffle: only
O(polys x touched tiles) aggregate rows do.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.raster_kernels import rasterize_mask
from ..session import local_df
from ..sources.tiles import RasterGrid
from .cover import contribs_broadcast, contribs_distributed, geom_arrays, polys_fit_broadcast

_OUT_SCHEMA = "poly_id long, band int, n_pixels long, sum double, min double, max double, mean double"
_PARTIAL_SCHEMA = "poly_id long, band int, n_pixels long, sum double, min double, max double"


def zonal_stats(
    spark: SparkSession,
    tiles: DataFrame,
    grid: RasterGrid,
    polys: DataFrame,
    distributed: bool | None = None,
) -> DataFrame:
    """-> (poly_id, band, n_pixels, sum, min, max, mean) per polygon
    over all raster bands; polygons with no covered pixel are absent
    (the reference's GDAL zonal workflows behave the same).

    ``distributed=True``: no driver collect — use when the polygon side
    exceeds broadcast size; identical output (pytest-asserted).
    Default ``None`` auto-picks via cover.polys_fit_broadcast."""
    g = grid
    if distributed is None:
        distributed = not polys_fit_broadcast(polys)

    if distributed:
        cdf = contribs_distributed(polys, grid)
        joined = tiles.join(cdf, ["tile_x", "tile_y"])

        def partial(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                cache: dict = {}  # decode each polygon once per batch
                for r in pdf.itertuples(index=False):
                    pid = int(r.poly_id)
                    arrays = cache.get(pid)
                    if arrays is None:
                        arrays = cache[pid] = geom_arrays(r.geom)
                    rec = _pair_partial(r, arrays[0], arrays[1], g)
                    if rec is not None:
                        out.append(rec)
                if out:
                    yield pd.DataFrame(out)

        partials = joined.mapInPandas(partial, schema=_PARTIAL_SCHEMA)
    else:
        packed, pairs = contribs_broadcast(spark, polys, grid)
        if not pairs:
            return local_df(spark, [], _OUT_SCHEMA)
        cdf = local_df(spark, pairs, "tile_x int, tile_y int, poly_id long")
        joined = tiles.join(F.broadcast(cdf), ["tile_x", "tile_y"])
        bpolys = spark.sparkContext.broadcast(packed)

        def partial(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    coords, ro = bpolys.value[int(r.poly_id)]
                    rec = _pair_partial(r, coords, ro, g)
                    if rec is not None:
                        out.append(rec)
                if out:
                    yield pd.DataFrame(out)

        partials = joined.mapInPandas(partial, schema=_PARTIAL_SCHEMA)

    return partials.groupBy("poly_id", "band").agg(
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        (F.sum("sum") / F.sum("n_pixels")).alias("mean"),
    )


def _pair_partial(r, coords: np.ndarray, ro: np.ndarray, g: RasterGrid):
    """One (tile, polygon) pair -> partial aggregate record or None."""
    arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(r.height, r.width)
    t = g.tile_transform(int(r.tile_x), int(r.tile_y))
    m = rasterize_mask(coords, ro, t, r.height, r.width).astype(bool)
    if not m.any():
        return None
    vals = arr[m].astype(np.float64)
    return {
        "poly_id": int(r.poly_id),
        "band": int(r.band),
        "n_pixels": int(vals.size),
        "sum": float(vals.sum()),
        "min": float(vals.min()),
        "max": float(vals.max()),
    }
