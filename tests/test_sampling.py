"""M2: tile tables + values_by_points — reference goldens ported.

Goldens: /root/reference/tests/test_raster.py:648-677 (3x5 ramp raster,
bounds [(0,0),(5,3)], boundary/outside cases, multiband).
"""

import numpy as np

from gdal_boots_spark.operators.sampling import values_by_points
from gdal_boots_spark.sources.tiles import (
    RasterGrid,
    array_to_tiles,
    generate_tiles,
    ramp_fill,
    tiles_to_array,
)


def _ramp_grid(raster_id="r", bands=1, tile=2):
    # reference: RasterDataset.create(shape=(3,5)); set_bounds([(0,0),(5,3)])
    return RasterGrid(
        raster_id=raster_id,
        epsg=4326,
        transform=(1.0, 0.0, 0.0, 0.0, -1.0, 3.0),
        width=5,
        height=3,
        tile_w=tile,
        tile_h=tile,
        bands=bands,
        dtype="int32",
    )


def test_generate_and_assemble_roundtrip(spark):
    grid = _ramp_grid()
    tiles = generate_tiles(spark, grid, ramp_fill)
    # 3x3 tile grid of 2x2 tiles over 5x3 px
    assert tiles.count() == 6
    arr = tiles_to_array(tiles, grid)
    assert np.array_equal(arr, np.arange(1, 16).reshape(3, 5))


def test_array_to_tiles_roundtrip(spark):
    grid = _ramp_grid()
    src = np.arange(1, 16).reshape(3, 5).astype(np.int32)
    assert np.array_equal(tiles_to_array(array_to_tiles(spark, src, grid), grid), src)


def test_values_by_points_goldens(spark):
    # test_raster.py:648-668 parametrized cases
    grid = _ramp_grid()
    tiles = generate_tiles(spark, grid, ramp_fill)
    cases = [
        ((0.0, 0.0), None),
        ((-1.0, -1.0), None),
        ((0.0, 0.1), 11),
        ((0.2, 2.5), 1),
        ((2.9, 4.9), None),
        ((3.0, 4.9), None),
        ((2.9, 5.0), None),
        ((3.0, 5.0), None),
        ((10.0, 10.0), None),
    ]
    pts = spark.createDataFrame(
        [(i, x, y) for i, ((x, y), _) in enumerate(cases)], "point_id long, x double, y double"
    )
    got = {r["point_id"]: r["value"] for r in values_by_points(pts, tiles, grid).collect()}
    for i, (_, exp) in enumerate(cases):
        assert got[i] == (None if exp is None else float(exp)), i
    assert len(got) == len(cases)


def test_values_by_points_multiband(spark):
    # test_raster.py:671-677: shape (2,3,5), values 1..30 -> point
    # (0.2, 2.5) = [1, 16]
    grid = _ramp_grid(bands=2)
    tiles = generate_tiles(spark, grid, ramp_fill)
    pts = spark.createDataFrame([(0, 0.2, 2.5)], "point_id long, x double, y double")
    rows = values_by_points(pts, tiles, grid).orderBy("band").collect()
    assert [(r["band"], r["value"]) for r in rows] == [(0, 1.0), (1, 16.0)]


def test_values_by_points_empty(spark):
    grid = _ramp_grid()
    tiles = generate_tiles(spark, grid, ramp_fill)
    pts = spark.createDataFrame([], "point_id long, x double, y double")
    assert values_by_points(pts, tiles, grid).count() == 0


def test_values_by_points_broadcast_vs_cogroup(spark):
    """r8 broadcast-raster gather == cogroup join, including NULL for
    out-of-bounds AND for in-bounds points whose tile row is ABSENT
    from a sparse tile table."""
    from pyspark.sql import functions as F

    grid = _ramp_grid(bands=2)
    # sparse tile table: drop one tile (band 0, ty 0, tx 1)
    tiles = generate_tiles(spark, grid, ramp_fill).where(F.col("tile_key") != "r/0/0/1")
    pts = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(
            [(0.2, 2.5), (2.5, 2.5), (4.5, 0.5), (-1.0, 1.0), (10.0, 10.0), (0.0, 3.0), (5.0, 0.0)]
        )],
        "point_id long, x double, y double",
    )
    fast = {(r["point_id"], r["band"]): r["value"]
            for r in values_by_points(pts, tiles, grid, distributed=False).collect()}
    slow = {(r["point_id"], r["band"]): r["value"]
            for r in values_by_points(pts, tiles, grid, distributed=True).collect()}
    assert fast == slow and len(fast) == 14
    # the dropped tile covers px in [2,4), py in [0,2): point (2.5, 2.5)
    # -> px 2, py 0 -> NULL on band 0, real value on band 1
    assert fast[(1, 0)] is None and fast[(1, 1)] is not None
    # broadcast path emits no SHUFFLE exchange (broadcast is fine)
    plan = values_by_points(pts, tiles, grid, distributed=False)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan and "CoGroup" not in plan


def test_values_by_points_memo_keeps_each_raster(spark, monkeypatch):
    """With room for ONE memo entry, sampling two rasters of the same
    grid in turn returns each raster's own values: every switch misses,
    broadcasts that raster's array, and unpersists the evicted
    raster's Broadcast.  Repeating a raster is a hit (no new
    broadcast)."""
    from pyspark import Broadcast

    from gdal_boots_spark import session

    monkeypatch.setattr(session, "MEMO_ENTRIES", 1)
    grid = _ramp_grid()
    ramp = np.arange(1, 16, dtype=np.int32).reshape(3, 5)
    rasters = {"a": array_to_tiles(spark, ramp, grid), "b": array_to_tiles(spark, ramp * 10, grid)}
    sc = spark.sparkContext
    made, unpersisted = [], []
    real_broadcast = sc.broadcast

    def broadcast(value):
        made.append(real_broadcast(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", lambda self, blocking=False: unpersisted.append(self))
    pts = spark.createDataFrame([(0, 0.2, 2.5), (1, 4.5, 0.5)], "point_id long, x double, y double")

    def sample(name):
        out = values_by_points(pts, rasters[name], grid, distributed=False).collect()
        return {r["point_id"]: r["value"] for r in out}

    assert sample("a") == {0: 1.0, 1: 15.0}
    assert sample("a") == {0: 1.0, 1: 15.0}
    assert len(made) == 1
    assert sample("b") == {0: 10.0, 1: 150.0}
    assert sample("a") == {0: 1.0, 1: 15.0}
    assert len(made) == 3
    assert unpersisted[-2:] == [made[0], made[1]]
