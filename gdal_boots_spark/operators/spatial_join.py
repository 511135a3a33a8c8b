"""Cell-bucketed point-in-polygon spatial join — the engine flagship.

This re-expresses, as one distributed plan, what the reference does
in-process in ``crop_by_geometry``/``values_by_points`` (gdal.py:819-931):
geometry -> covering cells -> candidate pairs -> exact refinement.

Physical shape of ``pip_join_points`` (small/medium polygon side — the
common case):

    points ──(native cell_id math, codegen)──┐
                                             ├─ BROADCAST hash join on cell_id
    polys ──(driver: bbox cover explode)─────┘
                      │
                      └─ boolean pandas-UDF ray-cast refine (polygon coords
                         via a memoized Spark broadcast variable), or a
                         codegen half-open box filter when every polygon is
                         a rectangle

Physical shape of ``pip_join_docs_any`` (geo spans of any type):

    docs scan -> posexplode/filter -> Point x/y (codegen) -> ONE mapInArrow

The mapInArrow decodes each span, looks its cells up in a broadcast
multi-level cell cover (numpy ``searchsorted``), keeps each closed-bbox
overlap pair in exactly one reporting cell and refines it exactly — one
document scan and one Python node per task, no exchange, no broadcast
join, no persist.

Zero shuffles end-to-end in both: the fact (document/point) side flows
through one stage, so the plan scales linearly with executors.

For point-vs-polygon the (point, poly) pair appears at most once —
a point maps to exactly one cell and a polygon's cover lists each cell
once — so no dedup shuffle is needed (SURVEY §4.3 applies only to
geometry x geometry joins).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geometry_fns import cell_id_col, ident_sql
from ..geom.cells import MAX_RES, _grid, compose, cover_bbox, pick_res
from ..geom.packed import PackedGeometry, collection_children, from_geojson
from ..geom.pip import geometry_intersects_polygon, points_in_polygon, rects_intersect_polygon
from ..session import local_df, memo, plan_key
from .spans import extract_geo_spans


def _parse_floats(s: str) -> np.ndarray:
    """Whitespace-separated float blob -> float64 array.  Prefers
    np.fromstring(sep=' ') (fastest single-call text parse) but NumPy
    has slated text-mode fromstring for removal, so fall back to a
    split-parse; malformed tokens yield an EMPTY array in both paths'
    net effect (fromstring truncates -> segment-count check fails;
    split-parse raises -> we return empty), routing callers to the
    slow from_geojson path."""
    import warnings

    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            return np.fromstring(s, sep=" ")
    except Exception:
        try:
            return np.asarray(s.split(), dtype=np.float64)
        except ValueError:
            return np.empty(0, dtype=np.float64)


# "[]," AND pre-existing whitespace all become newlines in ONE pass
# (r8: the old two-pass translate-to-space + replace(" ", "\n") copied
# the multi-MB joined blob an extra time per batch)
_TBL = str.maketrans("[], ", "\n\n\n\n")


def _parse_float_segments(blobs: list) -> np.ndarray:
    """Coord blobs -> ONE float64 array with NaN separators between
    segments.  Arrow's CSV float parser (single-threaded) measured
    ~1.8x np.fromstring on the joined blob; any parse surprise — error,
    non-float inference — falls back to _parse_floats, whose own
    failure mode (empty / truncated array) routes the caller's
    segment-count check to the per-row from_geojson path.  Guards stay
    a tight per-row str loop (vectorizing short-string scans through
    Arrow compute measured 7.7x SLOWER); only the float parse runs
    through Arrow."""
    joined = "\nnan\n".join(blobs).translate(_TBL)
    try:
        import pyarrow as pa
        import pyarrow.csv as pacsv

        out = (
            pacsv.read_csv(
                pa.py_buffer(joined.encode()),
                read_options=pacsv.ReadOptions(autogenerate_column_names=True, use_threads=False),
            )
            .column(0)
            .to_numpy(zero_copy_only=False)
        )
        if out.dtype != np.float64:
            return _parse_floats(joined)
        return out
    except Exception:
        return _parse_floats(joined)


def _collect_polys(polys: DataFrame):
    """Driver-side: polygon table -> ({poly_id: (coords, ring_offsets)},
    {poly_id: bbox}, plan_key(polys)).  The polygon side is the
    *dimension*; the point side is the 10^12-row fact and never leaves
    the executors.  Session-memoized (each collect is a full Spark job);
    the key is returned so callers memoize what they derive from the
    dim under it."""

    def build():
        packed, bboxes = {}, {}
        for r in polys.select("poly_id", "geojson").collect():
            pg = from_geojson(r["geojson"])
            packed[int(r["poly_id"])] = (pg.coords, pg.ring_offsets)
            c = pg.coords.reshape(-1, 2)
            bboxes[int(r["poly_id"])] = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
        return packed, bboxes

    key = plan_key(polys)
    return (*memo(polys.sparkSession, ("poly_dim", key), build), key)


def _auto_res(bboxes: dict) -> int:
    """Pick one global resolution: cell size ~ median polygon extent,
    capped so no polygon covers more than ~64 cells (SURVEY §4.1)."""
    if not bboxes:
        return 8
    spans = sorted(max(b[2] - b[0], b[3] - b[1]) for b in bboxes.values())
    med = spans[len(spans) // 2] or 1e-9
    res = int(np.clip(np.floor(np.log2(360.0 / med)), 0, MAX_RES))
    worst = max(bboxes.values(), key=lambda b: (b[2] - b[0]) * (b[3] - b[1]))
    res = min(res, pick_res(*worst, max_cells=64))
    return res


def pip_join_points(
    points: DataFrame,
    polys: DataFrame,
    res: int | None = None,
    x_col: str = "x",
    y_col: str = "y",
    refine: bool = True,
    distributed: bool | None = None,
) -> DataFrame:
    """points(<ids..>, x, y) x polys(poly_id, geojson) -> points cols + poly_id.

    Exact even-odd ray-cast semantics; the cell join is only a
    no-false-negative pre-filter.  ``refine=False`` returns the raw
    cell-join candidates (bench instrumentation: per-candidate cost).

    ``distributed``: None (default) auto-picks via a cheap dimension
    probe (cover.polys_fit_broadcast); True delegates to the no-collect
    pip_join_points_shuffle (identical semantics, pytest-asserted);
    False forces the broadcast path.  ``refine=False`` is broadcast-only
    instrumentation and keeps the broadcast path regardless.
    """
    from .cover import polys_fit_broadcast

    if refine and distributed is None:
        distributed = not polys_fit_broadcast(polys)
    if refine and distributed:
        return pip_join_points_shuffle(points, polys, res=res, x_col=x_col, y_col=y_col)
    spark: SparkSession = points.sparkSession
    packed, bboxes, key = _collect_polys(polys)
    if res is None:
        res = _auto_res(bboxes)
    x, y = ident_sql(x_col), ident_sql(y_col)

    # r8 RECTANGLE BYPASS (guide §4.1 "prefer built-ins"; the Point-path
    # twin of the poly-span side's RectangleIntersects bypass): for a
    # PROPER axis-aligned rectangle ring, the even-odd ray-cast
    # (pip.points_in_polygon, asymmetric (y1>py)!=(y2>py) rule) reduces
    # EXACTLY — boundary points included — to the half-open test
    #     pminx <= x < pmaxx AND pminy <= y < pmaxy
    # (the two vertical edges straddle iff pminy <= y < pmaxy and cross
    # iff x < pmaxx / x < pminx; horizontal edges never straddle; the
    # XOR of the two crossings is the half-open box).  When EVERY dim
    # polygon is such a rectangle the refinement is a pure codegen
    # filter: no broadcast of packed coords, no ArrowEvalPython stage,
    # zero bytes across the Python boundary.  Mixed/non-rect dims keep
    # the pandas-UDF ray-cast path unchanged.
    all_rect = bool(packed) and all(_is_rect_poly(c, ro) for c, ro in packed.values())
    if refine and all_rect:
        def _mk_rect_cover():
            cover_rows = []
            for pid, (minx, miny, maxx, maxy) in bboxes.items():
                for cid in cover_bbox(minx, miny, maxx, maxy, res).tolist():
                    cover_rows.append((cid, pid, float(minx), float(miny), float(maxx), float(maxy)))
            return local_df(
                spark, cover_rows,
                "cell_id long, poly_id long, _pminx double, _pminy double, _pmaxx double, _pmaxy double",
            )

        cover_df = memo(spark, ("rect_cover", res, tuple(sorted(bboxes.items()))), _mk_rect_cover)
        pts = points.withColumn("cell_id", cell_id_col(x, y, res))
        cand = pts.join(F.broadcast(cover_df), "cell_id").drop("cell_id")
        keep = f"{x} >= _pminx AND {x} < _pmaxx AND {y} >= _pminy AND {y} < _pmaxy"
        return cand.where(keep).drop("_pminx", "_pminy", "_pmaxx", "_pmaxy")

    def _mk_cover():
        cover_rows = []
        for pid, (minx, miny, maxx, maxy) in bboxes.items():
            for cid in cover_bbox(minx, miny, maxx, maxy, res).tolist():
                cover_rows.append((cid, pid))
        return local_df(spark, cover_rows, "cell_id long, poly_id long")

    cover_df = memo(spark, ("cell_cover", res, tuple(sorted(bboxes.items()))), _mk_cover)

    pts = points.withColumn("cell_id", cell_id_col(x, y, res))
    cand = pts.join(F.broadcast(cover_df), "cell_id").drop("cell_id")
    if not refine:
        return cand

    bpolys = memo(
        spark, ("poly_bc", key), lambda: spark.sparkContext.broadcast(packed),
        on_evict=lambda bc: bc.unpersist(),
    )

    # Refinement as a BOOLEAN pandas UDF inside a WHERE, not a
    # mapInArrow over whole rows: Spark's ArrowEvalPython projects ONLY
    # (x, y, poly_id) into Python and gets one byte back per row, so
    # id/string payload columns never cross the Arrow boundary in
    # either direction and the JVM applies the filter in codegen.
    # Measured on the 20M-doc flagship: ~2x faster end-to-end than the
    # round-trip refine and the refine increment scales with cores like
    # the pure-JVM stages (BENCH/BASELINE.md).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def pip_ok(px, py, pid):
        import pandas as pd

        polys_local = bpolys.value
        pxv = px.to_numpy(np.float64)
        pyv = py.to_numpy(np.float64)
        pidv = pid.to_numpy(np.int64)
        keep = np.zeros(len(pxv), dtype=bool)
        order = np.argsort(pidv, kind="stable")
        uniq = np.unique(pidv)
        bounds = np.searchsorted(pidv[order], uniq)
        for s, p in zip(np.split(order, bounds[1:]), uniq):
            if len(s) == 0:
                continue
            coords, ro = polys_local[int(p)]
            keep[s] = points_in_polygon(pxv[s], pyv[s], coords, ro)
        return pd.Series(keep)

    return cand.where(pip_ok(F.col(x), F.col(y), F.col("poly_id")))


def pip_join_docs(
    docs: DataFrame, polys: DataFrame, res: int | None = None, refine: bool = True
) -> DataFrame:
    """Interleaved documents x polygons -> (doc_id, span_pos, poly_id).

    Geometry extraction is all codegen: posexplode + filter (spans.py),
    then Point coordinates via native string ops (point_xy_native — NOT
    from_json, which does not scale with cores; see its docstring) —
    the engine keeps the 10^12-doc hot path JVM-side and enters Python
    only inside the Arrow-batched ray-cast refinement (pandas UDF
    surface, SURVEY §2.8).  Point spans only (the flagship hot path);
    use pip_join_docs_any when documents also carry Polygon/LineString
    geo spans.
    """
    from ..functions.geometry_fns import point_xy_sql

    geo = extract_geo_spans(docs)
    # string form -> one server-side parse per fragment instead of the
    # ~25-round-trip py4j Column tree (cold-plan cost, VERDICT r5 item 7;
    # r8 extends it to the select/filter glue — same logical plan)
    xs, ys, ps = point_xy_sql("text")
    pts = geo.where(ps).selectExpr(
        "doc_id", "span_pos", f"{xs} AS x", f"{ys} AS y"
    ).where("x IS NOT NULL AND y IS NOT NULL")
    return pip_join_points(pts, polys, res=res, refine=refine).selectExpr(
        "doc_id", "span_pos", "poly_id", "x", "y"
    )


def _is_rect_poly(coords: np.ndarray, ro: np.ndarray) -> bool:
    """True iff the packed polygon is EXACTLY the closed 5-point ring of
    its own bbox corners (axis-aligned, non-degenerate rectangle).
    r8: additionally requires axis-parallel ALTERNATING edges, so a
    bowtie-ordered tour of the same 4 corners (whose even-odd interior
    is NOT the bbox) can never classify as a rectangle."""
    c = coords.reshape(-1, 2)
    if len(c) != 5 or len(ro) != 2 or not (c[0] == c[4]).all():
        return False
    ex = c[1:, 0] != c[:-1, 0]
    ey = c[1:, 1] != c[:-1, 1]
    if not bool(np.all(ex ^ ey)):
        return False
    mnx, mny = c[:, 0].min(), c[:, 1].min()
    mxx, mxy = c[:, 0].max(), c[:, 1].max()
    if mnx == mxx or mny == mxy:
        return False
    corners = {(mnx, mny), (mxx, mny), (mxx, mxy), (mnx, mxy)}
    return {(float(x), float(y)) for x, y in c[:4]} == corners


# A/B knob for the r7 multi-ring fast path (tests interleave both
# settings to assert output parity and the speedup; production always
# runs True)
_FAST_MULTIRING = True


def _bbox_rect(cvals: np.ndarray, coffs: np.ndarray, single_ring_polygon: np.ndarray):
    """Per-row bbox + exact rectangle flag over an interleaved flat
    coord buffer (row i owns ``cvals[coffs[i]:coffs[i+1]]``, never
    empty).  A row is a rect iff it is a ``single_ring_polygon`` of 5
    points, closed, whose vertex set IS its 4 bbox corners.  Rect spans
    x rect dim polygons are then decided by the bbox filter alone
    (bbox overlap <=> intersects for closed axis-aligned rectangles —
    GEOS RectangleIntersects).
    -> (minx, miny, maxx, maxy, rect)."""
    vstarts = coffs[:-1] // 2
    xs, ys = cvals[0::2], cvals[1::2]
    minx = np.minimum.reduceat(xs, vstarts)
    maxx = np.maximum.reduceat(xs, vstarts)
    miny = np.minimum.reduceat(ys, vstarts)
    maxy = np.maximum.reduceat(ys, vstarts)
    rect = np.zeros(vstarts.size, dtype=bool)
    idx = np.flatnonzero(single_ring_polygon & (np.diff(coffs) == 10))
    if idx.size:
        M = cvals[coffs[idx][:, None] + np.arange(10)[None, :]]
        closed = (M[:, 0] == M[:, 8]) & (M[:, 1] == M[:, 9])
        xs4, ys4 = M[:, [0, 2, 4, 6]], M[:, [1, 3, 5, 7]]
        mnx, mxx = minx[idx][:, None], maxx[idx][:, None]
        mny, mxy = miny[idx][:, None], maxy[idx][:, None]
        onx = ((xs4 == mnx) | (xs4 == mxx)).all(axis=1)
        ony = ((ys4 == mny) | (ys4 == mxy)).all(axis=1)
        code = np.sort((xs4 == mxx) * 1 + (ys4 == mxy) * 2, axis=1)
        corners = (code == np.arange(4)[None, :]).all(axis=1)
        rect[idx] = closed & onx & ony & corners
    return minx, miny, maxx, maxy, rect


def _decode_bounds(batches):
    """One Arrow pass: GeoJSON text -> packed geometry struct + bbox,
    building the output struct column DIRECTLY from flat buffers
    (ListArray.from_arrays over one concatenated coord array) — no
    pandas dict materialization on the way out.  Single-ring
    Polygons whose ``coordinates`` is the trailing field (the
    overwhelmingly common span shape) parse via translate +
    np.fromstring; everything else falls back to from_geojson."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..geom.packed import from_geojson

    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        texts = batch.column(batch.schema.get_field_index("text")).to_pylist()
        # fast-path rows parse as ONE nan-sentinel-joined fromstring
        # call (translate once on the joined string): per-row
        # fromstring overhead was the decode hot spot.  A segment-
        # count mismatch (malformed token, literal 'nan') is a
        # complete safety net — the whole batch then re-parses row
        # by row through from_geojson.
        fast_j: list[int] = []
        fast_blob: list[str] = []
        m_j: list[int] = []      # multi-ring Polygon rows (r7)
        m_rc: list[int] = []     # their ring counts
        m_blob: list[str] = []   # one blob PER RING, row-major
        for j, v in enumerate(texts):
            if (
                v is not None and '"Polygon"' in v
                and v.endswith("]]]}")
            ):
                i = v.find('"coordinates"')
                if i < 0:
                    continue
                # ring count == "[[" occurrences in the coords blob
                # (non-overlapping, exactly one per ring start; the
                # old `"]],[[" not in v` guard missed hole polygons
                # serialized with whitespace — "]], [[", json.dumps
                # default separators — which would merge outer+inner
                # rings, ADVICE r3).
                r = v.count("[[", i)
                if r == 1:
                    fast_j.append(j)
                    fast_blob.append(v[i + 14 : -1])
                elif r > 1 and _FAST_MULTIRING:
                    # r7 (VERDICT r6 item 5): multi-ring Polygons take
                    # the same joined-fromstring fast path, one segment
                    # per ring — str.split on "[[" yields exactly r
                    # ring bodies (same non-overlapping scan as count;
                    # the stray "["/"]],"-junk around the floats is
                    # whitespace after the translate table)
                    m_j.append(j)
                    m_rc.append(r)
                    m_blob.extend(v[i + 14 : -1].split("[[")[1:])
        fastmask = np.zeros(n, dtype=bool)
        if fast_blob:
            nums = _parse_float_segments(fast_blob)
            isn = np.isnan(nums)
            if int(isn.sum()) == len(fast_j) - 1:
                seps = np.flatnonzero(isn)
                starts = np.concatenate(([0], seps + 1))
                ends = np.concatenate((seps, [nums.size]))
                lens = ends - starts
                seg_ok = (lens >= 8) & (lens % 2 == 0)
                if seg_ok.any():
                    # fast rows ship as their own fully-vectorized
                    # RecordBatch; only the remainder pays the
                    # per-row fallback loop below
                    fast_sel = np.asarray(fast_j, np.int64)[seg_ok]
                    fastmask[fast_sel] = True
                    bounds = np.concatenate((starts, [nums.size]))
                    keep_pos = np.repeat(seg_ok, np.diff(bounds)) & ~isn
                    yield _decode_fast_batch(
                        batch, fast_sel, nums[keep_pos], lens[seg_ok]
                    )
            # else: global segment-count mismatch -> every row
            # falls back to the per-row path
        if m_blob:
            nums_m = _parse_float_segments(m_blob)
            isn_m = np.isnan(nums_m)
            if int(isn_m.sum()) == len(m_blob) - 1:
                seps = np.flatnonzero(isn_m)
                starts = np.concatenate(([0], seps + 1))
                ends = np.concatenate((seps, [nums_m.size]))
                rl = ends - starts  # per-RING float counts
                rc = np.asarray(m_rc, np.int64)
                row_id = np.repeat(np.arange(rc.size), rc)
                ring_ok = (rl >= 8) & (rl % 2 == 0)
                row_ok = np.bincount(row_id, weights=~ring_ok, minlength=rc.size) == 0
                if row_ok.any():
                    keep_ring = row_ok[row_id]
                    bounds = np.concatenate((starts, [nums_m.size]))
                    keep_pos = np.repeat(keep_ring, np.diff(bounds)) & ~isn_m
                    sel_m = np.asarray(m_j, np.int64)[row_ok]
                    fastmask[sel_m] = True
                    rs = np.concatenate(([0], np.cumsum(rc)))[:-1]
                    clen_m = np.add.reduceat(rl, rs)[row_ok]  # rc >= 2: no empty windows
                    yield _decode_fast_batch(
                        batch, sel_m, nums_m[keep_pos], clen_m,
                        rings=rc[row_ok], ring_lens=rl[keep_ring],
                    )

        mask = np.zeros(n, dtype=bool)
        gts: list[int] = []
        coord_parts: list[np.ndarray] = []
        ring_parts: list[np.ndarray] = []
        part_parts: list[np.ndarray] = []
        ptype_parts: list[np.ndarray] = []  # GeometryCollection only
        choff_parts: list[np.ndarray] = []
        coffs, roffs, poffs, ptoffs, choffs = [0], [0], [0], [0], [0]
        for j, v in enumerate(texts):
            if v is None or fastmask[j]:
                continue
            ptypes = None
            try:
                pg = from_geojson(v)
            except (ValueError, KeyError, json.JSONDecodeError):
                continue
            if pg is None or pg.coords.size == 0:
                continue
            coords = pg.coords
            ring = np.asarray(pg.ring_offsets, dtype=np.int32)
            part = np.asarray(pg.part_offsets, dtype=np.int32)
            gt = int(pg.gtype)
            if gt == 7:
                ptypes = np.asarray(pg.part_types, dtype=np.int8)
                choff = np.asarray(pg.child_offsets, dtype=np.int32)
            mask[j] = True
            gts.append(gt)
            coord_parts.append(coords)
            ring_parts.append(ring)
            part_parts.append(part)
            coffs.append(coffs[-1] + coords.size)
            roffs.append(roffs[-1] + ring.size)
            poffs.append(poffs[-1] + part.size)
            if ptypes is not None:
                ptype_parts.append(ptypes)
                choff_parts.append(choff)
                ptoffs.append(ptoffs[-1] + ptypes.size)
                choffs.append(choffs[-1] + choff.size)
            else:
                ptoffs.append(ptoffs[-1])
                choffs.append(choffs[-1])
        if not mask.any():
            continue
        cvals = np.concatenate(coord_parts)
        coffs_np = np.asarray(coffs, dtype=np.int64)
        single_ring_polygon = (
            (np.asarray(gts, dtype=np.int8) == 3)
            & (np.diff(np.asarray(roffs, dtype=np.int64)) == 2)
        )
        minx, miny, maxx, maxy, rect = _bbox_rect(cvals, coffs_np, single_ring_polygon)
        # rect spans ship PAYLOAD-FREE: a closed axis-aligned
        # rectangle is fully determined by its bbox columns, so its
        # coords/offsets are blanked here.  The refine reconstructs
        # the test from (minx, miny, maxx, maxy) via
        # rects_intersect_polygon.
        roffs_np = np.asarray(roffs, np.int64)
        poffs_np = np.asarray(poffs, np.int64)
        rvals_all = np.concatenate(ring_parts)
        pvals_all = np.concatenate(part_parts)
        if rect.any():
            keeprow = ~rect
            clen = np.diff(coffs_np)
            cvals = cvals[np.repeat(keeprow, clen)]
            coffs_np = np.concatenate(([0], np.cumsum(np.where(keeprow, clen, 0))))
            rlen = np.diff(roffs_np)
            rvals_all = rvals_all[np.repeat(keeprow, rlen)]
            roffs_np = np.concatenate(([0], np.cumsum(np.where(keeprow, rlen, 0))))
            plen = np.diff(poffs_np)
            pvals_all = pvals_all[np.repeat(keeprow, plen)]
            poffs_np = np.concatenate(([0], np.cumsum(np.where(keeprow, plen, 0))))
        geom_arr = pa.StructArray.from_arrays(
            [
                pa.array(np.asarray(gts, dtype=np.int8)),
                pa.ListArray.from_arrays(pa.array(coffs_np, pa.int32()), pa.array(cvals, pa.float64())),
                pa.ListArray.from_arrays(
                    pa.array(roffs_np, pa.int32()), pa.array(rvals_all, pa.int32())
                ),
                pa.ListArray.from_arrays(
                    pa.array(poffs_np, pa.int32()), pa.array(pvals_all, pa.int32())
                ),
                pa.ListArray.from_arrays(
                    pa.array(np.asarray(ptoffs, np.int64), pa.int32()),
                    pa.array(
                        np.concatenate(ptype_parts) if ptype_parts else np.empty(0, np.int8),
                        pa.int8(),
                    ),
                ),
                pa.ListArray.from_arrays(
                    pa.array(np.asarray(choffs, np.int64), pa.int32()),
                    pa.array(
                        np.concatenate(choff_parts) if choff_parts else np.empty(0, np.int32),
                        pa.int32(),
                    ),
                ),
            ],
            names=["gtype", "coords", "ring_offsets", "part_offsets", "part_types", "child_offsets"],
        )
        pmask = pa.array(mask)
        yield pa.RecordBatch.from_arrays(
            [
                pc.filter(batch.column(batch.schema.get_field_index("doc_id")), pmask),
                pc.filter(batch.column(batch.schema.get_field_index("span_pos")), pmask),
                geom_arr,
                pa.array(minx, pa.float64()),
                pa.array(miny, pa.float64()),
                pa.array(maxx, pa.float64()),
                pa.array(maxy, pa.float64()),
                pa.array(rect),
            ],
            names=["doc_id", "span_pos", "geom", "minx", "miny", "maxx", "maxy", "rect"],
        )


def _decode_fast_batch(batch, sel, cvals, clen, rings=None, ring_lens=None):
    """Vectorized emitter for the Polygon decode fast path (r5, VERDICT
    r4 item 2; r7 extends it to MULTI-RING polygons, VERDICT r6 item
    5): given the joined-fromstring parse results — row indices ``sel``
    into ``batch``, their concatenated coords ``cvals``, per-row coord
    counts ``clen``, and (multi-ring) per-row ring counts ``rings``
    with per-ring coord counts ``ring_lens`` (row-major) — build the
    entire output RecordBatch (bbox, rect detection, rect
    payload-blanking, packed-geometry struct) with numpy/Arrow array
    ops only: ring offsets come from a grouped cumsum over the flat
    per-ring counts, never per-row Python dicts.  Fast rows ship as
    their OWN batch, separate from the per-row fallback batch:
    the span join looks up and refines each decoded batch on its own
    and its output is order-insensitive, so splitting the batch
    removes the per-row append/assembly loop for the majority
    (it was ~2.3s of the 5.1s clean-window poly path)."""
    import pyarrow as pa

    k = sel.size
    if rings is None:
        rings = np.ones(k, np.int64)
        ring_lens = np.asarray(clen, np.int64)
    coffs = np.concatenate(([0], np.cumsum(clen)))
    minx, miny, maxx, maxy, rect = _bbox_rect(cvals, coffs, rings == 1)
    # rect rows ship payload-free (bbox columns determine them fully)
    keep = ~rect
    nk = int(keep.sum())
    cvals_out = cvals[np.repeat(keep, clen)]
    coffs_out = np.concatenate(([0], np.cumsum(np.where(keep, clen, 0))))
    # ring_offsets payload per kept row: [0, p1, p1+p2, ...] — grouped
    # cumsum of the kept rows' per-ring point counts
    keep_ring = np.repeat(keep, rings)
    rl = ring_lens[keep_ring]
    rc = rings[keep]
    npts_ring = rl // 2
    g = np.cumsum(npts_ring)
    if rc.size:
        row_first = np.concatenate(([0], np.cumsum(rc)))[:-1]
        base = np.repeat(np.concatenate(([0], g))[row_first], rc)
        local = g - base
    else:
        local = g
    entries = rc + 1
    total = int(entries.sum())
    row_starts = np.concatenate(([0], np.cumsum(entries)))[:-1]
    rvals = np.zeros(total, np.int32)
    fill = np.ones(total, dtype=bool)
    fill[row_starts] = False
    rvals[fill] = local.astype(np.int32)
    roffs = np.concatenate(([0], np.cumsum(np.where(keep, rings + 1, 0))))
    # part_offsets per kept row: [0, nrings] (one Polygon part)
    poffs = np.concatenate(([0], np.cumsum(np.where(keep, 2, 0))))
    pvals = np.zeros(2 * nk, np.int32)
    pvals[1::2] = rc.astype(np.int32)
    zoffs = pa.array(np.zeros(k + 1, np.int64), pa.int32())
    geom_arr = pa.StructArray.from_arrays(
        [
            pa.array(np.full(k, 3, np.int8)),
            pa.ListArray.from_arrays(pa.array(coffs_out, pa.int32()), pa.array(cvals_out, pa.float64())),
            pa.ListArray.from_arrays(pa.array(roffs, pa.int32()), pa.array(rvals, pa.int32())),
            pa.ListArray.from_arrays(pa.array(poffs, pa.int32()), pa.array(pvals, pa.int32())),
            pa.ListArray.from_arrays(zoffs, pa.array(np.empty(0, np.int8), pa.int8())),
            pa.ListArray.from_arrays(zoffs, pa.array(np.empty(0, np.int32), pa.int32())),
        ],
        names=["gtype", "coords", "ring_offsets", "part_offsets", "part_types", "child_offsets"],
    )
    sel_pa = pa.array(sel)
    return pa.RecordBatch.from_arrays(
        [
            batch.column(batch.schema.get_field_index("doc_id")).take(sel_pa),
            batch.column(batch.schema.get_field_index("span_pos")).take(sel_pa),
            geom_arr,
            pa.array(minx, pa.float64()),
            pa.array(miny, pa.float64()),
            pa.array(maxx, pa.float64()),
            pa.array(maxy, pa.float64()),
            pa.array(rect),
        ],
        names=["doc_id", "span_pos", "geom", "minx", "miny", "maxx", "maxy", "rect"],
    )


# how many levels BELOW the poly-derived cap the span side may choose;
# the polygon dim publishes its cover at every level in the window, so
# the window is a (small) multiplier on the broadcast dim, not on the
# fact side
ADAPTIVE_LEVEL_WINDOW = 4


def _expand(counts: np.ndarray):
    """counts[i] -> (owner, rank): i repeated counts[i] times, and each
    repeat's rank 0..counts[i]-1 — a ragged loop in flat form."""
    owner = np.repeat(np.arange(counts.size), counts)
    return owner, np.arange(owner.size) - (np.cumsum(counts) - counts)[owner]


def _groups(row: np.ndarray, idx: np.ndarray):
    """Positions ``idx`` grouped by ``row[idx]`` -> (row, positions) pairs."""
    if idx.size == 0:
        return []
    idx = idx[np.argsort(row[idx], kind="stable")]
    cut = np.flatnonzero(np.diff(row[idx])) + 1
    return zip(row[idx[np.concatenate(([0], cut))]].tolist(), np.split(idx, cut))


def _span_dim(packed: dict, bboxes: dict, res: int) -> dict:
    """Driver side of the span join: the polygon dim as flat numpy
    arrays.  Every polygon's closed-bbox cover at EVERY level in
    [res - ADAPTIVE_LEVEL_WINDOW, res] (cell ids embed their level,
    geom.cells.compose), sorted by cell id next to the polygon's row;
    per row the polygon id, bbox, rect flag and packed geometry."""
    pids = sorted(bboxes)
    lmin = max(0, res - ADAPTIVE_LEVEL_WINDOW)
    cells, rows = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for i, pid in enumerate(pids):
        for lvl in range(lmin, res + 1):
            c = cover_bbox(*bboxes[pid], lvl)
            cells.append(c)
            rows.append(np.full(c.size, i, np.int64))
    cell = np.concatenate(cells)
    order = np.argsort(cell, kind="stable")
    return {
        "lmin": lmin, "res": res, "cell": cell[order], "row": np.concatenate(rows)[order],
        "poly_id": np.asarray(pids, np.int64),
        "bbox": np.asarray([bboxes[p] for p in pids], np.float64).reshape(-1, 4),
        "rect": np.asarray([_is_rect_poly(*packed[p]) for p in pids], bool),
        "geom": [PackedGeometry(3, packed[p][0], packed[p][1], np.zeros(1, np.int32)) for p in pids],
    }


def _candidates(minx, miny, maxx, maxy, dim: dict):
    """Span bboxes -> (span index, dim row) of every span x polygon pair
    whose CLOSED bboxes overlap, each pair exactly once.

    ADAPTIVE LEVEL: each span looks up its cells at its own level — the
    finest in [res - ADAPTIVE_LEVEL_WINDOW, res] whose cell is at least
    the span's extent per axis — so any span within the window has
    <= 2x2 cells, and a zero-extent Point has one cell at ``res``.  A
    single global res (chosen from the polygon dim, _auto_res) is
    quadratically wrong for spans much larger than the median polygon;
    the dim absorbs the window instead, publishing its cover at every
    level.  Span cells come from geom.cells._grid, the function
    cover_bbox uses, so span and dim cells agree by construction.

    REPORTING CELL: a pair is kept only in the cell, at the span's
    level, holding the lower-left corner of the two bboxes'
    intersection.  Both sides cover that cell, so every overlap pair
    survives exactly once, with no dedup shuffle — and at ANY level
    choice, as long as a span's cells and its reporting cell share it."""
    lmin, res = dim["lmin"], dim["res"]
    fit = np.minimum(360.0 / np.maximum(maxx - minx, 1e-12), 180.0 / np.maximum(maxy - miny, 1e-12))
    lvl = np.clip(np.floor(np.log2(fit)), lmin, res).astype(np.int64)
    ix0, iy0 = _grid(minx, miny, lvl)
    ix1, iy1 = _grid(maxx, maxy, lvl)
    ny = iy1 - iy0 + 1
    span, k = _expand((ix1 - ix0 + 1) * ny)
    ix, iy = ix0[span] + k // ny[span], iy0[span] + k % ny[span]
    cell = compose(lvl[span], ix, iy)
    lo = np.searchsorted(dim["cell"], cell, "left")
    c, k = _expand(np.searchsorted(dim["cell"], cell, "right") - lo)
    row, s = dim["row"][lo[c] + k], span[c]
    b = dim["bbox"][row]
    rx, ry = _grid(np.maximum(minx[s], b[:, 0]), np.maximum(miny[s], b[:, 1]), lvl[s])
    ok = (
        (minx[s] <= b[:, 2]) & (b[:, 0] <= maxx[s]) & (miny[s] <= b[:, 3]) & (b[:, 1] <= maxy[s])
        & (rx == ix[c]) & (ry == iy[c])
    )
    return s[ok], row[ok]


def _refine_points(x, y, row, dim: dict) -> np.ndarray:
    """Even-odd PIP of each candidate (point, dim row).  On a proper
    rectangle the ray-cast IS the half-open box test (CLAUDE.md), so
    rect polygons take that test over all their pairs at once."""
    b = dim["bbox"][row]
    rect = dim["rect"][row]
    keep = rect & (b[:, 0] <= x) & (x < b[:, 2]) & (b[:, 1] <= y) & (y < b[:, 3])
    for r, i in _groups(row, np.flatnonzero(~rect)):
        g = dim["geom"][r]
        keep[i] = points_in_polygon(x[i], y[i], g.coords, g.ring_offsets)
    return keep


def _refine_spans(rb, s, row, dim: dict) -> np.ndarray:
    """GEOS-Intersects of each candidate (decoded span ``s`` of ``rb``,
    dim row), read from the decode's flat Arrow buffers (list offsets +
    values), never per-row Python objects except for the rare span that
    needs the exact edge tests."""
    rect = rb.column("rect").to_numpy(zero_copy_only=False)[s]
    prect = dim["rect"][row]
    keep = rect & prect  # closed rects: bbox overlap <=> Intersects
    # rect spans travel payload-free (decode): their bbox IS the geometry
    bounds = [rb.column(n).to_numpy()[s] for n in ("minx", "miny", "maxx", "maxy")]
    for r, i in _groups(row, np.flatnonzero(rect & ~prect)):
        g = dim["geom"][r]
        keep[i] = rects_intersect_polygon(*(v[i] for v in bounds), g.coords, g.ring_offsets)
    todo = np.flatnonzero(~rect)
    if todo.size == 0:
        return keep
    geom = rb.column("geom")
    flat = {
        n: (geom.field(n).offsets.to_numpy(), geom.field(n).values.to_numpy())
        for n in ("coords", "ring_offsets", "part_offsets", "part_types", "child_offsets")
    }
    gtype = geom.field("gtype").to_numpy()
    off, vals = flat["coords"]

    def packed_at(j):
        def part(n):
            o, v = flat[n]
            return v[o[j] : o[j + 1]]

        gc = gtype[j] == 7
        return PackedGeometry(
            int(gtype[j]), part("coords"), part("ring_offsets"), part("part_offsets"),
            part("part_types") if gc else None, part("child_offsets") if gc else None,
        )

    for r, i in _groups(row, todo):
        g = dim["geom"][r]
        lens = off[s[i] + 1] - off[s[i]]  # > 0: the decode drops empty spans
        owner, k = _expand(lens)
        v = vals[off[s[i]][owner] + k]
        inside = points_in_polygon(v[0::2], v[1::2], g.coords, g.ring_offsets)
        anyin = np.logical_or.reduceat(inside, (np.cumsum(lens) - lens) // 2)
        keep[i[anyin]] = True
        # no span vertex inside: only an edge contact or a containing
        # child polygon can intersect
        for j in i[~anyin]:
            keep[j] = any(geometry_intersects_polygon(ch, g) for ch in collection_children(packed_at(s[j])))
    return keep


def _join_spans(batches, dim: dict, refine: bool):
    """The span join's one Arrow pass: (doc_id, span_pos, text, px, py)
    batches -> (doc_id, span_pos, poly_id) batches.  A Point span
    arrives as px/py with NULL text; any other span arrives as text and
    decodes through _decode_bounds.  ``refine=False`` emits the
    candidates of the non-Point spans only."""
    import pyarrow as pa

    def emit(rb, s, row):
        sel = pa.array(s)
        return pa.RecordBatch.from_arrays(
            [rb.column("doc_id").take(sel), rb.column("span_pos").take(sel), pa.array(dim["poly_id"][row])],
            names=["doc_id", "span_pos", "poly_id"],
        )

    for batch in batches:
        if refine:
            # NULL (unparsable Point, non-Point span) and NaN -> no pair
            x = batch.column("px").to_numpy(zero_copy_only=False)
            y = batch.column("py").to_numpy(zero_copy_only=False)
            pt = np.flatnonzero(np.isfinite(x) & np.isfinite(y))
            x, y = x[pt], y[pt]
            s, row = _candidates(x, y, x, y, dim)
            keep = _refine_points(x[s], y[s], row, dim)
            yield emit(batch, pt[s[keep]], row[keep])
        for rb in _decode_bounds([batch]):
            b = [rb.column(n).to_numpy() for n in ("minx", "miny", "maxx", "maxy")]
            fin = np.flatnonzero(np.isfinite(b).all(axis=0))
            s, row = _candidates(*(v[fin] for v in b), dim)
            s = fin[s]
            if refine:
                keep = _refine_spans(rb, s, row, dim)
                s, row = s[keep], row[keep]
            yield emit(rb, s, row)


def _span_join(docs: DataFrame, polys: DataFrame, res: int | None, refine: bool) -> DataFrame:
    """The one physical plan of pip_join_docs_any and
    poly_span_candidates: docs scan -> posexplode/filter -> codegen
    Point x/y -> ONE mapInArrow (_join_spans) reading the span dim from
    a memoized Broadcast.  One Python node per task: each costs a
    Python worker (and its per-task start-up) per partition."""
    from ..functions.geometry_fns import point_xy_sql

    spark = docs.sparkSession
    packed, bboxes, key = _collect_polys(polys)
    if res is None:
        res = _auto_res(bboxes)
    bdim = memo(
        spark, ("span_dim", key, res),
        lambda: spark.sparkContext.broadcast(_span_dim(packed, bboxes, res)),
        on_evict=lambda bc: bc.unpersist(),
    )
    xs, ys, ps = point_xy_sql("text")
    spans = extract_geo_spans(docs).selectExpr("doc_id", "span_pos", "text", f"{ps} AS _pt").selectExpr(
        "doc_id", "span_pos", "IF(_pt, NULL, text) AS text",
        f"IF(_pt, {xs}, NULL) AS px", f"IF(_pt, {ys}, NULL) AS py",
    )
    doc_type = spans.schema["doc_id"].dataType.simpleString()
    return spans.mapInArrow(
        lambda batches: _join_spans(batches, bdim.value, refine),
        schema=f"doc_id {doc_type}, span_pos int, poly_id long",
    )


def poly_span_candidates(docs: DataFrame, polys: DataFrame, res: int | None = None) -> DataFrame:
    """Bench/diagnostic surface: the pre-refine (doc_id, span_pos,
    poly_id) candidates of the NON-Point geo spans — every closed-bbox
    overlap pair, once — from pip_join_docs_any's own kernel with the
    refine off (mirrors pip_join_points ``refine=False``); used to
    normalize per-candidate refine cost."""
    return _span_join(docs, polys, res, refine=False)


def pip_join_docs_any(docs: DataFrame, polys: DataFrame, res: int | None = None) -> DataFrame:
    """Interleaved documents x polygons -> (doc_id, span_pos, poly_id)
    for geo spans of ANY geometry type (crop/rasterize in the reference
    accept any geometry, gdal.py:836-846).

    One Arrow pass per partition (module docstring): Point spans cross
    Arrow as two codegen-parsed doubles, every other span as its text.
    Candidates are the closed-bbox overlap pairs (_candidates), each
    exactly once; the refine is exact:

    * Point spans: even-odd ray-cast, the same pairs as pip_join_docs;
    * rect span x rect polygon: accepted, the bbox filter decided it
      (closed rects: bbox overlap <=> GEOS Intersects);
    * rect span x other polygon: rects_intersect_polygon;
    * every other span: vertex containment, then the exact polygon /
      segment tests per collection child.

    NULL text, unparsable Point coordinates and malformed GeoJSON yield
    no pair."""
    return _span_join(docs, polys, res, refine=True)


def pip_join_points_shuffle(
    points: DataFrame,
    polys: DataFrame,
    res: int | None = None,
    x_col: str = "x",
    y_col: str = "y",
    salt: int = 8,
    hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Big-polygon-side variant: no driver collect, no broadcast dict.

    The polygon table is decoded and cover-exploded DISTRIBUTED
    (pandas UDFs), candidates come from a shuffle hash join on cell_id
    with **salted repartitioning on hot cells** (north_star: points
    side counts pick hot cell ids; their rows split across `salt`
    reducers, the polygon side's hot rows are exploded x salt), and the
    ray-cast refinement runs per candidate batch with each polygon's
    packed coords decoded once per (batch, poly) group.

    Semantics identical to pip_join_points (tested); use when the
    polygon side is too large to broadcast.
    """
    from ..functions.geometry_fns import cells_cover_udf, geojson_decode_udf
    from .skew import salted_join

    gp = polys.select("poly_id", geojson_decode_udf(F.col("geojson")).alias("geom"))
    if res is None:
        # distributed resolution heuristic: median bbox span via approx
        b = gp.select(
            F.col("poly_id"),
            (F.array_max("geom.coords") - F.array_min("geom.coords")).alias("rough_span"),
        ).agg(F.expr("percentile_approx(rough_span, 0.5)").alias("med")).collect()[0]
        med = float(b["med"] or 1.0)
        res = int(np.clip(np.floor(np.log2(360.0 / max(med, 1e-9))), 0, 24))
    cells = gp.select("poly_id", "geom", F.explode(cells_cover_udf(res)(F.col("geom"))).alias("cell_id"))

    pts = points.withColumn("cell_id", cell_id_col(ident_sql(x_col), ident_sql(y_col), res))
    cand = salted_join(pts, cells, "cell_id", salt=salt, hot_threshold=hot_threshold).drop("cell_id")

    out_cols = [c for c in cand.columns if c not in ("geom",)]
    out_schema = cand.select(*out_cols).schema

    def refine(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            px = batch.column(x_col).to_numpy(zero_copy_only=False)
            py = batch.column(y_col).to_numpy(zero_copy_only=False)
            pids = batch.column("poly_id").to_numpy(zero_copy_only=False)
            geom = batch.column("geom")
            keep = np.zeros(n, dtype=bool)
            order = np.argsort(pids, kind="stable")
            uniq = np.unique(pids)
            bounds = np.searchsorted(pids[order], uniq)
            for s, pid in zip(np.split(order, bounds[1:]), uniq):
                if len(s) == 0:
                    continue
                g0 = geom[int(s[0])]  # decode this polygon's arrays once
                coords = np.asarray(g0["coords"].as_py(), dtype=np.float64)
                ro = np.asarray(g0["ring_offsets"].as_py(), dtype=np.int32)
                keep[s] = points_in_polygon(px[s], py[s], coords, ro)
            out = pa.Table.from_batches([batch]).filter(pa.array(keep)).drop_columns(["geom"])
            if out.num_rows:
                yield from out.combine_chunks().to_batches()

    return cand.mapInArrow(refine, schema=out_schema)
