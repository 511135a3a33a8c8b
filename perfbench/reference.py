"""Independent correctness references for the benchmark outputs.

Nothing here calls the engine: rectangle joins are DuckDB range joins,
convex-polygon predicates are exact integer half-plane / separating-axis
tests in the UNITS of gen.py, kNN is brute force, and the raster burn,
point sampling and cell counts are integer arithmetic.  Every reference
reduces to a checksum tuple (rows, sum h1, sum h2) over an
order-independent per-row integer hash; ``checksum_sql`` computes the
same tuple inside Spark from the engine's output.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from gen import GRID_H, GRID_PX_U, GRID_TILE, GRID_W, GRID_X0_U, GRID_Y0_U

P1, P2 = 2_147_483_647, 1_000_000_007
GEO_SPAN_POS = 1  # the geo span follows the leading text span in every doc


def h_sql(a: str, b: str, c: str) -> str:
    return f"pmod(CAST({a} AS BIGINT) * 1000003 + CAST({b} AS BIGINT) * 7919 + CAST({c} AS BIGINT) * 31, {P1})"


def checksum_sql(a: str, b: str, c: str) -> list[str]:
    """Spark SQL aggregate expressions of the (rows, s1, s2) checksum."""
    h = h_sql(a, b, c)
    return ["count(1) AS rows", f"sum({h}) AS s1", f"sum(pmod({h} * {h}, {P2})) AS s2"]


def checksum(a, b, c) -> tuple[int, int, int]:
    a, b, c = (np.asarray(v, np.int64) for v in (a, b, c))
    h = (a * 1000003 + b * 7919 + c * 31) % P1
    return int(a.size), int(h.sum()), int(((h * h) % P2).sum())


def add(*sums) -> tuple[int, int, int]:
    return tuple(int(sum(s[i] for s in sums)) for i in range(3))


# --- the engine's document derivation, in integer units -----------------------


def point_docs(doc_id: np.ndarray):
    d = doc_id[np.isin(doc_id % 10, (0, 1, 2))]
    return d, (d * 7919 % 3000) * 100, (d * 104729 % 2000) * 100


def poly_span_docs(doc_id: np.ndarray):
    d = doc_id[doc_id % 10 == 3]
    minx = 3 + (d * 3571 % 2700) * 100
    miny = 3 + (d * 6763 % 1700) * 100
    return d, minx, miny, minx + 20_000, miny + 15_000


def n_spans(doc_id: np.ndarray, poly_spans: bool) -> int:
    r = doc_id % 10
    return int((2 + (r <= (3 if poly_spans else 2)) + np.isin(r, (8, 9))).sum())


# --- predicates ----------------------------------------------------------------


def _edges(p):
    xs, ys = p["xs"], p["ys"]
    return xs, ys, np.roll(xs, -1), np.roll(ys, -1)


def points_in_convex(px, py, p) -> np.ndarray:
    """Strictly inside a counter-clockwise convex ring (no point lies on an edge)."""
    inside = np.ones(px.size, bool)
    for ax, ay, bx, by in zip(*_edges(p)):
        inside &= (bx - ax) * (py - ay) - (by - ay) * (px - ax) > 0
    return inside


def rects_meet_convex(minx, miny, maxx, maxy, p) -> np.ndarray:
    """Closed rectangles intersecting a convex ring: separating-axis test on the
    two axes and every edge normal of the ring."""
    hit = (minx <= p["xs"].max()) & (maxx >= p["xs"].min()) & (miny <= p["ys"].max()) & (maxy >= p["ys"].min())
    for ax, ay, bx, by in zip(*_edges(p)):
        outside = np.ones(minx.size, bool)
        for cx, cy in ((minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)):
            outside &= (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) < 0
        hit &= ~outside
    return hit


def _rect_table(polys) -> pa.Table:
    rects = [p for p in polys if p["rect"]]
    return pa.table(
        {
            "poly_id": pa.array([p["poly_id"] for p in rects], pa.int64()),
            "minx": pa.array([int(p["xs"].min()) for p in rects], pa.int64()),
            "miny": pa.array([int(p["ys"].min()) for p in rects], pa.int64()),
            "maxx": pa.array([int(p["xs"].max()) for p in rects], pa.int64()),
            "maxy": pa.array([int(p["ys"].max()) for p in rects], pa.int64()),
        }
    )


_RECT_SQL = """
WITH pts AS (
  SELECT doc_id, ((doc_id * 7919) % 3000) * 100 AS xu, ((doc_id * 104729) % 2000) * 100 AS yu
  FROM docs WHERE doc_id % 10 IN (0, 1, 2)),
spans AS (
  SELECT doc_id, 3 + ((doc_id * 3571) % 2700) * 100 AS minx, 3 + ((doc_id * 6763) % 1700) * 100 AS miny
  FROM docs WHERE doc_id % 10 = 3)
SELECT doc_id, poly_id FROM pts JOIN rects r
  ON xu > r.minx AND xu < r.maxx AND yu > r.miny AND yu < r.maxy
{span_pairs}
"""
_SPAN_PAIRS = """UNION ALL
SELECT doc_id, poly_id FROM spans s JOIN rects r
  ON s.minx <= r.maxx AND r.minx <= s.minx + 20000 AND s.miny <= r.maxy AND r.miny <= s.miny + 15000"""


def pip_checksum(doc_id: np.ndarray, polys: list[dict], poly_spans: bool) -> tuple[int, int, int]:
    """(doc_id, span_pos, poly_id) pairs of pip_join_docs (poly_spans=False) or
    pip_join_docs_any over docs with Polygon spans (poly_spans=True)."""
    con = duckdb.connect()
    try:
        con.register("docs", pa.table({"doc_id": doc_id}))
        con.register("rects", _rect_table(polys))
        pairs = con.execute(_RECT_SQL.format(span_pairs=_SPAN_PAIRS if poly_spans else "")).arrow()
    finally:
        con.close()
    n = pairs.num_rows
    sums = [checksum(pairs.column("doc_id").to_numpy(), np.full(n, GEO_SPAN_POS), pairs.column("poly_id").to_numpy())]
    d, xu, yu = point_docs(doc_id)
    if poly_spans:
        sd, sminx, sminy, smaxx, smaxy = poly_span_docs(doc_id)
    for p in polys:
        if p["rect"]:
            continue
        box = (xu > p["xs"].min()) & (xu < p["xs"].max()) & (yu > p["ys"].min()) & (yu < p["ys"].max())
        idx = np.flatnonzero(box)
        hit = idx[points_in_convex(xu[idx], yu[idx], p)]
        sums.append(checksum(d[hit], np.full(hit.size, GEO_SPAN_POS), np.full(hit.size, p["poly_id"])))
        if poly_spans:
            hit = rects_meet_convex(sminx, sminy, smaxx, smaxy, p)
            sums.append(checksum(sd[hit], np.full(int(hit.sum()), GEO_SPAN_POS), np.full(int(hit.sum()), p["poly_id"])))
    return add(*sums)


# --- kNN, raster, sampling, cell counts -----------------------------------------


def knn_checksum(qid, qx, qy, bid, bx, by, k: int) -> tuple[int, int, int]:
    """Brute force planar kNN with the engine's (dist, bid) order; hash over (qid, bid, rank)."""
    out_q, out_b, out_r = [], [], []
    for lo in range(0, qid.size, 256):
        dx = qx[lo : lo + 256, None] - bx[None, :]
        dy = qy[lo : lo + 256, None] - by[None, :]
        dist = np.sqrt(dx * dx + dy * dy)
        kth = np.partition(dist, k - 1, axis=1)[:, k - 1]
        for i, row in enumerate(dist):
            cand = np.flatnonzero(row <= kth[i])
            top = cand[np.lexsort((bid[cand], row[cand]))][:k]
            out_q.append(np.full(top.size, qid[lo + i]))
            out_b.append(bid[top])
            out_r.append(np.arange(1, top.size + 1))
    return checksum(np.concatenate(out_q), np.concatenate(out_b), np.concatenate(out_r))


def raster_mask(polys: list[dict]) -> np.ndarray:
    """Pixel-centre burn of every polygon on gen's GRID -> uint8 (H, W)."""
    mask = np.zeros((GRID_H, GRID_W), np.uint8)
    cx = GRID_X0_U + GRID_PX_U // 2 + GRID_PX_U * np.arange(GRID_W, dtype=np.int64)
    cy = GRID_Y0_U - GRID_PX_U // 2 - GRID_PX_U * np.arange(GRID_H, dtype=np.int64)
    for p in polys:
        cols = np.flatnonzero((cx > p["xs"].min()) & (cx < p["xs"].max()))
        rows = np.flatnonzero((cy > p["ys"].min()) & (cy < p["ys"].max()))
        if not (cols.size and rows.size):
            continue
        gx, gy = np.meshgrid(cx[cols], cy[rows])
        inside = np.ones(gx.shape, bool) if p["rect"] else points_in_convex(gx.ravel(), gy.ravel(), p).reshape(gx.shape)
        mask[np.ix_(rows, cols)] |= inside.astype(np.uint8)
    return mask


def sample_checksum(doc_id: np.ndarray, mask: np.ndarray) -> tuple[int, int, int]:
    """values_by_points of every Point doc on the sparse burned tile table:
    (rows, NULL values, sum of point hashes over value == 1)."""
    d, xu, yu = point_docs(doc_id)
    px = (xu - GRID_X0_U) // GRID_PX_U
    py = (GRID_Y0_U - yu) // GRID_PX_U
    ok = (px >= 0) & (px < GRID_W) & (py >= 0) & (py < GRID_H)
    t = GRID_TILE
    present = np.zeros((-(-GRID_H // t), -(-GRID_W // t)), bool)
    for ty in range(present.shape[0]):
        for tx in range(present.shape[1]):
            present[ty, tx] = mask[ty * t : (ty + 1) * t, tx * t : (tx + 1) * t].any()
    ok[ok] = present[py[ok] // t, px[ok] // t]
    one = np.zeros(d.size, bool)
    one[ok] = mask[py[ok], px[ok]] == 1
    return int(d.size), int((~ok).sum()), int((d[one] * 1000003 % P1).sum())


def cell_checksum(doc_id: np.ndarray, res: int) -> tuple[int, int, int]:
    """Per-cell Point-doc counts at ``res``: (cells, docs, sum pmod(cell_id, P1) * n)."""
    _, xu, yu = point_docs(doc_id)
    n = 1 << res
    ix = ((180 + 26) * 100_000 + xu) * n // (360 * 100_000)
    iy = ((90 + 53) * 100_000 + yu) * n // (180 * 100_000)
    cid = np.int64(res) * (1 << 58) + ix * (1 << 29) + iy
    cells, counts = np.unique(cid, return_counts=True)
    return int(cells.size), int(counts.sum()), int(((cells % P1) * counts).sum())
