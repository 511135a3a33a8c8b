"""Seeded benchmark inputs: a flat documents table, polygon dimensions and a POI table.

Every coordinate is handled as an exact integer in UNITS (1e-5 degree)
relative to ORIGIN (26, 53), the region the engine's document derivation
(sources/synth.py) places its geometry in:

* doc Point spans sit on the 1e-3 lattice: x = 100*i, y = 100*j;
* doc Polygon spans are 0.2 x 0.15 rectangles whose corners sit at
  3 + 100*i (the 5th decimal is 3);
* raster pixel centres of GRID sit at x = 75 + 200*c, y = 199925 - 200*r.

Rectangle dims get corners at 50 (mod 100) -- four decimals ending in 5,
the FIXTURES.md off-edge rule -- and convex n-gon dims get vertices at
7 (mod 10).  ``check_polygon`` proves in integer arithmetic that no
lattice above lies on any polygon edge, so the engine's float predicates
and the integer references in ``reference.py`` can never disagree on a
boundary case.  A generated polygon that fails the proof is redrawn.

The same (seed, size) gives byte-identical inputs.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORIGIN_X, ORIGIN_Y = 26, 53
UNIT = 100_000
STEP = 100  # lattice pitch, units

# (x offset, y offset) of every lattice no polygon edge may touch, pitch STEP
LATTICES = {"doc_points": (0, 0), "poly_span_corners": (3, 3), "pixel_centres": (75, 25)}

# GRID: 0.002-degree pixels whose boundaries keep >= 25 units from the doc-point lattice
GRID_X0_U, GRID_Y0_U, GRID_PX_U = -25, 200_025, 200
GRID_W, GRID_H, GRID_TILE = 1500, 1001, 256

DOC_FILES = 8  # the flat table is several files, so its scan is spread over every core

# polygons stay inside this window (units), well inside the doc region
_WIN_X, _WIN_Y = (20_000, 280_000), (15_000, 185_000)


def deg(u: int, origin: int) -> str:
    """Exact decimal text of ``origin + u / UNIT`` degrees."""
    v = origin * UNIT + int(u)
    sign = "-" if v < 0 else ""
    q, r = divmod(abs(v), UNIT)
    return f"{sign}{q}.{r:05d}"


def deg_f(u, origin: int):
    """Float64 of ``origin + u / UNIT`` -- the nearest double to the exact decimal."""
    return (np.asarray(u, np.int64) + origin * UNIT) / float(UNIT)


def grid_transform() -> tuple:
    px = GRID_PX_U / UNIT
    return (px, 0.0, float(deg(GRID_X0_U, ORIGIN_X)), 0.0, -px, float(deg(GRID_Y0_U, ORIGIN_Y)))


# --- exact geometry checks ---------------------------------------------------


def _edge_hits_lattice(ax: int, ay: int, bx: int, by: int, ox: int, oy: int) -> bool:
    """True when a lattice point (ox + STEP*i, oy + STEP*j) lies on the closed segment a-b."""
    dx, dy = bx - ax, by - ay
    if dx == 0:
        if (ax - ox) % STEP:
            return False
        lo, hi = sorted((ay, by))
        return lo + ((oy - lo) % STEP) <= hi
    lo, hi = sorted((ax, bx))
    px = np.arange(lo + ((ox - lo) % STEP), hi + 1, STEP, dtype=np.int64)
    num = dy * (px - ax)
    on = num % dx == 0
    py = ay + num[on] // dx
    return bool(((py - oy) % STEP == 0).any())


def check_polygon(xs: np.ndarray, ys: np.ndarray) -> bool:
    """Exact off-edge proof for one closed-ring polygon (vertices without repeat).

    No lattice of LATTICES lies on an edge, and no vertex shares an x or y
    with a poly-span corner line (so no span edge passes through a vertex).
    Together these rule out every point-on-boundary and touching case."""
    sx, sy = LATTICES["poly_span_corners"]
    if ((xs - sx) % STEP == 0).any() or ((ys - sy) % STEP == 0).any():
        return False
    n = len(xs)
    for i in range(n):
        ax, ay, bx, by = int(xs[i]), int(ys[i]), int(xs[(i + 1) % n]), int(ys[(i + 1) % n])
        for ox, oy in LATTICES.values():
            if _edge_hits_lattice(ax, ay, bx, by, ox, oy):
                return False
    return True


def convex_hull(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Integer monotone-chain hull, counter-clockwise, no collinear vertices."""
    pts = sorted(set(zip(xs.tolist(), ys.tolist())))

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    return np.array([p[0] for p in hull], np.int64), np.array([p[1] for p in hull], np.int64)


# --- polygon dimensions --------------------------------------------------------


def _snap(v, mod: int, rem: int) -> np.ndarray:
    v = np.asarray(np.round(v), np.int64)
    return v - (v % mod) + rem


def _rect(rng, half_w: float, half_h: float) -> tuple[np.ndarray, np.ndarray]:
    cx = rng.uniform(_WIN_X[0] + half_w, _WIN_X[1] - half_w)
    cy = rng.uniform(_WIN_Y[0] + half_h, _WIN_Y[1] - half_h)
    x0, x1 = _snap([cx - half_w, cx + half_w], STEP, 50)
    y0, y1 = _snap([cy - half_h, cy + half_h], STEP, 50)
    return np.array([x0, x1, x1, x0], np.int64), np.array([y0, y0, y1, y1], np.int64)


def _convex(rng, radius: float, n: int) -> tuple[np.ndarray, np.ndarray]:
    """A near-regular n-gon (seeded rotation, small angular jitter) so that its
    area, and the work it causes, barely depends on the seed."""
    while True:
        cx = rng.uniform(_WIN_X[0] + radius, _WIN_X[1] - radius)
        cy = rng.uniform(_WIN_Y[0] + radius, _WIN_Y[1] - radius)
        step = 2.0 * math.pi / n
        ang = rng.uniform(0.0, step) + step * (np.arange(n) + rng.uniform(-0.3, 0.3, n))
        xs = _snap(cx + radius * np.cos(ang), 10, 7)
        ys = _snap(cy + radius * np.sin(ang), 10, 7)
        hx, hy = convex_hull(xs, ys)
        if len(hx) >= 5 and check_polygon(hx, hy):
            return hx, hy


def _geojson(xs: np.ndarray, ys: np.ndarray) -> str:
    ring = [(int(x), int(y)) for x, y in zip(xs, ys)] + [(int(xs[0]), int(ys[0]))]
    coords = ",".join(f"[{deg(x, ORIGIN_X)},{deg(y, ORIGIN_Y)}]" for x, y in ring)
    return '{"type":"Polygon","coordinates":[[' + coords + "]]}"


def make_polygons(seed: int, kind: str) -> list[dict]:
    """kind 'rect': 48 rectangles plus one hot rectangle over most of the region.
    kind 'mixed': 24 rectangles and 24 near-regular convex 5-64-gons, radii
    log-spaced from a fraction of a cell to several cells.  Sizes, aspect ratios
    and vertex counts are fixed lists the seed only permutes; the seed places
    and rotates the polygons, so the work per job barely depends on it."""
    rng = np.random.default_rng([seed, 7 if kind == "rect" else 11])
    polys = []
    if kind == "rect":
        sizes = zip(rng.permutation(np.geomspace(1_500, 24_000, 48)), rng.permutation(np.linspace(0.5, 1.5, 48)))
        for h, aspect in sizes:
            polys.append(_rect(rng, h, h * aspect) + (True,))
        x0, x1, y0, y1 = 30_050, 270_050, 20_050, 180_050  # the hot polygon
        polys.append((np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]), True))
    elif kind == "mixed":
        sizes = zip(rng.permutation(np.geomspace(1_500, 24_000, 24)), rng.permutation(np.linspace(0.5, 1.5, 24)))
        radii = rng.permutation(np.geomspace(2_000, 30_000, 24))
        nverts = rng.permutation(np.linspace(5, 64, 24).round().astype(int))
        for h, aspect in sizes:
            polys.append(_rect(rng, h, h * aspect) + (True,))
        for r, n in zip(radii, nverts):
            polys.append(_convex(rng, r, int(n)) + (False,))
    else:
        raise ValueError(kind)
    out = []
    for pid, (xs, ys, is_rect) in enumerate(polys):
        if not check_polygon(xs, ys):
            raise AssertionError(f"generated polygon {pid} fails the off-edge proof")
        out.append({"poly_id": pid, "xs": xs, "ys": ys, "rect": is_rect, "geojson": _geojson(xs, ys)})
    return out


def polygons_table(polys: list[dict]) -> pa.Table:
    return pa.table(
        {
            "poly_id": pa.array([p["poly_id"] for p in polys], pa.int64()),
            "minx": pa.array([float(deg_f(p["xs"].min(), ORIGIN_X)) for p in polys]),
            "miny": pa.array([float(deg_f(p["ys"].min(), ORIGIN_Y)) for p in polys]),
            "maxx": pa.array([float(deg_f(p["xs"].max(), ORIGIN_X)) for p in polys]),
            "maxy": pa.array([float(deg_f(p["ys"].max(), ORIGIN_Y)) for p in polys]),
            "geojson": pa.array([p["geojson"] for p in polys], pa.string()),
        }
    )


# --- documents and POIs --------------------------------------------------------

_WORDS = (
    "river road city field tile band pixel grid cell span media doc north south east west "
    "forest lake bridge tower market square park station harbour valley hill plain"
).split()


def make_doc_ids(seed: int, n: int) -> np.ndarray:
    """n distinct, ascending int64 doc ids (< 2**37), seeded."""
    rng = np.random.default_rng([seed, n, 1])
    start = int(rng.integers(0, 1 << 36))
    return start + np.cumsum(rng.integers(1, 16, n, dtype=np.int64))


def make_docs(seed: int, n: int) -> pa.Table:
    """The flat documents table (doc_id bigint, text string)."""
    rng = np.random.default_rng([seed, n, 2])
    pool = [" ".join(rng.choice(_WORDS, 11)) for _ in range(256)]
    idx = pa.array(rng.integers(0, len(pool), n).astype(np.int32))
    text = pa.DictionaryArray.from_arrays(idx, pa.array(pool)).dictionary_decode()
    return pa.table({"doc_id": pa.array(make_doc_ids(seed, n)), "text": text})


def make_pois(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(bid, xu, yu): n POIs on the 7 (mod 10) sub-lattice of the doc region."""
    rng = np.random.default_rng([seed, n, 3])
    xu = _snap(rng.uniform(0, 300_000, n), 10, 7)
    yu = _snap(rng.uniform(0, 200_000, n), 10, 7)
    return np.arange(n, dtype=np.int64), xu, yu


def write_inputs(root: str, seed: int, n_docs: int, dim: str, n_pois: int) -> dict:
    """Write every input under ``root`` (a seed- and size-specific directory)
    and return {name: path}.  Existing complete output is reused."""
    paths = {
        "root": root,
        "sf_dir": os.path.join(root, "flat"),
        f"polys_{dim}": os.path.join(root, f"polys_{dim}.parquet"),
        "pois": os.path.join(root, "pois.parquet"),
    }
    done = os.path.join(root, "_COMPLETE")
    if os.path.exists(done):
        return paths
    # interleaved_docs(spark, sf_dir) reads <sf_dir>/documents.parquet
    flat = os.path.join(paths["sf_dir"], "documents.parquet")
    os.makedirs(flat, exist_ok=True)
    docs = make_docs(seed, n_docs)
    per = -(-n_docs // DOC_FILES)
    for i in range(DOC_FILES):
        pq.write_table(docs.slice(i * per, per), os.path.join(flat, f"part-{i:03d}.parquet"))
    pq.write_table(polygons_table(make_polygons(seed, dim)), paths[f"polys_{dim}"])
    bid, xu, yu = make_pois(seed, n_pois)
    pq.write_table(pa.table({"bid": bid, "x": deg_f(xu, ORIGIN_X), "y": deg_f(yu, ORIGIN_Y)}), paths["pois"])
    with open(done, "w") as f:
        f.write("ok\n")
    return paths
