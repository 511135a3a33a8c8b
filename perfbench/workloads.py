"""The benchmark workloads, their inputs and jobs, the staged tiling
pipeline, and the checks on every output.

A job is a fresh DataFrame build plus execution to the ``noop`` sink with an
Observation attached, so the output checksum comes out of the same Spark job.
The staged pipeline (traced run and self-test) runs every stage through
``plans.runner.StageRunner`` with the same kind of observed checksum on each
stage's write.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import gen
import reference as ref

KNN_K = 3
N_POIS = 3_000
CELL_RES = 8
QUERY_MOD = 29  # the kNN stage queries the Point docs with doc_id % QUERY_MOD == 0


@dataclass(frozen=True)
class Spec:
    name: str
    n_docs: int
    dim: str  # 'rect' | 'mixed'
    poly_spans: bool


SPECS = {
    s.name: s
    for s in (
        Spec("pip_points_rect", 600_000, "rect", poly_spans=False),
        Spec("pip_any_mixed", 250_000, "mixed", poly_spans=True),
    )
}


def grid():
    from gdal_boots_spark.sources.tiles import RasterGrid

    return RasterGrid(
        raster_id="bench", epsg=4326, transform=gen.grid_transform(), width=gen.GRID_W, height=gen.GRID_H,
        tile_w=gen.GRID_TILE, tile_h=gen.GRID_TILE, bands=1, dtype="uint8",
    )


class Inputs:
    """Seeded inputs on disk plus the reference checksums of every output."""

    def __init__(self, spec: Spec, seed: int, work: str, scale: float = 1.0, stages: bool = False):
        self.spec = spec
        self.n_docs = max(1000, int(spec.n_docs * scale))
        root = os.path.join(work, "inputs", f"{spec.name}-s{seed}-n{self.n_docs}")
        self.paths = gen.write_inputs(root, seed, self.n_docs, spec.dim, N_POIS)
        self.polys = gen.make_polygons(seed, spec.dim)
        flat = os.path.join(self.paths["sf_dir"], "documents.parquet")
        doc_id = pq.read_table(flat, columns=["doc_id"]).column("doc_id").to_numpy()
        job = ref.pip_checksum(doc_id, self.polys, spec.poly_spans)
        self.expected = {"job": job, "pip_join": job}
        if stages:
            self.expected.update(_stage_expected(doc_id, self.polys, self.paths["pois"], spec.poly_spans))

    @property
    def polys_path(self) -> str:
        return self.paths[f"polys_{self.spec.dim}"]


def _stage_expected(doc_id, polys, pois_path, poly_spans: bool) -> dict:
    d, xu, yu = ref.point_docs(doc_id)
    q = d % QUERY_MOD == 0
    t = pq.read_table(pois_path)
    mask = ref.raster_mask(polys)
    return {
        "interleave": (int(doc_id.size), ref.n_spans(doc_id, poly_spans)),
        "knn": ref.knn_checksum(
            d[q], gen.deg_f(xu[q], gen.ORIGIN_X), gen.deg_f(yu[q], gen.ORIGIN_Y),
            t.column("bid").to_numpy(), t.column("x").to_numpy(), t.column("y").to_numpy(), KNN_K,
        ),
        "rasterize": mask,
        "sample": ref.sample_checksum(doc_id, mask),
        "cell_stats": ref.cell_checksum(doc_id, CELL_RES),
    }


# --- engine calls -------------------------------------------------------------------


def materialize(spark, inputs: Inputs, out: str) -> None:
    """The stored interleaved documents table the pip jobs scan."""
    from gdal_boots_spark.sources.synth import interleaved_docs

    interleaved_docs(spark, inputs.paths["sf_dir"], poly_spans=inputs.spec.poly_spans).write.mode(
        "overwrite"
    ).parquet(out)


def build_join(spark, inputs: Inputs, docs):
    """Fresh DataFrame of the workload's spatial join; ``docs`` is a stored
    interleaved table's path or DataFrame."""
    from gdal_boots_spark.operators.spatial_join import pip_join_docs, pip_join_docs_any
    from gdal_boots_spark.sources.synth import read_parquet_memo

    if isinstance(docs, str):
        docs = read_parquet_memo(spark, docs)
    polys = read_parquet_memo(spark, inputs.polys_path)
    if inputs.spec.poly_spans:
        return pip_join_docs_any(docs, polys)
    return pip_join_docs(docs, polys)


def observed(df, name: str, exprs: list[str]):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return df.observe(obs, *[F.expr(e) for e in exprs]), obs


def as_tuple(obs) -> tuple:
    return tuple(int(v or 0) for v in obs.get.values())


JOIN_CHECK = ref.checksum_sql("doc_id", "span_pos", "poly_id")


def run_join_job(spark, inputs: Inputs, docs_path: str, tamper: str | None = None) -> bool:
    """One pip job: fresh build -> noop sink; True when the output checksum matches."""
    df = build_join(spark, inputs, docs_path)
    if tamper == "add":
        df = df.unionByName(df.limit(1))
    elif tamper == "drop":
        df = df.exceptAll(df.limit(1))
    df, obs = observed(df, "join", JOIN_CHECK)
    df.write.format("noop").mode("overwrite").save()
    return as_tuple(obs) == inputs.expected["job"]


# --- the staged tiling pipeline ----------------------------------------------------


def point_table(docs):
    """(qid, x, y) of every Point geo span -- benchmark glue over engine SQL fragments."""
    from gdal_boots_spark.functions.geometry_fns import point_xy_sql
    from gdal_boots_spark.operators.spans import extract_geo_spans

    xs, ys, ps = point_xy_sql("text")
    return extract_geo_spans(docs).where(ps).selectExpr("CAST(doc_id AS BIGINT) AS qid", f"{xs} AS x", f"{ys} AS y")


STAGE_CHECKS = {
    "interleave": ["count(1) AS rows", "sum(size(spans)) AS spans"],
    "pip_join": JOIN_CHECK,
    "knn": ref.checksum_sql("qid", "bid", "rank"),
    "rasterize": None,  # checked from the collected tiles
    "sample": [
        "count(1) AS rows",
        "sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nulls",
        f"sum(CASE WHEN value = 1 THEN pmod(point_id * 1000003, {ref.P1}) ELSE 0 END) AS ones",
    ],
    "cell_stats": ["count(1) AS cells", "sum(n_docs) AS docs", f"sum(pmod(cell_id, {ref.P1}) * n_docs) AS h"],
}
STAGES = tuple(STAGE_CHECKS)


def stage_fns(spark, inputs: Inputs, root: str) -> dict:
    """name -> zero-arg function building that stage's DataFrame; later stages read
    earlier ones back from the runner's ``root``, as a resumed run would."""
    from gdal_boots_spark.functions.geometry_fns import cell_id_sql
    from gdal_boots_spark.operators.knn import knn_join
    from gdal_boots_spark.operators.rasterize import rasterize
    from gdal_boots_spark.operators.sampling import values_by_points
    from gdal_boots_spark.sources.synth import interleaved_docs, read_parquet_memo

    g = grid()

    def docs():
        return spark.read.parquet(os.path.join(root, "interleave"))

    def polys():
        return read_parquet_memo(spark, inputs.polys_path)

    return {
        "interleave": lambda: interleaved_docs(spark, inputs.paths["sf_dir"], poly_spans=inputs.spec.poly_spans),
        "pip_join": lambda: build_join(spark, inputs, docs()),
        "knn": lambda: knn_join(
            point_table(docs()).where(f"qid % {QUERY_MOD} = 0"), read_parquet_memo(spark, inputs.paths["pois"]), k=KNN_K
        ),
        "rasterize": lambda: rasterize(spark, polys(), g),
        "sample": lambda: values_by_points(
            point_table(docs()), spark.read.parquet(os.path.join(root, "rasterize")), g, id_col="qid"
        ),
        "cell_stats": lambda: point_table(docs()).selectExpr(f"{cell_id_sql('x', 'y', CELL_RES)} AS cell_id")
        .groupBy("cell_id").count().withColumnRenamed("count", "n_docs"),
    }


def check_raster(spark, root: str, expected: np.ndarray) -> bool:
    rows = spark.read.parquet(os.path.join(root, "rasterize")).select("tile_x", "tile_y", "width", "height", "data").collect()
    got = np.zeros_like(expected)
    for r in rows:
        y0, x0 = r["tile_y"] * gen.GRID_TILE, r["tile_x"] * gen.GRID_TILE
        got[y0 : y0 + r["height"], x0 : x0 + r["width"]] = np.frombuffer(r["data"], np.uint8).reshape(r["height"], r["width"])
    return bool(np.array_equal(got, expected))


def run_pipeline(spark, inputs: Inputs, root: str, span=None) -> tuple[bool, list[dict]]:
    """One fresh staged run under ``root``; returns (all outputs correct, runner events).
    ``span(name)``, when given, is a context manager wrapped around each stage's
    ``run()`` call ("<stage>.run") and its DataFrame build ("<stage>.build")."""
    from contextlib import nullcontext

    from gdal_boots_spark.plans.runner import StageRunner

    span = span or (lambda name: nullcontext())
    shutil.rmtree(root, ignore_errors=True)
    runner = StageRunner(spark, root)
    fns = stage_fns(spark, inputs, root)
    obs = {}
    for name in STAGES:
        def build(name=name):
            with span(f"{name}.build"):
                df = fns[name]()
            if STAGE_CHECKS[name] is not None:
                df, obs[name] = observed(df, name, STAGE_CHECKS[name])
            return df

        with span(f"{name}.run"):
            runner.run(name, build)
    ok = all(as_tuple(o) == tuple(inputs.expected[n]) for n, o in obs.items())
    ok = ok and check_raster(spark, root, inputs.expected["rasterize"])
    return ok, runner.events


def resume_pipeline(spark, inputs: Inputs, root: str, span=None) -> list[dict]:
    """Rerun every stage on an existing root; returns the runner events."""
    from contextlib import nullcontext

    from gdal_boots_spark.plans.runner import StageRunner

    span = span or (lambda name: nullcontext())
    runner = StageRunner(spark, root)
    fns = stage_fns(spark, inputs, root)
    for name in STAGES:
        with span(f"{name}.resume"):
            runner.run(name, fns[name])
    return runner.events


def check_resumed(spark, inputs: Inputs, root: str) -> bool:
    """Checksums of the stored stage outputs, as a resumed run returns them."""
    for name in STAGES:
        df = spark.read.parquet(os.path.join(root, name))
        if STAGE_CHECKS[name] is None:
            continue
        got = tuple(int(v or 0) for v in df.selectExpr(*STAGE_CHECKS[name]).first())
        if got != tuple(inputs.expected[name]):
            return False
    return check_raster(spark, root, inputs.expected["rasterize"])
