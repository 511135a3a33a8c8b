"""The traced run (--trace 1): per-layer numbers for one workload.

Spans are recorded from the benchmark's own files around calls into each
engine module's public functions.  Marginal layer time is the noop-sink
time of prefix k of the join minus that of prefix k-1:

    scan  -> spans (extract_geo_spans) -> cells (point_xy_sql + cell_id_col)
          -> cand (pip_join_docs refine=False [+ poly_span_candidates]) -> full job

Per-node SQL metrics come from Spark's local REST API by the job
description set on each action, and py4j round trips from a wrapped
``send_command``.  Untraced and traced jobs alternate, so their ratio is
the tracing overhead.  Spans and SQL nodes are written to
.perfbench_work/traces/ when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np

import gen
import workloads as wl
from probes import Py4jCounter, SparkRest, Tracer, median, python_boundary

TRACED_REPS = 3
KERNEL_POINTS = 400_000
KERNEL_RECTS = 40_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefixes(spark, inputs, docs_path: str) -> dict:
    """name -> function building each noop prefix of the workload's join."""
    from gdal_boots_spark.functions.geometry_fns import cell_id_col, point_xy_sql
    from gdal_boots_spark.operators.spans import extract_geo_spans
    from gdal_boots_spark.operators.spatial_join import pip_join_docs, poly_span_candidates
    from gdal_boots_spark.sources.synth import read_parquet_memo

    def docs():
        return read_parquet_memo(spark, docs_path)

    def scan():  # reads and decodes every column the join reads, emits almost nothing
        return docs().selectExpr("doc_id", "size(spans) AS n_spans")

    def spans():
        return extract_geo_spans(docs())

    def cells():
        xs, ys, ps = point_xy_sql("text")
        pts = spans().where(ps).selectExpr("doc_id", "span_pos", f"{xs} AS x", f"{ys} AS y")
        return pts.where("x IS NOT NULL AND y IS NOT NULL").select("*", cell_id_col("x", "y", wl.CELL_RES))

    def cand():
        polys = read_parquet_memo(spark, inputs.polys_path)
        c = pip_join_docs(docs(), polys, refine=False).selectExpr("doc_id", "span_pos", "poly_id")
        if inputs.spec.poly_spans:
            c = c.unionByName(poly_span_candidates(docs(), polys).selectExpr("doc_id", "span_pos", "poly_id"))
        return c

    return {"scan": scan, "spans": spans, "cells": cells, "cand": cand}


def _kernels(seed: int) -> tuple[float, float]:
    """(points/s of points_in_polygon, rects/s of rects_intersect_polygon) on a
    seeded batch against the seed's largest convex polygon, called directly."""
    from gdal_boots_spark.geom.packed import from_geojson
    from gdal_boots_spark.geom.pip import points_in_polygon, rects_intersect_polygon

    poly = max((p for p in gen.make_polygons(seed, "mixed") if not p["rect"]), key=lambda p: len(p["xs"]))
    pg = from_geojson(poly["geojson"])
    c = pg.coords.reshape(-1, 2)
    lo, hi = c.min(axis=0), c.max(axis=0)
    rng = np.random.default_rng([seed, 5])
    px = rng.uniform(lo[0], hi[0], KERNEL_POINTS)
    py = rng.uniform(lo[1], hi[1], KERNEL_POINTS)
    w = (hi - lo) * 0.05
    rx = rng.uniform(lo[0] - w[0], hi[0], KERNEL_RECTS)
    ry = rng.uniform(lo[1] - w[1], hi[1], KERNEL_RECTS)
    pts, rects = [], []
    for _ in range(3):
        t = time.perf_counter()
        points_in_polygon(px, py, pg.coords, pg.ring_offsets)
        pts.append(time.perf_counter() - t)
        t = time.perf_counter()
        rects_intersect_polygon(rx, ry, rx + w[0], ry + w[1], pg.coords, pg.ring_offsets)
        rects.append(time.perf_counter() - t)
    return KERNEL_POINTS / median(pts), KERNEL_RECTS / median(rects)


def _dir_bytes(root: str, skip=()) -> tuple[int, int]:
    """(bytes, files) under root, leaving out the top-level entries named in skip."""
    total = files = 0
    for entry in os.listdir(root):
        if entry in skip:
            continue
        path = os.path.join(root, entry)
        walk = os.walk(path) if os.path.isdir(path) else [(root, [], [entry])]
        for dirpath, _, names in walk:
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def traced_run(bench, inputs) -> dict:
    a = bench.args
    tr = Tracer(f"{a.workload}-s{a.seed}")
    m: dict = {}
    sql_nodes: dict = {}

    def put(name, value, unit, n=1):
        m[name] = (float(value), unit, n)

    with tr.span("session.start"):
        spark = bench.session()
    bench.phase("session started")
    sc = spark.sparkContext
    rest = SparkRest(sc)
    py4j = Py4jCounter(sc)
    py4j.__enter__()
    try:
        docs_path = os.path.join(bench.run_dir, "interleaved")
        with tr.span("synth.materialize"):
            wl.materialize(spark, inputs, docs_path)
        with tr.span("warmup"):
            bench.guarded(lambda: wl.run_join_job(spark, inputs, docs_path))
        spark.catalog.clearCache()
        bench.phase("materialized, warm")
        _join_layers(bench, spark, inputs, docs_path, tr, rest, py4j, put, sql_nodes)
        bench.phase("join layers done")
        _stage_layers(bench, spark, inputs, tr, rest, put)
        bench.phase("stage layers done")
        bench.rss.stop()
        ctl = bench.controls(spark)
    finally:
        py4j.__exit__()
    pps, rps = _kernels(a.seed)
    put("pip.points_per_s", pps, "1/s", 3)
    put("pip.rects_per_s", rps, "1/s", 3)
    put("session.start_s", _span_s(tr, "session.start"), "s")
    put("synth.materialize_s", _span_s(tr, "synth.materialize"), "s")
    put("host.cpu_control_s", ctl[0], "s")
    put("host.pandas_control_s", ctl[1], "s")
    out = os.path.join(os.path.dirname(os.path.dirname(bench.run_dir)), "traces")
    os.makedirs(out, exist_ok=True)
    tr.dump(os.path.join(out, f"{a.workload}-s{a.seed}-spans.json"))
    with open(os.path.join(out, f"{a.workload}-s{a.seed}-sql.json"), "w") as f:
        json.dump(sql_nodes, f)
    return m


def _span_s(tr: Tracer, name: str) -> float:
    return median([s["end"] - s["start"] for s in tr.spans if s["name"] == name])


def _join_layers(bench, spark, inputs, docs_path, tr, rest, py4j, put, sql_out: dict) -> None:
    sc = spark.sparkContext
    prefixes = _prefixes(spark, inputs, docs_path)
    rows_seen = {}
    per = {k: [] for k in ("untraced", "build", "build_py4j", "build_jobs", "exec", "scan", "spans", "cells",
                            "cand", "persist", "jobs", "shuffle", "spill", "py_rows", "py_in", "py_out", "py_s", "py_init")}

    def untraced():
        t = time.perf_counter()
        bench.guarded(lambda: wl.run_join_job(spark, inputs, docs_path))
        per["untraced"].append(time.perf_counter() - t)
        spark.catalog.clearCache()

    for i in range(TRACED_REPS):
        if i % 2 == 0:  # alternate which side goes first: jobs still speed up over a run
            untraced()
        with tr.span("job", rep=i):
            with tr.span("spatial_join.build", rep=i):
                sc.setJobGroup(f"build-{i}", f"build-{i}")
                c0 = py4j.count
                df = wl.build_join(spark, inputs, docs_path)
                per["build_py4j"].append(py4j.count - c0)
            with tr.span("spatial_join.exec", rep=i):
                sc.setJobGroup(f"full-{i}", f"full-{i}")
                df, obs = wl.observed(df, f"full{i}", wl.JOIN_CHECK)
                _noop(df)
        bench.check(wl.as_tuple(obs) == inputs.expected["job"])
        per["persist"].append(rest.cached_bytes())
        spark.catalog.clearCache()
        if i % 2 == 1:
            untraced()
        for name, build in prefixes.items():
            with tr.span(f"prefix.{name}", rep=i):
                sc.setJobGroup(f"{name}-{i}", f"{name}-{i}")
                df, obs = wl.observed(build(), f"{name}{i}", ["count(1) AS rows"])
                _noop(df)
            rows_seen[name] = int(obs.get["rows"])
            spark.catalog.clearCache()
        sc.setJobGroup("other", "other")

        per["build"].append(_last(tr, "spatial_join.build"))
        per["exec"].append(_last(tr, "spatial_join.exec"))
        for name in prefixes:
            per[name].append(_last(tr, f"prefix.{name}"))
        per["build_jobs"].append(rest.job_stats(lambda g: g == f"build-{i}")["jobs"])
        js = rest.job_stats(lambda g: g == f"full-{i}")
        per["jobs"].append(js["jobs"])
        per["shuffle"].append(js["shuffle_bytes"])
        per["spill"].append(js["spill_bytes"])
        nodes = rest.sql_nodes(f"full-{i}")
        sql_out[f"full-{i}"] = nodes
        pb = python_boundary(nodes)
        per["py_rows"].append(pb["rows"])
        per["py_in"].append(pb["bytes_in"])
        per["py_out"].append(pb["bytes_out"])
        per["py_s"].append(pb["seconds"])
        per["py_init"].append(pb["init_seconds"])

    med = {k: median(v) for k, v in per.items()}
    n = TRACED_REPS
    marg = {
        "scan": med["scan"],
        "spans": median([b - a for a, b in zip(per["scan"], per["spans"])]),
        "cells": median([b - a for a, b in zip(per["spans"], per["cells"])]),
        "cand": median([b - a for a, b in zip(per["cells"], per["cand"])]),
        "refine": median([b - a for a, b in zip(per["cand"], per["exec"])]),
    }
    put("synth.scan_s", marg["scan"], "s", n)
    put("spans.extract_s", marg["spans"], "s", n)
    put("spans.geo_rows", rows_seen["spans"], "count", n)
    put("cells.assign_s", marg["cells"], "s", n)
    put("spatial_join.build_s", med["build"], "s", n)
    put("spatial_join.build_jobs", med["build_jobs"], "count", n)
    put("spatial_join.build_py4j", med["build_py4j"], "count", n)
    put("spatial_join.cand_rows", rows_seen["cand"], "count", n)
    put("spatial_join.cand_s", marg["cand"], "s", n)
    put("spatial_join.refine_s", marg["refine"], "s", n)
    put("spatial_join.hit_ratio", inputs.expected["job"][0] / max(rows_seen["cand"], 1), "ratio", n)
    put("spatial_join.python_rows", med["py_rows"], "count", n)
    put("spatial_join.python_bytes_in", med["py_in"], "bytes", n)
    put("spatial_join.python_bytes_out", med["py_out"], "bytes", n)
    put("spatial_join.python_s", med["py_s"], "s", n)
    put("spatial_join.python_init_s", med["py_init"], "s", n)
    put("spatial_join.persist_bytes", med["persist"], "bytes", n)
    put("spark.jobs", med["jobs"], "count", n)
    put("spark.shuffle_bytes", med["shuffle"], "bytes", n)
    put("spark.spill_bytes", med["spill"], "bytes", n)
    traced_job = median([b + e for b, e in zip(per["build"], per["exec"])])
    put("trace.overhead_ratio", traced_job / med["untraced"], "ratio", n)
    layer_sum = med["build"] + sum(marg.values())
    put("trace.layer_sum_ratio", layer_sum / med["untraced"], "ratio", n)


def _last(tr: Tracer, name: str) -> float:
    s = [s for s in tr.spans if s["name"] == name][-1]
    return s["end"] - s["start"]


def _stage_layers(bench, spark, inputs, tr, rest, put) -> None:
    """One traced fresh staged run, then each stage's build + noop alone, then
    all-skipped reruns: the knn / rasterize / sampling / runner layers."""
    sc = spark.sparkContext
    root = os.path.join(bench.run_dir, "stages", "traced")

    @contextmanager
    def span(name):
        stage, phase = name.rsplit(".", 1)
        group = f"stage-{stage}-{phase}"
        sc.setJobGroup(group, group)
        try:
            with tr.span(f"stage.{name}"):
                yield
        finally:
            if phase == "build":  # the write that follows belongs to the run
                sc.setJobGroup(f"stage-{stage}-run", f"stage-{stage}-run")

    with tr.span("pipeline"):
        ok, events = wl.run_pipeline(spark, inputs, root, span=span)
    bench.check(ok)
    sc.setJobGroup("other", "other")

    fns = wl.stage_fns(spark, inputs, root)
    noop_s = {}
    for name in wl.STAGES:
        with tr.span(f"stage.{name}.noop") as s:
            df = fns[name]()
            sc.setJobGroup(f"noop-{name}", f"noop-{name}")
            t = time.perf_counter()
            _noop(df)
            s["exec_s"] = time.perf_counter() - t
        noop_s[name] = _last(tr, f"stage.{name}.noop")
        spark.catalog.clearCache()
    sc.setJobGroup("other", "other")
    exec_s = {s["name"].split(".")[1]: s["exec_s"] for s in tr.spans if s["name"].endswith(".noop")}

    for _ in range(3):
        with tr.span("pipeline.resume"):
            ev = wl.resume_pipeline(spark, inputs, root, span=lambda name: tr.span(f"stage.{name}"))
        bench.check(all(e["action"] == "skipped" for e in ev))

    run_s = sum(_last(tr, f"stage.{n}.run") for n in wl.STAGES)
    put("knn.build_s", _last(tr, "stage.knn.build"), "s")
    put("knn.build_jobs", rest.job_stats(lambda g: g == "stage-knn-build")["jobs"], "count")
    put("knn.exec_s", exec_s["knn"], "s")
    put("rasterize.exec_s", exec_s["rasterize"], "s")
    put("rasterize.tiles", next(e["rows"] for e in events if e["stage"] == "rasterize"), "count")
    put("sampling.exec_s", exec_s["sample"], "s")
    put("runner.overhead_s", run_s - sum(noop_s.values()), "s")
    stage_bytes, _ = _dir_bytes(root, skip=("_metrics", "_manifest.json"))
    all_bytes, files = _dir_bytes(root)
    put("runner.bytes_stored_ratio", all_bytes / max(stage_bytes, 1), "ratio")
    put("runner.files", files, "count")
    resumes = [s["end"] - s["start"] for s in tr.spans if s["name"].startswith("stage.") and s["name"].endswith(".resume")]
    put("runner.resume_stage_s", median(resumes), "s", len(resumes))
    put("runner.resume_s", _span_s(tr, "pipeline.resume"), "s", 3)
