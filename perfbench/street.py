"""street_level: the paper's own chain, run as a scheduled job.

``jobs.run_pipeline(spark, "street_level_grouping", ...)`` on seeded
panoramas: per-photo IoU grouping -> best detection per group -> 3D rays ->
facade-mesh intersection, each stage landed as a Parquet table. One
operation is one full pipeline run (input files to the last landed table).

Cost drivers and the sizes used (``SHAPE``): detections per photo
(elements x views = 24, O(n^2) IoU per photo), polygon vertices (40, every
10th becomes a ray) and mesh triangles (490, O(rays x triangles)).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench.inputs import StreetShape, make_street_inputs
from perfbench.common import Bench, Outcome, closed_loop
from perfbench.spans import attach_task_counters, subtree, summed, task_skew

PIPELINE = "street_level_grouping"
STAGES = ("grouped_detected_objects", "best_lines_3d", "point_and_mesh_intersection")
SHAPE = StreetShape(photos=120, elements=6, views=4, vertices=40, grid=7, sky_elements=1)
WARMUP_JOBS = 2
MIN_OPS = 3
GEN_REPEATS = 3


def _duck_rows(path: str, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _output_hash(path: str) -> str:
    rows = _duck_rows(
        path,
        "SELECT file_name, obj_idx, class, score, polygon_3d FROM t ORDER BY file_name, obj_idx",
    )
    h = hashlib.sha256()
    for f, i, c, s, poly in rows:
        pts = ";".join(",".join(f"{v:.9f}" for v in p) for p in poly)
        h.update(f"{f}|{i}|{c}|{s:.9f}|{pts}\n".encode())
    return h.hexdigest()


def _expected_rows(inp) -> dict[str, int]:
    return {
        "grouped_detected_objects": inp.detections,
        "best_lines_3d": inp.elements,
        "point_and_mesh_intersection": inp.elements,
    }


def _deep_check(ctx, inp) -> list[str]:
    """Checks on the landed tables of one run, against the planted truth."""
    problems = []
    for stage, rep in ctx.reports.items():
        (n,) = _duck_rows(rep["path"], "SELECT count(*) FROM t")[0]
        if n != rep["rows"]:
            problems.append(f"{stage}: DuckDB reads {n} rows, report says {rep['rows']}")
    best = _duck_rows(ctx.reports["best_lines_3d"]["path"], "SELECT file_name, obj_idx FROM t")
    if set(best) != inp.best_keys:
        problems.append(f"best_lines_3d: {len(set(best) ^ inp.best_keys)} rows differ from "
                        "the planted best detections")
    final = _duck_rows(ctx.reports["point_and_mesh_intersection"]["path"],
                       "SELECT file_name, obj_idx, origin, polygon_3d FROM t")
    hits = misses = bad = 0
    c, half = inp.box_center, inp.box_half
    for f, i, origin, poly in final:
        pts = np.asarray(poly, dtype=np.float64)
        if (f, i) in inp.sky_keys:
            # a miss keeps the unit-length ray endpoint
            ok = np.abs(np.linalg.norm(pts - np.asarray(origin), axis=1) - 1.0) < 1e-6
            misses += int(ok.sum())
        else:
            wall = np.maximum(np.abs(pts[:, 0] - c[0]), np.abs(pts[:, 1] - c[1]))
            ok = (np.abs(wall - half) < 1e-6) & (np.abs(pts[:, 2] - c[2]) <= half + 1e-6)
            hits += int(ok.sum())
        bad += int((~ok).sum())
    if bad or hits != inp.rays - inp.sky_rays or misses != inp.sky_rays:
        problems.append(f"mesh: {hits} hits / {misses} misses / {bad} off-surface points, "
                        f"planted {inp.rays - inp.sky_rays} / {inp.sky_rays} / 0")
    return problems


# ---------------------------------------------------------------------------
# Traced pipeline: spans around every stage function, every warehouse write
# and the re-read + count that follows it.
# ---------------------------------------------------------------------------


def _traced_run(bench: Bench, cfg: dict, wh: str):
    from hg_data_pipelines_spark import jobs

    tr = bench.tracer
    opened: list = []

    def close_open():
        while opened:
            tr.end(opened.pop())

    def wrap(stage):
        def fn(spark, ctx):
            close_open()
            opened.append(tr.begin(stage.name, "jobs"))
            with tr.span(f"{stage.name}.build", "pipelines"):
                return stage.fn(spark, ctx)

        return dataclasses.replace(stage, fn=fn)

    original_write = jobs.write_warehouse_table

    def write(df, warehouse_dir, table, **kw):
        with tr.span(f"{table}.write", "io"):
            path = original_write(df, warehouse_dir, table, **kw)
        opened.append(tr.begin(f"{table}.reread", "jobs"))
        return path

    pipeline = jobs.get_pipeline(PIPELINE)
    wrapped = jobs.Pipeline(pipeline.name, [wrap(s) for s in pipeline.stages])
    jobs.write_warehouse_table = write
    try:
        with tr.span(PIPELINE, "jobs"):
            try:
                return wrapped.run(bench.spark, wh, cfg)
            finally:
                close_open()
    finally:
        jobs.write_warehouse_table = original_write


def run(bench: Bench) -> Outcome:
    from hg_data_pipelines_spark import jobs

    gen_s = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        inp = make_street_inputs(str(bench.work / "inputs"), bench.seed, SHAPE)
        gen_s.append(time.perf_counter() - t)
    cfg = {
        "results_json_path": inp.results_json_path,
        "pose_csv_path": inp.pose_csv_path,
        "mesh_triangles": inp.triangles,
    }
    wh = str(bench.work / "warehouse")
    expected = _expected_rows(inp)

    t = time.perf_counter()
    for _ in range(WARMUP_JOBS):
        jobs.run_pipeline(bench.spark, PIPELINE, wh, cfg)
    warmup_s = time.perf_counter() - t

    hashes: set[str] = set()
    last = {}
    traced_lat, plain_lat = [], []

    def op():
        # In traced runs every other job runs with spans, so the difference
        # between the two medians is the tracing overhead.
        traced = bench.tracer.enabled and len(traced_lat) <= len(plain_lat)
        t0 = time.perf_counter()
        try:
            ctx = (_traced_run(bench, cfg, wh) if traced
                   else jobs.run_pipeline(bench.spark, PIPELINE, wh, cfg))
            dt = time.perf_counter() - t0
            rows = {k: v["rows"] for k, v in ctx.reports.items()}
            if rows != expected:
                raise AssertionError(f"stage rows {rows} != planted {expected}")
            hashes.add(_output_hash(ctx.reports["point_and_mesh_intersection"]["path"]))
            if len(hashes) > 1:
                raise AssertionError("final table differs from the previous run's")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None
        (traced_lat if traced else plain_lat).append(dt)
        last["ctx"] = ctx
        return dt

    lat, attempted, failed, steal = closed_loop(bench.seconds, MIN_OPS, op, bench.host)
    problems = _deep_check(last["ctx"], inp) if "ctx" in last else ["no successful run"]
    for p in problems:
        print(f"street_level check failed: {p}", file=sys.stderr)
    if problems:
        failed = attempted  # every run landed the same (wrong) tables
    plain = plain_lat if bench.tracer.enabled else lat
    out = Outcome(gen_s, warmup_s, plain, statistics.median(plain or [0.0]),
                  attempted, failed, not problems)
    out.detail = {
        "latencies": lat, "cpu_steal_share": steal, "shape": dataclasses.asdict(SHAPE),
        "triangles": len(inp.triangles), "rays": inp.rays, "output_hashes": len(hashes),
        "problems": problems,
    }
    if bench.tracer.enabled:
        out.detail["traced_latencies"] = traced_lat
        out.detail["plain_latencies"] = plain_lat
        out.layers.update(_probes(bench, inp))
        out.layers["io.bytes_written"], out.layers["io.files_written"] = _disk_usage(wh)
    return out


def _disk_usage(wh: str) -> tuple[tuple[float, str], tuple[float, str]]:
    files = size = 0
    for root, _dirs, names in os.walk(wh):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return (size, "B"), (files, "count")


def _probes(bench: Bench, inp) -> dict:
    """Calls from this process into ``io`` and ``functions`` on this workload's
    inputs: the layers' own throughput, outside Spark scheduling."""
    from hg_data_pipelines_spark import io as hio
    from hg_data_pipelines_spark.functions import geometry as G
    from hg_data_pipelines_spark.pipelines.street_level import IOU_THRESHOLD, POLYGON_SPACING

    tr = bench.tracer
    reads = []
    for _ in range(3):
        with tr.span("read_results_json", "io") as s:
            hio.read_results_json(bench.spark, inp.results_json_path).write.format(
                "noop").mode("overwrite").save()
        reads.append(s.seconds)

    with open(inp.results_json_path) as fh:
        photos = json.load(fh)
    boxes = [np.array([o["bbox"] for o in p["objects"]]) for p in photos]
    rings = [np.array(o["polygon"]["coordinates"][0]) for p in photos for o in p["objects"]]
    rings = [np.vstack([r, r[:1]])[::POLYGON_SPACING] for r in rings]
    origin = inp.box_center

    def rate(work: float, fn) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return work / statistics.median(times)

    def group_all():
        for b in boxes:
            G.group_bboxes_greedy(G.bbox_iou_matrix(G.normalize_seam_bboxes(b)), IOU_THRESHOLD)

    def rays_all():
        for r in rings:
            G.pixels_to_rays(r[:, 0], r[:, 1], 0.01, 0.02, 1.0, origin, 8000, 4000)

    ray_sets = [G.pixels_to_rays(r[:, 0], r[:, 1], 0.01, 0.02, 1.0, origin, 8000, 4000)
                for r in rings[: len(rings) // 8]]

    def trace_all():
        for pts in ray_sets:
            G.ray_triangle_intersections(np.repeat(origin[None, :], len(pts), axis=0),
                                         pts - origin, inp.triangles)

    n_rays = sum(len(p) for p in ray_sets)
    return {
        "io.read_results_json_s": (statistics.median(reads), "s"),
        "functions.iou_group_photos_per_s": (rate(len(boxes), group_all), "1/s"),
        "functions.pixels_to_rays_points_per_s": (rate(sum(map(len, rings)), rays_all), "1/s"),
        "functions.ray_tri_tests_per_s": (rate(n_rays * len(inp.triangles), trace_all), "1/s"),
    }


def layer_metrics(bench: Bench, event_log_dir, out: Outcome) -> dict:
    """Per-layer numbers from the traced jobs, each a median over them."""
    tr = bench.tracer
    totals = attach_task_counters(tr, str(event_log_dir))
    roots = [s for s in tr.spans if s.parent is None and s.name == PIPELINE]
    m: dict[str, tuple[float, str]] = {}

    def med(values) -> float:
        return statistics.median(values) if values else 0.0

    per_stage = {name: [] for name in STAGES}
    writes, rereads, self_s = [], [], {"jobs": [], "pipelines": [], "io": []}
    for root in roots:
        stages = {s.name: s for s in tr.children(root)}
        w = r = 0.0
        for name in STAGES:
            st = stages[name]
            kids = {k.name.rsplit(".", 1)[1]: k for k in tr.children(st)}
            per_stage[name].append((st, subtree(tr, st)))
            w += kids["write"].seconds
            r += st.seconds - kids["build"].seconds - kids["write"].seconds
        writes.append(w)
        rereads.append(r)
        for layer in self_s:
            self_s[layer].append(sum(tr.self_seconds(s) for s in subtree(tr, root)
                                     if s.layer == layer))
    m["io.write_s"] = (med(writes), "s")
    m["jobs.reread_count_s"] = (med(rereads), "s")
    for name in STAGES:
        runs = per_stage[name]
        m[f"jobs.stage.{name}_s"] = (med([st.seconds for st, _ in runs]), "s")
        m[f"pipelines.{name}.tasks"] = (med([summed(sub, "tasks") for _, sub in runs]), "count")
        m[f"pipelines.{name}.executor_run_s"] = (
            med([summed(sub, "executor_run_s") for _, sub in runs]), "s")
        m[f"pipelines.{name}.task_max_over_median"] = (
            med([task_skew(sub) for _, sub in runs]), "ratio")
    n = max(len(roots), 1)
    jobs_spans = [s for r in roots for s in subtree(tr, r)]
    m["spark.tasks_per_op"] = (summed(jobs_spans, "tasks") / n, "count")
    m["spark.failed_tasks"] = (totals["failed_tasks"], "count")
    m["spark.shuffle_bytes_per_op"] = (summed(jobs_spans, "shuffle_bytes") / n, "B")
    m["spark.spill_bytes_per_op"] = (summed(jobs_spans, "spill_bytes") / n, "B")
    traced, plain = out.detail["traced_latencies"], out.detail["plain_latencies"]
    m["trace.overhead_s"] = (med(traced) - med(plain), "s")
    out.detail["self_s"] = {k: med(v) for k, v in self_s.items()}
    out.detail["spans"] = len(tr.spans)
    return m
