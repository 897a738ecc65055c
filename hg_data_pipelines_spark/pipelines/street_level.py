"""Street-level grouping pipeline: IoU clustering → best rows → 3D rays →
mesh intersection.

Reference chain (street_level_grouping.py):
``detected_objects_street_level`` (:86) → ``grouped_detected_objects`` (:99)
→ [+ ``reference_file`` (:138)] → ``best_lines_3d`` (:174) →
``point_and_mesh_intersection`` (:202).

Spark-first translation:
- per-photo IoU clustering (U4) is ``groupBy('file_name').applyInPandas`` —
  the O(n²) pairwise IoU stays bounded inside one group (n = detections per
  photo, small by construction; SURVEY.md §4.1 "do NOT globalize").
- best-detection-per-cluster (A3/W1) is a window rank, not a pandas idxmax;
  ``obj_idx`` (original row order) is the tiebreak that reproduces pandas'
  first-max semantics.
- the pose lookup loop (J1) is a broadcast equi-join on the file stem.
- pixel→ray math (U1) is Spark column expressions in the JVM: the ring is
  parsed with ``from_json``, closed and strided, and each point goes through
  the per-row rotation R = Rz·Ry·Rx with ``transform`` — no Python worker,
  no shuffle beyond the window's.
- ray↔mesh intersection (U6) broadcasts the triangle soup and processes rays
  partition-parallel via mapInPandas — the reference's single
  ``multi_ray_trace`` call becomes one batched Möller–Trumbore kernel per
  Arrow batch.

Width: the two Python stages (IoU grouping, mesh intersection) run at a
fixed width of ``spark.sql.shuffle.partitions`` tasks. Each is fed from an
explicit-count exchange (hash on file_name for grouping, round-robin for the
mesh), which AQE leaves alone, and ends in a ``rebalance`` hint, which AQE
sizes — so the geometry uses every core while a small landed table stays
one file.

Scale: the mesh is a broadcast variable (≤ executor memory; tile the mesh
spatially beyond that); joblib's loky pool (reference :191-192) is replaced
by Spark tasks.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as G

IOU_THRESHOLD = 0.01  # reference: street_level_grouping.py:113
POLYGON_SPACING = 10  # reference: StreetLevelConfig.polygon_spacing (:32)

# ---------------------------------------------------------------------------
# Stage 1: per-photo greedy IoU grouping (U4)
# ---------------------------------------------------------------------------

_GROUPED_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("obj_idx", T.IntegerType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        # GeoJSON coordinates as a JSON string: pyarrow segfaults moving an
        # all-null array<array<array<double>>> batch into pandas, so nested
        # polygon data crosses the Arrow boundary serialized (to_json).
        T.StructField("polygon_json", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("class", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("group_idx", T.IntegerType()),
    ]
)


def _python_width(df: DataFrame) -> int:
    """Task count for a Python stage (module docstring, "Width"): AQE
    would coalesce a KB-sized input's shuffle to one Python task."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _group_one_photo(pdf: pd.DataFrame) -> pd.DataFrame:
    # Stable input order = original JSON order (obj_idx), the determinism
    # contract for the greedy algorithm (SURVEY.md §7.2).
    pdf = pdf.sort_values("obj_idx").reset_index(drop=True)
    bboxes = np.array([list(b) for b in pdf["bbox"]], dtype=np.float64)
    normalized = G.normalize_seam_bboxes(bboxes)
    iou = G.bbox_iou_matrix(normalized)
    pdf["group_idx"] = G.group_bboxes_greedy(iou, IOU_THRESHOLD).astype("int32")
    return pdf


def grouped_detected_objects(detected: DataFrame) -> DataFrame:
    """Cluster duplicate detections per photo (reference :99-135).

    ``detected`` needs columns (file_name, obj_idx, bbox, polygon_json,
    score, class, class_name); ``obj_idx`` is the within-photo original row
    number (use ``posexplode`` when building from results.json).
    """
    cols = [f.name for f in _GROUPED_SCHEMA.fields if f.name != "group_idx"]
    return (
        detected.select(*cols)
        .repartition(_python_width(detected), "file_name")
        .groupBy("file_name")
        .applyInPandas(_group_one_photo, _GROUPED_SCHEMA)
        .hint("rebalance")
    )


def detected_with_idx(results_df: DataFrame) -> DataFrame:
    """results.json rows → exploded detections with a stable ``obj_idx``."""
    from ..io import class_dim

    exploded = results_df.select(
        "file_name", F.posexplode("objects").alias("obj_idx", "o")
    ).select("file_name", F.col("obj_idx").cast("int"), "o.*")
    dim = class_dim(exploded.sparkSession)
    return exploded.join(F.broadcast(dim), "class", "left").select(
        "file_name",
        "obj_idx",
        "bbox",
        F.to_json(F.col("polygon.coordinates")).alias("polygon_json"),
        "score",
        "class",
        "class_name",
    )


# ---------------------------------------------------------------------------
# Stage 2: best detection per cluster → 3D ray polygon (U5 + J1 + U1)
# ---------------------------------------------------------------------------

_BEST_LINES_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("obj_idx", T.IntegerType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("score", T.DoubleType()),
        T.StructField("class", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("polygon_3d", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("origin", T.ArrayType(T.DoubleType())),
    ]
)


_RINGS = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))


def _sampled_ring(polygon_json: Column) -> Column:
    """Exterior ring → every POLYGON_SPACING-th point of the closed ring.

    shapely's Polygon closes an open ring and exterior.coords includes the
    closing point (reference :158-166 iterates the closed ring). An empty
    ring stays empty: ``get`` is NULL out of bounds where ``ring[0]`` would
    raise under ANSI mode.
    """
    ring = F.coalesce(
        F.get(F.from_json(polygon_json, _RINGS), 0),
        F.array().cast(_RINGS.elementType),
    )
    first, last = F.get(ring, 0), F.get(ring, F.size(ring) - 1)
    closed = F.when(first != last, F.concat(ring, F.array(first))).otherwise(ring)
    return F.filter(closed, lambda p, i: i % POLYGON_SPACING == 0)


def _rotation(roll: Column, pitch: Column, heading: Column) -> list[list[Column]]:
    """R = Rz(heading) · Ry(pitch) · Rx(roll) expanded per element, the
    layout of ``functions.geometry.orientation_rotation_matrix`` (and of
    ``queries.geometry_q._sql_ray``)."""
    sr, cr = F.sin(roll), F.cos(roll)
    sp, cp = F.sin(pitch), F.cos(pitch)
    sh, ch = F.sin(heading), F.cos(heading)
    return [
        [ch * cp, ch * sp * sr + sh * cr, ch * sp * cr - sh * sr],
        [-sh * cp, -sh * sp * sr + ch * cr, -sh * sp * cr - ch * sr],
        [-sp, cp * sr, cp * cr],
    ]


def _ray_polygon(joined: DataFrame) -> DataFrame:
    """Add ``polygon_3d`` and ``origin``: ``functions.geometry.pixels_to_rays``
    per row as Spark expressions (pixels truncated like the reference's
    ``int()``)."""
    r = _rotation(
        F.radians(-F.col("roll_deg")),
        F.radians(F.col("pitch_deg")),
        F.radians(F.col("heading_deg") + 90.0),
    )
    rot = {f"_r{i}{j}": r[i][j] for i in range(3) for j in range(3)}
    with_r = joined.select(
        "*",
        _sampled_ring(F.col("polygon_json")).alias("_pts"),
        *(c.alias(name) for name, c in rot.items()),
    )
    w, h = F.col("image_width"), F.col("image_height")

    def unit(p: Column) -> Column:
        px = p[0].cast("long").cast("double")
        py = p[1].cast("long").cast("double")
        theta = F.lit(2 * math.pi) * (w - px) / w
        phi = F.lit(math.pi) * py / h
        return F.array(
            F.sin(phi) * F.cos(theta), F.sin(phi) * F.sin(theta), F.cos(phi)
        )

    origin = [F.col("proj_x"), F.col("proj_y"), F.col("proj_z")]

    def endpoint(v: Column) -> Column:
        return F.array(
            *(
                F.col(f"_r{i}0") * v[0]
                + F.col(f"_r{i}1") * v[1]
                + F.col(f"_r{i}2") * v[2]
                + origin[i]
                for i in range(3)
            )
        )

    return with_r.withColumns(
        {
            "polygon_3d": F.transform(F.transform("_pts", unit), endpoint),
            "origin": F.array(*origin),
        }
    ).drop("_pts", *rot)


def best_lines_3d(
    grouped: DataFrame,
    pose: DataFrame,
    photo_dims: DataFrame | None = None,
    default_width: int = 8000,
    default_height: int = 4000,
) -> DataFrame:
    """Best-scoring detection per (photo, cluster), polygon cast to 3D rays.

    Reference :145-199. ``pose`` is the reference.csv table (J1, broadcast);
    ``photo_dims`` optionally supplies (file_name, image_width, image_height)
    — the reference sniffs JPEG headers per photo (:302-310, replaced by the
    multimodal metadata source); absent, panorama dims default to 8000×4000.

    Orientation: roll is negated, heading gets +90° (reference :185-188);
    pandas ``float(Series)`` scalar-add semantics intended there are applied
    per row here.
    """
    nonempty = grouped.filter(F.col("polygon_json").isNotNull())
    # pandas idxmax = FIRST max in row order → tiebreak on obj_idx.
    w = Window.partitionBy("file_name", "group_idx").orderBy(
        F.desc("score"), F.asc("obj_idx")
    )
    best = (
        nonempty.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "group_idx")
    )

    stem = F.split(F.col("file_name"), r"\.")[0]
    pose_sel = pose.select(
        F.col("file_name").alias("_stem"),
        F.col("roll[deg]").alias("roll_deg"),
        F.col("pitch[deg]").alias("pitch_deg"),
        F.col("heading[deg]").alias("heading_deg"),
        F.col("projectedX[m]").alias("proj_x"),
        F.col("projectedY[m]").alias("proj_y"),
        F.col("projectedZ[m]").alias("proj_z"),
    )
    joined = best.withColumn("_stem", stem).join(
        F.broadcast(pose_sel), "_stem", "inner"
    )
    if photo_dims is not None:
        joined = joined.join(F.broadcast(photo_dims), "file_name", "left").fillna(
            {"image_width": default_width, "image_height": default_height}
        )
    else:
        joined = joined.withColumn("image_width", F.lit(default_width)).withColumn(
            "image_height", F.lit(default_height)
        )

    return _ray_polygon(joined).select(
        *(F.col(f.name).cast(f.dataType) for f in _BEST_LINES_SCHEMA.fields)
    )


# ---------------------------------------------------------------------------
# Stage 3: ray ↔ mesh intersection (U6)
# ---------------------------------------------------------------------------


def point_and_mesh_intersection(
    spark: SparkSession, best_lines: DataFrame, triangles: np.ndarray
) -> DataFrame:
    """Replace each ray endpoint with its first mesh hit (reference :202-234).

    ``triangles``: (M, 3, 3) float array, broadcast to executors. Rays run
    from ``origin`` *through* each polygon_3d point — the intended semantics
    of the reference's ``multi_ray_trace(origins, points)`` call (it passes
    absolute points where pyvista expects directions; we use point - origin
    and document the deviation). Misses keep the original point, matching the
    reference's ``if points[k] is not None`` write-back (:222-226) — but
    indexed correctly per row, not via its enumerate-index bug (SURVEY.md
    §7.2 "reference bugs").
    """
    tri_b = spark.sparkContext.broadcast(np.asarray(triangles, dtype=np.float64))
    schema = best_lines.schema

    def _intersect(batches):
        tri = tri_b.value
        for pdf in batches:
            keep = pdf["polygon_3d"].map(len) > 1  # P7 filter (:208)
            pdf = pdf[keep]
            if pdf.empty:
                yield pdf
                continue
            new_polys = []
            for origin, poly in zip(pdf["origin"], pdf["polygon_3d"]):
                origin = np.asarray(origin, dtype=np.float64)
                pts = np.stack(poly).astype(np.float64)
                hits = G.ray_triangle_intersections(
                    np.repeat(origin[None, :], len(pts), axis=0),
                    pts - origin[None, :],
                    tri,
                )
                new_polys.append(np.where(np.isnan(hits), pts, hits).tolist())
            yield pdf.assign(polygon_3d=new_polys)

    return (
        best_lines.repartition(_python_width(best_lines))
        .mapInPandas(_intersect, schema)
        .hint("rebalance")
    )
