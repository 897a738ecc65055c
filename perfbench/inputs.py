"""Seeded input generators with planted ground truth.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical inputs. The program under test only ever sees the
files written here; the ground truth each generator returns stays with the
benchmark and drives the output checks.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PANO_W = 8000
CLASSES = [1, 2, 3, 4, 7, 8, 9, 10]


# ---------------------------------------------------------------------------
# street_level: results.json + pose CSV + facade mesh
# ---------------------------------------------------------------------------


@dataclass
class StreetShape:
    """Sizes that set the street-level job's cost: per-photo IoU work grows
    with (elements x views)^2, ray count with polygon vertices, and ray-mesh
    tests with rays x triangles."""

    photos: int = 120
    elements: int = 6  # distinct facade elements per photo
    views: int = 4  # detections of each element (high mutual IoU)
    vertices: int = 40  # polygon vertices per detection
    grid: int = 7  # mesh faces are grid x grid quads -> 5 * 2 * grid^2 tris
    sky_elements: int = 1  # elements per photo whose rays leave through the open roof


@dataclass
class StreetInputs:
    results_json_path: str
    pose_csv_path: str
    triangles: np.ndarray
    box_center: np.ndarray
    box_half: float
    # ground truth
    elements: int  # rows best_lines_3d must hold
    detections: int  # rows grouped_detected_objects must hold
    rays: int  # polygon_3d points over all elements
    sky_rays: int  # rays that must miss the mesh (open roof)
    sky_keys: set[tuple[str, int]] = field(default_factory=set)  # (file, obj_idx)
    # the highest-scoring detection of each element (first obj_idx on ties)
    best_keys: set[tuple[str, int]] = field(default_factory=set)


def _box_mesh(center: np.ndarray, half: float, grid: int) -> np.ndarray:
    """Four walls and a floor of an axis-aligned box, each face split into
    grid x grid quads of two triangles. The roof is left open so rays that
    point up miss the mesh."""
    cx, cy, cz = center
    lin = np.linspace(-half, half, grid + 1)
    tris = []

    def face(point):  # point(u, v) -> xyz on the face
        for i in range(grid):
            for j in range(grid):
                a = point(lin[i], lin[j])
                b = point(lin[i + 1], lin[j])
                c = point(lin[i + 1], lin[j + 1])
                d = point(lin[i], lin[j + 1])
                tris.append([a, b, c])
                tris.append([a, c, d])

    face(lambda u, v: (cx + u, cy + v, cz - half))  # floor
    face(lambda u, v: (cx - half, cy + u, cz + v))
    face(lambda u, v: (cx + half, cy + u, cz + v))
    face(lambda u, v: (cx + u, cy - half, cz + v))
    face(lambda u, v: (cx + u, cy + half, cz + v))
    return np.asarray(tris, dtype=np.float64)


def _polygon(x0: float, y0: float, x1: float, y1: float, n: int) -> list[list[float]]:
    """An open n-vertex ring on the ellipse inscribed in the bbox."""
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
    rx, ry = (x1 - x0) / 2, (y1 - y0) / 2
    return np.rint(np.stack([cx + rx * np.cos(t), cy + ry * np.sin(t)], axis=1)).tolist()


def make_street_inputs(out_dir: str, seed: int, shape: StreetShape) -> StreetInputs:
    """Panoramas where each facade element is seen ``views`` times with high
    IoU and distinct elements never overlap, so grouping must find exactly
    ``elements`` groups per photo. Facade elements sit near the horizon and
    hit the walls; sky elements sit near the zenith and leave through the
    open roof, which plants a known mesh-hit share."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_rows = shape.elements
    # x slots are disjoint and never cross the seam; each element gets one.
    slot_w = (PANO_W - 400) // n_rows
    photos, pose_lines = [], [
        "file_name\troll[deg]\tpitch[deg]\theading[deg]\t"
        "projectedX[m]\tprojectedY[m]\tprojectedZ[m]"
    ]
    center = np.array([582102.0, 6002248.0, 97.3])
    half = 50.0
    sky_keys: set[tuple[str, int]] = set()
    best_keys: set[tuple[str, int]] = set()
    rays_per_det = len(range(0, shape.vertices + 1, 10))  # POLYGON_SPACING = 10
    for p in range(shape.photos):
        file_name = f"pano_{p:05d}.jpg"
        dets = []
        for e in range(n_rows):
            w = rng.uniform(0.35, 0.6) * slot_w
            h = rng.uniform(150, 400)
            x0 = 200 + e * slot_w + rng.uniform(0, slot_w - w)
            sky = e < shape.sky_elements
            # sky: polar angle <= ~20 deg; facade: 75-105 deg from zenith
            y0 = rng.uniform(20, 200) if sky else rng.uniform(1700, 2300 - h)
            klass = int(rng.choice(CLASSES))
            for _ in range(shape.views):
                jx, jy = rng.uniform(-0.04, 0.04, 2) * [w, h]
                bx0, by0 = x0 + jx, y0 + jy
                bbox = [float(round(bx0)), float(round(by0)),
                        float(round(bx0 + w)), float(round(by0 + h))]
                dets.append((bbox, klass, sky, e))
        order = rng.permutation(len(dets))
        scores = np.round(rng.uniform(0.3, 0.99, len(dets)), 6)
        objects, best = [], {}
        for obj_idx, k in enumerate(order):
            bbox, klass, sky, e = dets[k]
            if sky:
                sky_keys.add((file_name, obj_idx))
            if e not in best or scores[obj_idx] > scores[best[e]]:
                best[e] = obj_idx
            objects.append({
                "bbox": bbox,
                "polygon": {"type": "Polygon",
                            "coordinates": [_polygon(*bbox, shape.vertices)]},
                "score": float(scores[obj_idx]),
                "class": klass,
            })
        best_keys.update((file_name, i) for i in best.values())
        photos.append({"file_name": file_name, "objects": objects})
        off = rng.uniform(-5, 5, 3)
        pose_lines.append(
            f"pano_{p:05d}\t{rng.uniform(-2, 2):.4f}\t{rng.uniform(-2, 2):.4f}"
            f"\t{rng.uniform(0, 360):.4f}\t{center[0] + off[0]:.4f}"
            f"\t{center[1] + off[1]:.4f}\t{center[2] + off[2]:.4f}"
        )
    results = os.path.join(out_dir, "results.json")
    with open(results, "w") as fh:
        fh.write(json.dumps(photos))
    pose = os.path.join(out_dir, "reference.csv")
    with open(pose, "w") as fh:
        fh.write("\n".join(pose_lines) + "\n")
    elements = shape.photos * n_rows
    sky_elements = shape.photos * shape.sky_elements
    return StreetInputs(
        results_json_path=results,
        pose_csv_path=pose,
        triangles=_box_mesh(center, half, shape.grid),
        box_center=center,
        box_half=half,
        elements=elements,
        detections=elements * shape.views,
        rays=elements * rays_per_det,
        sky_rays=sky_elements * rays_per_det,
        sky_keys=sky_keys,
        best_keys=best_keys,
    )


def _corpus_tables(rng: np.random.Generator, n_base: int, dim: int = 64):
    """``documents`` and ``embeddings`` in the TESTDATA schema, with planted
    exact duplicates, lightly edited near-duplicates and embedding clones so
    the dedup and similarity queries have clusters to find."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, int(rng.integers(3, 9))))
                    for _ in range(400)})
    # Mild Zipf keeps the top-token share under the repetition gate's 0.30.
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    texts = [" ".join(rng.choice(vocab, int(rng.integers(40, 120)), p=weights))
             for _ in range(n_base)]
    n_dup = max(n_base // 50, 1)
    for i in rng.choice(n_base, n_dup, replace=False):
        texts.append(texts[i])
    for i in rng.choice(n_base, n_dup, replace=False):
        toks = texts[i].split(" ")
        for pos in rng.choice(len(toks), len(toks) // 25, replace=False):
            toks[pos] = str(rng.choice(vocab))
        texts.append(" ".join(toks))
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    src = rng.choice(n, 2 * n_dup, replace=False)
    vecs[src[n_dup:]] = vecs[src[:n_dup]] + 0.05 * rng.standard_normal((n_dup, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    order = np.argsort(ids)
    docs = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    embs = pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return docs, embs


# ---------------------------------------------------------------------------
# analytics_mix: the TPC-H-ish star schema + events + corpus tables
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n, start: datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def make_star_inputs(out_dir: str, seed: int, orders: int) -> str:
    """Every TESTDATA table at ``orders`` orders (4 line items per order), in
    the shipped fixture set's schema and value ranges. Returns the directory."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = orders // 10, max(orders // 150, 10), orders // 7
    n_line, n_events = orders * 4, orders * 2 // 3

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": money(1000, 500000, orders),
            "o_orderdate": pa.array(_days(rng, orders, datetime(1995, 1, 1), 2404), pa.timestamp("ms")),
            "o_orderpriority": rng.choice(PRIORITIES, orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, n_line, datetime(1995, 1, 2), 2498), pa.timestamp("ms")),
        }),
    }
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 67, 2), n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": money(0.01, 490.0, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    tables["documents"], tables["embeddings"] = _corpus_tables(rng, max(orders // 30, 50))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

