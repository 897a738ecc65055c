"""Types, the host-speed gauge and the closed loop shared by the workloads,
and the metric names every run reports."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

import numpy as np

WORKLOADS = ("street_level", "analytics_mix")

# Every traced run reports all of these; a layer a workload never calls
# reads 0 (see each workload module for which layers it drives).
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "io.write_s": "s",
    "io.bytes_written": "B",
    "io.files_written": "count",
    "io.read_results_json_s": "s",
    "jobs.stage.grouped_detected_objects_s": "s",
    "jobs.stage.best_lines_3d_s": "s",
    "jobs.stage.point_and_mesh_intersection_s": "s",
    "jobs.reread_count_s": "s",
    **{f"pipelines.{stage}.{k}": u
       for stage in ("grouped_detected_objects", "best_lines_3d", "point_and_mesh_intersection")
       for k, u in (("tasks", "count"), ("executor_run_s", "s"), ("task_max_over_median", "ratio"))},
    "functions.iou_group_photos_per_s": "1/s",
    "functions.pixels_to_rays_points_per_s": "1/s",
    "functions.ray_tri_tests_per_s": "1/s",
    "operators.ngram_jaccard_pairs_s": "s",
    "operators.ngram_jaccard_pairs": "count",
    "operators.connected_components_s": "s",
    "operators.connected_components_spark_jobs": "count",
    "operators.embedding_neardup_lsh_s": "s",
    "operators.embedding_neardup_lsh_pairs": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.spark_jobs_per_query": "count",
    "queries.tasks_per_query": "count",
    "queries.shuffle_bytes_per_query": "B",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "trace.overhead_s": "s",
}


class HostSpeed:
    """Times a fixed piece of interpreter, sorting and cache-missing memory
    work that calls no program code. A shared host can turn twice as fast or
    slow within minutes (on a 4-vCPU VM the same street_level job took 4.4 s
    in one half hour and 2.1 s in the next, its set-up time moving alike),
    so reported times are scaled to a host on which this work takes
    ``REFERENCE_S``, and most of such drift cancels out."""

    REFERENCE_S = 0.05

    def __init__(self) -> None:
        rng = np.random.default_rng(0)
        self._table = rng.standard_normal(1 << 23)  # 64 MiB, beyond the caches
        self._gather = rng.integers(0, len(self._table), 1 << 21)
        self._sort = rng.standard_normal(1 << 20)
        self.samples: list[float] = []
        self._last = -float("inf")

    def sample(self) -> None:
        t0 = time.perf_counter()
        self._table[self._gather].sum()
        np.sort(self._sort)
        counts: dict[int, int] = {}
        for i in range(200_000):
            counts[i % 977] = counts.get(i % 977, 0) + i
        ",".join(map(str, range(100_000)))
        self.samples.append(time.perf_counter() - t0)
        self._last = time.perf_counter()

    def sample_every(self, seconds: float) -> None:
        """Sample unless the last sample is less than ``seconds`` old."""
        if time.perf_counter() - self._last >= seconds:
            self.sample()

    @property
    def scale(self) -> float:
        """Factor that turns a time measured here into reference-host time."""
        return self.REFERENCE_S / statistics.median(self.samples)


@dataclass
class Bench:
    """What a workload gets from the harness."""

    spark: object
    tracer: object
    seed: int
    seconds: float
    work: Path
    host: HostSpeed


@dataclass
class Outcome:
    """What a workload hands back. ``latencies`` are the untraced operation
    times of the measured window and ``op_s`` the typical one; ``layers`` is
    filled by traced runs."""

    gen_s: list[float]
    warmup_s: float
    latencies: list[float]
    op_s: float
    attempted: int
    failed: int
    correct: bool
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)  # name -> (value, unit)
    detail: dict = field(default_factory=dict)


def closed_loop(seconds: float, min_ops: int, op, host: HostSpeed,
                batch: int = 1) -> tuple[list, int, int, float]:
    """Call ``op()`` back to back until ``seconds`` have passed and at least
    ``min_ops`` operations ran, stopping only after a multiple of ``batch``
    operations, and gauge the host's speed between operations. ``op``
    returns its latency, or None when the operation failed. Returns
    (latencies, attempted, failed, share of CPU time the host stole during
    the loop)."""
    from perfbench.spans import cpu_times

    lat, attempted, failed = [], 0, 0
    steal0, total0 = cpu_times()
    deadline = time.perf_counter() + seconds
    while not (attempted >= min_ops and attempted % batch == 0
               and time.perf_counter() >= deadline):
        host.sample_every(2.0)
        attempted += 1
        dt = op()
        if dt is None:
            failed += 1
        else:
            lat.append(dt)
    steal1, total1 = cpu_times()
    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    return lat, attempted, failed, steal_share
