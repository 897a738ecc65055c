"""Benchmark entry point.

    python3 perfbench/run.py --workload street_level --seed 1 --seconds 15 --trace 0

Runs one workload against the package in this checkout on ``local[nproc]``
with one closed-loop caller, checks the outputs, and prints as the last line
of standard output one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the same workload with spans and the Spark event log on
and reports the per-layer metrics instead. Reported times and rates are
scaled to a reference host speed (``HostSpeed``), gauged before, during and
after the run. A detail line (unscaled latencies, set-up parts, host speed samples, host
CPU steal, peak RSS by process) is printed just before the result.

Everything the run writes (inputs, warehouse, Spark local and temp dirs,
event log) lives under ``.perfbench_work/`` in the checkout and is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[0] = str(ROOT)
DRIVER_MEM = "1g"

from perfbench.common import PER_LAYER, WORKLOADS, Bench, HostSpeed  # noqa: E402


def _session(work: Path, traced: bool):
    from hg_data_pipelines_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        # a fixed-size heap: a heap that grows as the collector sees fit
        # makes peak RSS wander by a quarter from run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if traced:
        from perfbench.spans import EVENT_LOG_CONF

        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = str(work / "eventlog")
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _stop_session(spark) -> None:
    """Stop Spark and wait until its JVM and every Python worker it forked
    have exited."""
    import signal

    from pyspark import SparkContext

    from perfbench.spans import descendants

    children = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while children and time.monotonic() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "hg_data_pipelines_spark" / "__init__.py").is_file():
        print(f"perfbench: no hg_data_pipelines_spark package under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2

    host = HostSpeed()
    for _ in range(5):
        host.sample()
    t_begin = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True)
    # Python workers import the package from the checkout whatever their cwd;
    # every temp file Spark or Python makes stays under the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work} -XX:-UsePerfData"
    )

    from perfbench.spans import Tracer, TreeRss

    traced = bool(args.trace)
    try:
        with TreeRss() as rss:
            spark = _session(work, traced)
            start_s = time.perf_counter() - t_begin
            try:
                bench = Bench(spark, Tracer(spark.sparkContext, traced), args.seed,
                              args.seconds, work, host)
                if args.workload == "street_level":
                    from perfbench import street as workload
                else:
                    from perfbench import analytics as workload
                out = workload.run(bench)
            finally:
                _stop_session(spark)
            if traced:
                out.layers.update(workload.layer_metrics(bench, work / "eventlog", out))
            peak_mb = rss.peak_mb
            peak_parts = rss.peak_parts_mb
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there

    for _ in range(5):
        host.sample()
    gen_s = statistics.median(out.gen_s)
    setup_s = start_s + gen_s + out.warmup_s
    lat = out.latencies or [0.0]
    if traced:
        out.layers["session.start_s"] = (start_s, "s")
        out.layers["session.warmup_s"] = (out.warmup_s, "s")
        metrics = {name: out.layers.get(name, (0.0, unit)) for name, unit in PER_LAYER.items()}
        per_s = {"s": host.scale, "1/s": 1 / host.scale}
        metrics = {k: (v * per_s.get(u, 1.0), u) for k, (v, u) in metrics.items()}
    else:
        metrics = {
            "setup_s": (setup_s * host.scale, "s"),
            "op_s": (out.op_s * host.scale, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host_speed_s": host.samples, "host_scale": host.scale,
        "samples": len(out.latencies), "op_s": out.op_s,
        "ops_per_s": len(lat) / max(sum(lat), 1e-9), "session_start_s": start_s,
        "input_gen_s": out.gen_s, "warmup_s": out.warmup_s, "setup_s": setup_s,
        "peak_rss_mb": peak_mb, "peak_rss_by_command_mb": peak_parts,
        "op_p90_s": (statistics.quantiles(out.latencies, n=10, method="inclusive")[8]
                     if len(out.latencies) > 1 else None),
        **out.detail,
    }
    print("perfbench detail " + json.dumps(detail, default=float))
    result = {
        "correct": bool(out.correct and out.failed == 0),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
