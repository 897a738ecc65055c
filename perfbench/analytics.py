"""analytics_mix: one client issuing read-only declared queries.

The frozen 13-query headline set plus one that chains the near-duplicate
operators (n-gram Jaccard pairs + connected components), each executed
into the ``noop`` sink against a seeded star-schema dataset. The seed sets
the data and the query order; every pass runs every query once. One
operation is one query: building its DataFrame (planning plus any eager
jobs) and executing it. Nothing is written, so the ``io`` write path is idle.

Warm-up is two passes: the first collects every result and checks it
against the query's DuckDB oracle (only its Spark time counts as warm-up),
the second runs the mix as measured. Pass times settle from the third pass
on (measured on a 16-query mix over 15,000 orders: 24 s check pass, then
15.2, 10.5, 8.5, 8.6, 8.7 s).
"""

from __future__ import annotations

import hashlib
import math
import statistics
import sys
import time
import traceback
from datetime import date, datetime

import numpy as np

from perfbench.common import Bench, Outcome, closed_loop
from perfbench.inputs import make_star_inputs
from perfbench.spans import attach_task_counters, subtree, summed

QUERY_SET = [
    # frozen headline set: one query per major operator family
    "A7_q1_pricing_summary",
    "A7_q3_shipping_priority",
    "A7_q6_forecast_revenue",
    "A7_q18_large_orders",
    "J1_q5_local_supplier_revenue",
    "W1_best_order_per_customer",
    "J6_asof_latest_order",
    "X1_exact_dedup_by_content",
    "X2_minhash_lsh_pairs",
    "X3_cosine_topk_bruteforce",
    "X4_text_stats",
    "X8_session_window_agg",
    "X6_tumbling_window_agg",
    # n-gram Jaccard pairs + connected components (the near-dup operators)
    "X2_component_representatives",
]
ORDERS = 10000  # lineitem = 4 x orders rows
MIN_PASSES = 1
GEN_REPEATS = 3
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _table_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns taken in name order and
    floats rounded to 9 decimals (the declared queries' oracle contract)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def _warm_and_check(spark, data_dir: str, names: list[str]) -> tuple[float, list[str]]:
    """Collect every query once and compare it with its DuckDB oracle (a
    query with no oracle must give the same rows twice). Returns the Spark
    time spent and the problems found."""
    import duckdb

    from hg_data_pipelines_spark.queries import ORACLES, QUERIES

    def spark_hash(name):
        t = time.perf_counter()
        df = QUERIES[name](spark, data_dir)
        cols, rows = df.columns, df.collect()
        return _table_hash(cols, [[r[c] for c in cols] for r in rows]), time.perf_counter() - t

    con = duckdb.connect()
    problems, spark_s = [], 0.0
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name in names:
            try:
                got, dt = spark_hash(name)
                spark_s += dt
                if name in ORACLES:
                    res = con.execute(ORACLES[name])
                    want = _table_hash([d[0] for d in res.description], res.fetchall())
                else:
                    want, _ = spark_hash(name)
                if got != want:
                    problems.append(f"{name}: result hash differs from its oracle")
            except Exception as e:  # any failure is a wrong-output query
                traceback.print_exc(file=sys.stderr)
                problems.append(f"{name}: {type(e).__name__}")
    finally:
        con.close()
    return spark_s, problems


def run(bench: Bench) -> Outcome:
    from hg_data_pipelines_spark.queries import QUERIES

    spark, tr = bench.spark, bench.tracer
    gen_s = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        data = make_star_inputs(str(bench.work / "inputs"), bench.seed, ORDERS)
        gen_s.append(time.perf_counter() - t)
    order = [QUERY_SET[i] for i in np.random.default_rng(bench.seed).permutation(len(QUERY_SET))]

    def execute(name: str) -> None:
        with tr.span(name, "queries"):
            with tr.span(f"{name}.build", "queries"):
                df = QUERIES[name](spark, data)
            with tr.span(f"{name}.exec", "queries"):
                df.write.format("noop").mode("overwrite").save()

    check_s, problems = _warm_and_check(spark, data, order)
    t = time.perf_counter()
    for name in order:
        QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()
    warmup_s = check_s + time.perf_counter() - t

    per_query: dict[str, list[float]] = {n: [] for n in order}
    plain_per_query: dict[str, list[float]] = {n: [] for n in order}
    traced_lat, plain_lat = [], []
    state = {"i": 0}

    def op():
        i = state["i"]
        state["i"] += 1
        name = order[i % len(order)]
        # traced runs alternate traced and untraced passes, so the two
        # medians give the tracing overhead
        traced = tr.enabled and (i // len(order)) % 2 == 0
        t0 = time.perf_counter()
        try:
            if traced:
                execute(name)
            else:
                QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        (traced_lat if traced else plain_lat).append(dt)
        per_query[name].append(dt)
        if not traced:
            plain_per_query[name].append(dt)
        return dt

    min_passes = MIN_PASSES * (2 if tr.enabled else 1)
    lat, attempted, failed, steal = closed_loop(
        bench.seconds, min_passes * len(order), op, bench.host, batch=len(order))
    for p in problems:
        print(f"analytics_mix check failed: {p}", file=sys.stderr)
    # a query that failed its oracle check answered wrongly every time it ran
    wrong = {p.split(":")[0] for p in problems}
    failed += sum(len(per_query[n]) for n in wrong)
    # every query weighs the same: the mean over queries of each query's
    # median untraced time
    query_median = {n: statistics.median(v) for n, v in plain_per_query.items() if v}
    out = Outcome(gen_s, warmup_s, plain_lat if tr.enabled else lat,
                  statistics.fmean(query_median.values() or [0.0]),
                  attempted, failed, not problems)
    out.detail = {
        "orders": ORDERS, "order": order, "problems": problems,
        "latencies": lat, "cpu_steal_share": steal, "query_median_s": query_median,
    }
    if tr.enabled:
        out.detail["traced_latencies"] = traced_lat
        out.detail["plain_latencies"] = plain_lat
        out.layers.update(_operator_probes(bench, data))
    return out


def _operator_probes(bench: Bench, data: str) -> dict:
    """Calls from this process into the near-duplicate operators the X2 queries
    use, on this workload's ``documents``/``embeddings``; each output is
    materialized so the operator's own jobs are timed."""
    from hg_data_pipelines_spark.io import load_table
    from hg_data_pipelines_spark.operators.dedup import connected_components, ngram_jaccard_pairs
    from hg_data_pipelines_spark.operators.similarity import auto_planes, embedding_neardup_lsh

    spark, tr = bench.spark, bench.tracer
    docs = load_table(spark, data, "documents")
    emb = load_table(spark, data, "embeddings")
    with tr.span("ngram_jaccard_pairs", "operators") as s_pairs:
        pairs = ngram_jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b").collect()
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    with tr.span("connected_components", "operators") as s_cc:
        connected_components(edges).count()
    n_vec = emb.count()
    with tr.span("embedding_neardup_lsh", "operators") as s_lsh:
        n_lsh = embedding_neardup_lsh(
            emb, 0.45, n_planes=auto_planes(n_vec), n_tables=16, max_bucket=1024
        ).count()
    return {
        "operators.ngram_jaccard_pairs_s": (s_pairs.seconds, "s"),
        "operators.ngram_jaccard_pairs": (len(pairs), "count"),
        "operators.connected_components_s": (s_cc.seconds, "s"),
        "operators.embedding_neardup_lsh_s": (s_lsh.seconds, "s"),
        "operators.embedding_neardup_lsh_pairs": (n_lsh, "count"),
    }


def layer_metrics(bench: Bench, event_log_dir, out: Outcome) -> dict:
    tr = bench.tracer
    totals = attach_task_counters(tr, str(event_log_dir))
    queries = [s for s in tr.spans if s.parent is None and s.layer == "queries"]
    m: dict[str, tuple[float, str]] = {}

    def part(q, suffix):
        return next(c for c in tr.children(q) if c.name.endswith(suffix))

    n = max(len(queries), 1)
    subs = [subtree(tr, q) for q in queries]
    m["queries.build_s"] = (statistics.median(part(q, ".build").seconds for q in queries), "s")
    m["queries.exec_s"] = (statistics.median(part(q, ".exec").seconds for q in queries), "s")
    m["queries.spark_jobs_per_query"] = (sum(summed(s, "jobs") for s in subs) / n, "count")
    m["queries.tasks_per_query"] = (sum(summed(s, "tasks") for s in subs) / n, "count")
    m["queries.shuffle_bytes_per_query"] = (
        sum(summed(s, "shuffle_bytes") for s in subs) / n, "B")
    m["spark.tasks_per_op"] = (sum(summed(s, "tasks") for s in subs) / n, "count")
    m["spark.failed_tasks"] = (totals["failed_tasks"], "count")
    m["spark.shuffle_bytes_per_op"] = (sum(summed(s, "shuffle_bytes") for s in subs) / n, "B")
    m["spark.spill_bytes_per_op"] = (sum(summed(s, "spill_bytes") for s in subs) / n, "B")
    cc = next(s for s in tr.spans if s.name == "connected_components")
    m["operators.connected_components_spark_jobs"] = (cc.counters["jobs"], "count")
    traced, plain = out.detail["traced_latencies"], out.detail["plain_latencies"]
    m["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
    return m
