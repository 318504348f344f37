"""One benchmark run inside the pinned environment that run.py sets up.

Usage (from run.py): python -m perfbench.worker --workload W --seed N
    --seconds S --trace 0|1 --t0 MONOTONIC --out RESULT.json
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from typing import NamedTuple

from . import metrics
from .trace import NullTracer, StoreCounters, Tracer
from .workloads import MarketWorkload, QueryWorkload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")

# Registered queries of the reference's SQL surface, one per plan shape:
# scan plus aggregate (q1), joins (q5, q9), join plus aggregate (q18),
# window, top-k and the market as-of join. A run makes three warm-up
# passes, the first cold, and four timed passes: about a minute on 4 cores.
# With an odd number of queries the median falls in the middle of one
# query's runs rather than on the gap between two queries.
ATHENA_OPS = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "window_rank",
    "filter_sort_limit",
    "asof_join_quotes",
]

# Nominal seconds of one pass on 4 cores: a run makes
# max(MIN_PASSES, round(seconds / PASS_S)) passes, so its op count n is
# fixed by --seconds alone (n = 28 and 6 at --seconds 20).
PASS_S = {"athena_sql": 5.0, "market_etl_stream": 3.5}
MIN_PASSES = {"athena_sql": 2, "market_etl_stream": 6}

# An op during which the host's CPU steal share (see metrics.steal_share)
# was above STEAL_MAX runs once more after the last pass, and the attempt
# with less steal counts. At most n/4 ops are run again in a run. Runs
# with 5-15% steal read 30-120% slower than quiet ones.
STEAL_MAX = 0.01


class Attempt(NamedTuple):
    stolen: float  # host steal share while the op ran
    took: float  # op latency, s
    ok: bool
    spans: list[dict]


LAYERS = ("bench", "plans", "operators", "streaming", "sources")
# Per-layer totals only the writing workload has; 0 elsewhere.
STREAMING_TOTALS = (
    "streaming.applied_ratio",
    "streaming.state_bytes",
    "sources.stored_bytes_per_input_byte",
)


def make_workload(name: str, seed: int, run_dir: str):
    if name == "athena_sql":
        return QueryWorkload(ATHENA_OPS, ROOT, os.path.join(STATE_DIR, "data"))
    if name == "market_etl_stream":
        # 30 days of history is the reference scraper's download window
        # (period="30d"). The reference names no ticker count; at 40
        # tickers an op took 5.3 s and a run 130 s on 4 cores, at 10 an
        # op takes about 2.5 s.
        return MarketWorkload(ROOT, seed, os.path.join(run_dir, "market"), tickers=10, history_days=30, warmup_ops=3)
    raise SystemExit(f"unknown workload {name!r}")


def passes_for(name: str, seconds: int) -> int:
    return max(MIN_PASSES[name], round(seconds / PASS_S[name]))


def session_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]  # set by run.py
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # A heap fixed at its maximum and touched at start keeps peak RSS
        # from following how many heap regions the collector happened to
        # use: with -Xms alone it ranged 2.1-3.0 GB between runs.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch"
        ),
    }


def live_heap_bytes(spark) -> int:
    """Java heap in use after a full collection: what the program still
    holds (cached plans and data, catalog, stream state). The heap's peak
    use is no measure of that: with a fixed heap the collector lets
    garbage fill it to about its size before it collects."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()


def layer_metrics(spans: list[dict], n_ops: int, op_wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics from the spans of the timed ops: times and counts
    are means per op, ``<metric>.<op>`` are medians over that op's runs."""
    out: dict[str, float] = {}
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def mean_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_name[name]) / n_ops

    out["plans.build_s"] = mean_s("plans.build")
    out["plans.build_jobs"] = sum(s["spark"]["jobs"] for s in by_name["plans.build"]) / n_ops
    out["operators.exec_s"] = mean_s("operators.exec") + mean_s("operators.read")
    for op in ATHENA_OPS:
        for metric, name in (("plans.build_s", "plans.build"), ("operators.exec_s", "operators.exec")):
            vals = [s["end"] - s["start"] for s in by_name[name] if s["op"] == op]
            out[f"{metric}.{op}"] = statistics.median(vals) if vals else 0.0
    out.update(dict.fromkeys(STREAMING_TOTALS, 0.0))
    out["streaming.refresh_s"] = mean_s("streaming.run_etl_stream")
    out["streaming.agg_commit_s"] = mean_s("streaming.run_incremental_agg_stream")
    out["sources.catalog_s"] = mean_s("sources.register_parquet_table")
    own = metrics.layer_self_time(spans)
    for layer in LAYERS:
        out[f"self_s.{layer}"] = own.get(layer, 0.0) / n_ops
    top = [s for s in spans if s["parent"] is None]
    total = metrics.add_deltas([s["spark"] for s in top])
    spark = metrics.spark_layer(total, op_wall_s, cores)
    for key in spark:
        if key != "spark.core_busy_frac":
            spark[key] /= n_ops
    out.update(spark)
    out["sources.scan_rows"] = total["input_rows"] / n_ops
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args(argv)

    run_dir = os.path.dirname(args.out)
    wl = make_workload(args.workload, args.seed, run_dir)
    gen_s = wl.generate()

    tracer = Tracer() if args.trace else NullTracer()
    t_session = time.monotonic()
    with tracer.span("session.get_spark", "session"):
        from m2_b3_market_data_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(run_dir))
        spark.sparkContext.setLogLevel("ERROR")
    start_s = time.monotonic() - t_session
    if args.trace:
        tracer.counters = StoreCounters(spark)
    t_warm = time.monotonic()
    with tracer.span("session.warmup", "session"):
        wl.warmup(spark, tracer)
    warmup_s = time.monotonic() - t_warm
    setup_s = time.monotonic() - args.t0 - gen_s

    rng = random.Random(args.seed)
    schedule = wl.schedule(rng, passes_for(args.workload, args.seconds))
    first_span = len(tracer.spans)
    errors: dict[str, str] = {}

    def attempt(op: str) -> Attempt:
        mark = len(tracer.spans)
        ticks = metrics.host_cpu_ticks()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", "bench", op):
                wl.run_op(spark, op, tracer)
            ok = True
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            errors.setdefault(op, f"{type(ex).__name__}: {ex}")
            traceback.print_exc(file=sys.stderr)
        took = time.perf_counter() - t0
        stolen = metrics.steal_share(ticks, metrics.host_cpu_ticks())
        # Only the kept attempt's spans go back into the trace.
        spans = tracer.spans[mark:]
        del tracer.spans[mark:]
        return Attempt(stolen, took, ok, spans)

    t_window = time.monotonic()
    kept = [attempt(op) for op in schedule]
    # Steal comes in bursts, so an op is measured again after the last
    # pass rather than at once: the most-stolen first, at most n/4.
    retry = metrics.remeasure_order([a.stolen for a in kept], [a.ok for a in kept], STEAL_MAX)
    for i in retry:
        again = attempt(schedule[i])
        if not again.ok or again.stolen < kept[i].stolen:
            kept[i] = again
    for a in kept:
        tracer.spans += a.spans
    lat = [a.took for a in kept]
    op_ok = [a.ok for a in kept]
    steal = [a.stolen for a in kept]
    window_s = time.monotonic() - t_window
    # Before the checks, whose collects would count too.
    heap_live = live_heap_bytes(spark) if args.trace else 0
    totals = wl.layers()

    checks = wl.check(spark)
    for op, err in checks.items():
        if err:
            errors.setdefault(op, err)
    failed = sum(1 for op, ok in zip(schedule, op_ok) if not ok or checks.get(op))
    n = len(schedule)

    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": metrics.tail_latency(lat),
        "ops_per_s": metrics.ops_per_s(n - failed, lat),
        "failed_ops_frac": metrics.failed_frac(failed, n),
    }
    if "sources.stored_bytes_per_input_byte" in totals:
        e2e["stored_bytes_per_input_byte"] = totals["sources.stored_bytes_per_input_byte"]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "n": n,
        "tail_rank": metrics.tail_rank(n),
        "failed": failed,
        "errors": errors,
        "gen_s": gen_s,
        "window_s": window_s,
        "remeasured": len(retry),
        "input_bytes": wl.input_bytes(),
        "cpus": args.cpus,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": spark.version,
        "e2e": e2e,
        "latencies": list(zip(schedule, lat, steal)),
    }
    if args.trace:
        spans = tracer.spans[first_span:]
        layers = layer_metrics(spans, n, sum(lat), args.cpus)
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        layers.update(totals)
        layers["trace.overhead_frac"] = tracer.overhead_s / window_s
        layers["jvm.heap_live_mb"] = heap_live / 1e6
        result["layers"] = layers
        tracer.dump(os.path.join(run_dir, "spans.json"))
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
