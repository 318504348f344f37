"""Metric arithmetic of the benchmark. Pure Python, no Spark, so it is
testable on synthetic inputs (see test_metrics.py)."""

from __future__ import annotations

from collections import defaultdict

def tail_rank(n: int) -> int:
    """0-based index, in ascending order, of the nearest-rank p90 of n
    latencies: ceil(0.9 n) - 1, in integers."""
    if n < 1:
        raise ValueError("no latencies")
    return (9 * n + 9) // 10 - 1


def tail_latency(latencies: list[float]) -> float:
    ordered = sorted(latencies)
    return ordered[tail_rank(len(ordered))]


def ops_per_s(completed: int, op_wall_s: list[float]) -> float:
    """Ops completed over the summed wall time of all attempted ops."""
    total = sum(op_wall_s)
    if total <= 0:
        raise ValueError("no op time was measured")
    return completed / total


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no op was attempted")
    return failed / attempted


def remeasure_order(stolen: list[float], ok: list[bool], max_share: float) -> list[int]:
    """Indices of the ops to measure again: those that succeeded while the
    host's steal share was above ``max_share``, the most-stolen first, at
    most a quarter of all ops."""
    picked = [i for i, (s, good) in enumerate(zip(stolen, ok)) if good and s > max_share]
    return sorted(picked, key=lambda i: -stolen[i])[: len(stolen) // 4]


# -- host ---------------------------------------------------------------------


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two host_cpu_ticks() readings that
    were steal: time the virtual CPUs were runnable but the hypervisor ran
    something else. 0.0 when no tick passed."""
    ticks = [b - a for a, b in zip(before, after)]
    total = sum(ticks)
    return ticks[7] / total if total > 0 else 0.0


# -- spans --------------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the durations of its
    direct children. Spans are dicts with ``id``, ``parent`` (an id or
    None), ``start`` and ``end``."""
    child_total: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_total[s["id"]] for s in spans}


def layer_self_time(spans: list[dict]) -> dict[str, float]:
    """Summed self time per layer (a span's ``layer``)."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += own[s["id"]]
    return dict(out)


# -- Spark status-store counters ----------------------------------------------

# Per-stage counters of the status store; a span's value sums the stages
# created while it was open.
STAGE_COUNTERS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
    "spill_bytes",
    "input_rows",
)


def counter_delta(before: dict, after: dict) -> dict:
    """Spark counters accrued between two status-store snapshots.

    A snapshot holds ``jobs`` (jobs submitted so far), ``max_stage_id``
    (the highest stage id created, -1 when none) and ``stages``:
    ``{stage id: {STAGE_COUNTERS}}``. Counters are summed over the stages
    whose id is above the earlier snapshot's highest id, so stages the
    store evicts later never turn a delta negative."""
    new_stages = [v for k, v in after["stages"].items() if k > before["max_stage_id"]]
    out = {"jobs": after["jobs"] - before["jobs"], "stages": len(new_stages)}
    for key in STAGE_COUNTERS:
        out[key] = sum(st[key] for st in new_stages)
    return out


def spark_layer(delta: dict, wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics from a counter delta over
    ``wall_s`` seconds on ``cores`` cores."""
    run_s = delta["executor_run_ms"] / 1e3
    return {
        "spark.jobs": float(delta["jobs"]),
        "spark.stages": float(delta["stages"]),
        "spark.tasks": float(delta["tasks"]),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": delta["executor_cpu_ns"] / 1e9,
        "spark.gc_s": delta["gc_ms"] / 1e3,
        "spark.shuffle_read_bytes": float(delta["shuffle_read_bytes"]),
        "spark.shuffle_write_bytes": float(delta["shuffle_write_bytes"]),
        "spark.shuffle_fetch_wait_s": delta["shuffle_fetch_wait_ms"] / 1e3,
        "spark.spill_bytes": float(delta["spill_bytes"]),
        "spark.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def add_deltas(deltas: list[dict]) -> dict:
    out: dict = defaultdict(float)
    for d in deltas:
        for k, v in d.items():
            out[k] += v
    return dict(out)
