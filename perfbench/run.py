"""Benchmark of the market-data engine: closed-loop workloads from one
client on local[<cpus>].

    python3 perfbench/run.py --workload athena_sql --seed 1 --seconds 20 --trace 0

Run from the repository root. This launcher pins the environment (cores,
worker PYTHONPATH, private scratch and Spark local dirs), runs the
workload in a child process (perfbench/worker.py), samples the child's
process tree from /proc for peak RSS, prints every metric by name with
its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones of a traced run.
Workloads, metrics and the layer each metric should move are listed in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import host_cpu_ticks, steal_share  # noqa: E402

STATE_DIR = os.path.join(ROOT, ".perfbench")
NEEDED = (
    "m2_b3_market_data_pipeline_spark/session.py",
    "__spark_entry__.py",
    "tools/make_seed_data.py",
    "tools/check_oracle.py",
)
RUN_TIMEOUT_S = 170
# The inputs are at most 17 MB. A fixed heap well below the 8 GB default
# keeps peak RSS from following the collector's growth policy run to run.
DRIVER_MEM = "2g"
PAGE = os.sysconf("SC_PAGE_SIZE")

def session_rss(sid: int) -> dict[int, int]:
    """RSS in bytes of every process in session ``sid``: the worker's
    Python driver, its JVM and the JVM's Python workers."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:  # fields[3] is the session id
                continue
            with open(f"/proc/{pid}/statm") as fh:
                out[int(pid)] = int(fh.read().split()[1]) * PAGE
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
    return out


def stop_session(child: subprocess.Popen) -> int:
    """Kill whatever is left in the worker's session, reap the worker and
    wait until the rest is gone; returns the worker's exit code."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    code = child.wait()
    deadline = time.monotonic() + 30
    while session_rss(child.pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    return code


def untraced_medians(workload: str) -> dict[str, tuple[float, int]]:
    """Median of each end-to-end metric over the untraced runs of
    ``workload`` kept under .perfbench/runs/."""
    runs_dir = os.path.join(STATE_DIR, "runs")
    values: dict[str, list[float]] = {}
    for name in os.listdir(runs_dir):
        path = os.path.join(runs_dir, name, "result.json")
        if not name.startswith(f"{workload}-") or not os.path.exists(path):
            continue
        with open(path) as fh:
            res = json.load(fh)
        if res["trace"] == 0 and "peak_rss_mb" in res["e2e"]:
            for metric, value in res["e2e"].items():
                values.setdefault(metric, []).append(value)
    return {m: (statistics.median(v), len(v)) for m, v in values.items() if statistics.median(v) > 0}


def pinned_env(run_dir: str, cpus: int) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        # The short-lived JVM spark-submit starts to build the driver's
        # command line would otherwise write its perf data under /tmp.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        PYTHONHASHSEED="0",
        PYTHONUNBUFFERED="1",
    )
    return env


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(STATE_DIR, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--out", out,
    ]  # fmt: skip
    cpu_before = host_cpu_ticks()
    t0 = time.monotonic()
    child = subprocess.Popen(
        cmd + ["--t0", repr(t0)],
        cwd=ROOT,
        env=pinned_env(run_dir, cpus),
        stdout=sys.stderr,
        start_new_session=True,
    )

    def interrupted(signum, _frame):
        stop_session(child)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    # A process counts from its second sample on. The JVM forks helpers
    # (Hadoop's local file system shells out for permissions), and a child
    # caught between fork and exec reports the JVM's whole RSS as its own.
    peak = 0
    prev: dict[int, int] = {}
    while child.poll() is None:
        cur = session_rss(child.pid)
        peak = max(peak, sum(rss for pid, rss in cur.items() if pid in prev))
        prev = cur
        if time.monotonic() - t0 > RUN_TIMEOUT_S:
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
            break
        time.sleep(0.1)
    code = stop_session(child)
    for scratch in ("market", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed with exit code {code}", file=sys.stderr)
        return 1
    with open(out) as fh:
        res = json.load(fh)
    res["e2e"]["peak_rss_mb"] = peak / 1e6
    res["wall_s"] = time.monotonic() - t0
    # A run with a high steal share measured a contended host as much as
    # the program.
    res["steal_frac"] = steal_share(cpu_before, host_cpu_ticks())
    with open(out, "w") as fh:
        json.dump(res, fh)

    print(
        f"workload={res['workload']} seed={res['seed']} trace={res['trace']} cpus={res['cpus']} "
        f"java={res['java']} pyspark={res['pyspark']} input_bytes={res['input_bytes']} "
        f"gen_s={res['gen_s']:.3f} window_s={res['window_s']:.3f} wall_s={res['wall_s']:.3f} "
        f"steal_frac={res['steal_frac']:.3f} remeasured_ops={res['remeasured']}"
    )
    for op, err in sorted(res["errors"].items()):
        print(f"FAILED {op}: {err}")
    for name, value in res["e2e"].items():
        extra = f"  (n={res['n']}, rank {res['tail_rank']} of 0..n-1 ascending)" if name == "op_tail_s" else ""
        print(f"{name:32s} {value:14.6f} {units.get(name, '')}{extra}")
    if args.trace:
        for name, value in sorted(res["layers"].items()):
            print(f"{name:48s} {value:18.6f} {units.get(name, '')}")
        untraced = untraced_medians(args.workload)
        for name, (median, runs) in untraced.items():
            if name not in units:
                continue
            delta = res["e2e"][name] / median - 1
            print(f"trace overhead {name}: {delta:+.1%} against the median of {runs} untraced runs")
        wanted = [m["name"] for m in spec["per_layer"]]
        source = res["layers"]
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        source = res["e2e"]
    report = {
        "correct": res["failed"] == 0,
        "attempted": res["n"],
        "failed": res["failed"],
        "metrics": {m: {"value": source[m], "unit": units[m]} for m in wanted},
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
