"""Selector-fit benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload tall_derived --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` once
and cached under ``.perfbench/`` (outside every measured window).  The
workload then runs in a fresh process on ``local[<cpus>]``; this process
times its set-up, samples the resident memory of its whole process tree
from ``/proc``, and prints one JSON result as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Every request's output is checked against the oracle.
Exits non-zero, printing no result, when the program is missing or a run
cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_infotheoretic_feature_selection_spark"
WORKLOADS = ("tall_derived", "discretize_mim", "sparse_long")
#: Driver JVM heap (the package defaults to 48g), committed and touched at
#: start-up: garbage the collector has no reason to reclaim then cannot set
#: the peak memory, and the heap adds this constant to it.
DRIVER_MEM = "1g"
#: Hard limit on one worker process, set-up and window included.
WORKER_TIMEOUT_S = 150


def _session_procs(sid: int) -> dict[int, int]:
    """pid -> parent pid of every process in session ``sid``."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        if int(fields[3]) == sid:
            procs[int(name)] = int(fields[1])
    return procs


def _rss_bytes(procs: dict[int, int]) -> int:
    """Resident bytes of the processes.  A child whose memory counters equal
    its parent's is a fork not yet exec'd (the JVM spawns helpers through
    vfork, whose child shares the whole JVM address space): it holds no
    memory of its own and is skipped."""
    statm = {}
    for pid in procs:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                statm[pid] = fh.read().split()[:3]
        except OSError:
            continue
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(
        int(m[1]) * page
        for pid, m in statm.items()
        if statm.get(procs[pid]) != m
    )


def _stop_session(sid: int) -> None:
    """Terminate whatever is left of the worker's session and wait for it."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        end = time.monotonic() + grace
        while (pids := list(_session_procs(sid))) and time.monotonic() < end:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        if not pids:
            return
    raise RuntimeError(f"processes {pids} of the worker session did not exit")


def run_worker(workload: str, data: str, seconds: int, trace: int, work: str) -> tuple[dict, float]:
    """Run one worker process; return its result and the peak RSS in bytes
    of its process tree (driver, JVM and Python workers)."""
    out = os.path.join(work, f"result-{os.getpid()}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"
                " -XX:+AlwaysPreTouch'",
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                "pyspark-shell",
            ]
        ),
    )
    cpus = len(os.sched_getaffinity(0))
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--data", data, "--seconds", str(seconds),
        "--trace", str(trace), "--cpus", str(cpus), "--out", out,
    ]
    peak = 0
    spawned = time.monotonic()
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        while proc.poll() is None:
            if time.monotonic() - spawned > WORKER_TIMEOUT_S:
                raise RuntimeError(f"worker exceeded {WORKER_TIMEOUT_S} s")
            peak = max(peak, _rss_bytes(_session_procs(proc.pid)))
            time.sleep(0.1)
    finally:
        _stop_session(proc.pid)
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    result["setup_s"] = result["ready"] - spawned
    return result, peak


def end_to_end(result: dict, peak_rss: int) -> dict:
    ok = result["attempted"] - result["failed"]
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "request_s.p50": {"value": statistics.median(result["request_s"]), "unit": "s"},
        "requests_per_s": {"value": ok / result["window_s"], "unit": "1/s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def per_layer(result: dict, workload: str, seed: int, work: str) -> dict:
    """Per-layer metrics of a traced run: times are medians over the traced
    requests; counts must repeat exactly between requests and between
    traced runs, and every count that does not is printed."""
    from tracing import EXACT, layer_metrics

    rows = [layer_metrics(spans) for spans in result["spans"]]
    if not rows:
        raise RuntimeError("no traced request completed correctly")
    for name in EXACT:
        seen = sorted({r[name] for r in rows})
        if len(seen) > 1:
            print(f"count {name} differs between requests: {seen}", file=sys.stderr)
    counts = {name: rows[0][name] for name in EXACT}
    path = os.path.join(work, "traces", f"{workload}-s{seed}.json")
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)["counts"]
        for name, value in counts.items():
            if before.get(name) != value:
                print(
                    f"count {name} differs from the previous traced run: "
                    f"{before.get(name)} then {value}",
                    file=sys.stderr,
                )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"counts": counts, "spans": result["spans"]}, fh)

    units = {"_s": "s", "_bytes": "B", "_ratio": "1"}
    metrics = {"session.start_s": {"value": result["session_start_s"], "unit": "s"}}
    for name in rows[0]:
        unit = next((u for suffix, u in units.items() if name.endswith(suffix)), "count")
        value = rows[0][name] if name in EXACT else statistics.median(r[name] for r in rows)
        metrics[name] = {"value": value, "unit": unit}
    metrics["trace.overhead_ratio"] = {
        "value": statistics.median(result["traced_s"])
        / statistics.median(result["untraced_s"]) - 1.0,
        "unit": "1",
    }
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker processes (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from inputs import prepare

    work = os.path.join(ROOT, ".perfbench")
    data = prepare(args.workload, args.seed, work)
    result, peak = run_worker(args.workload, data, args.seconds, args.trace, work)
    failed = result["failed"]
    print(
        f"{args.workload} seed {args.seed}: {result['attempted']} requests, "
        f"{failed} failed (failed_ratio {failed / result['attempted']:.3f}), "
        f"warm-up failures {result['warmup_failures']}; imports "
        f"{result['imports_s']:.2f} s, session {result['session_start_s']:.2f} s, "
        f"warm-up {[round(t, 2) for t in result['warmup_s']]} s, "
        f"requests {[round(t, 2) for t in result['request_s']]} s",
        file=sys.stderr,
    )
    metrics = (
        per_layer(result, args.workload, args.seed, work)
        if args.trace
        else end_to_end(result, peak)
    )
    print(
        json.dumps(
            {
                "correct": failed == 0 and not result["warmup_failures"],
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
