"""One benchmark process: set up, warm up, then one closed-loop client.

Started by ``run.py``, never imported.  It writes a JSON result to
``--out``; ``run.py`` turns that into the benchmark's result line.

Set-up (everything before ``ready``): imports, ``get_spark`` (JVM start),
the first Spark jobs and ``WARMUP`` untimed, checked warm-up requests.
Then the timed window: the next request is sent only when the previous one
returned, until ``--seconds`` have passed; the request under way when the
window closes still completes and counts.  With ``--trace 1`` the window
alternates traced and untraced requests, so the two medians give the
trace's own overhead.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback

T0 = time.perf_counter()

#: Untimed warm-up requests.  After only one, the next request still ran
#: 10-20 % slower than later ones on a 4-vCPU host.
WARMUP = 2


def _one(workload, tracer=None, request_id=None):
    """Send one request; return (seconds, failure reason or None, spans)."""
    spans = []
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = workload.request()
        else:
            tracer.request, tracer.active = request_id, True
            n0 = len(tracer.spans)
            try:
                with tracer.span("request"):
                    out = workload.request()
            finally:
                tracer.active = False
            spans = tracer.spans[n0:]
        dt = time.perf_counter() - t0
    except Exception:  # a failed request is counted, not fatal
        traceback.print_exc()
        return time.perf_counter() - t0, "raised", spans
    return dt, workload.check(out), spans


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from flink_infotheoretic_feature_selection_spark.session import get_spark
    from workloads import open_workload

    t = time.perf_counter()
    imports_s = t - T0
    spark = get_spark("perfbench", cpus=args.cpus)
    session_start_s = time.perf_counter() - t
    try:
        workload = open_workload(spark, args.workload, args.data)
        warmup = [_one(workload)[:2] for _ in range(WARMUP)]
        ready = time.monotonic()

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        times, traced, untraced, failures = [], [], [], []
        per_request: list[list[dict]] = []
        deadline = time.perf_counter() + args.seconds
        t_window = time.perf_counter()
        # a traced window needs one untraced request to measure the overhead
        while time.perf_counter() < deadline or (tracer is not None and not untraced):
            use_trace = tracer is not None and len(times) % 2 == 0
            dt, reason, spans = _one(workload, tracer if use_trace else None, len(times))
            times.append(dt)
            (traced if use_trace else untraced).append(dt)
            if reason:
                failures.append(reason)
                print(f"request {len(times)} failed: {reason}", file=sys.stderr)
            elif use_trace:
                per_request.append(spans)
        window_s = time.perf_counter() - t_window
        if tracer is not None:
            tracer.uninstall()

        result = {
            "ready": ready,
            "imports_s": imports_s,
            "session_start_s": session_start_s,
            "warmup_s": [dt for dt, _ in warmup],
            "warmup_failures": [r for _, r in warmup if r],
            "attempted": len(times),
            "failed": len(failures),
            "request_s": times,
            "window_s": window_s,
        }
        if tracer is not None:
            result["traced_s"] = traced
            result["untraced_s"] = untraced
            result["spans"] = per_request
        with open(args.out, "w") as fh:
            json.dump(result, fh)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
