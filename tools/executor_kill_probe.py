"""Executor-loss fault-tolerance probe (r11, VERDICT r10 ask #4).

At 100 TB scale executors WILL die mid-fit, and the greedy loop's
correctness rests on the persisted packed-block RDD recomputing
deterministically through lineage (``mapInArrow`` pack → pickle blocks).
This probe proves it on ``local-cluster[2,4,2048]`` — two REAL executor
JVMs — in two lanes:

1. **lost-cache lane**: pack + materialize the blocks, then SIGKILL one
   executor JVM (its block-manager's cached blocks vanish), then run the
   full greedy fit.  Every task that lands on a lost block must
   recompute it from the parquet source via lineage.
2. **mid-loop lane**: start a fresh fit and SIGKILL an executor from a
   background thread partway through the measured reference duration —
   in-flight tasks fail and retry on the surviving/relaunched executor.

Both lanes must produce BIT-IDENTICAL selection paths (q5-rounded like
the cross-deployment lane) to the undisturbed reference fit.

Usage: ``python tools/executor_kill_probe.py <config.json>``; results as
the LAST stdout line (JSON).
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _executor_pids(app_id: str) -> list[int]:
    """PIDs of this app's CoarseGrainedExecutorBackend JVMs (procfs scan;
    matched on the --app-id argument so a concurrent session on the same
    box can never be hit)."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd and app_id in cmd:
            pids.append(int(p))
    return sorted(pids)


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[2,4,2048]")
        .appName("executor_kill_probe")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "1536m")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId
    out: dict = {}

    from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix
    from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector

    matrix, feats, k = cfg["matrix"], cfg["feats"], cfg.get("k", 6)
    # the probe's matrix fits the local regime, whose loop runs no Spark
    # job for an executor loss to hit: keep every loop pass on Spark
    InfoThSelector.LOCAL_MAX_BYTES = 0

    def q5_path(model):
        return [[c, round(float(s), 5)] for c, s in model.selection_path]

    def sel():
        return InfoThSelector(
            n_to_select=k, criterion="mrmr", feature_cols=feats, emit_f32=False
        )

    # ---- undisturbed reference --------------------------------------
    t0 = time.perf_counter()
    ref = sel().fit_parquet(spark, matrix)
    ref_sec = time.perf_counter() - t0
    out["ref_selection"] = q5_path(ref)
    out["ref_sec"] = round(ref_sec, 2)

    # wait for both executors (startup can lag the first job)
    for _ in range(60):
        pids = _executor_pids(app_id)
        if len(pids) >= 2:
            break
        time.sleep(1)
    out["executors_before"] = len(pids)

    # ---- lane 1: kill AFTER the blocks materialize, fit on the wreck ---
    packed = PackedMatrix.pack_parquet(
        spark, matrix, feats + ["label"], rows_per_partition=4096
    )
    packed.dims_and_count()  # blocks now cached on both executors
    victim = pids[0]
    os.kill(victim, signal.SIGKILL)
    out["lane1_killed_pid"] = victim
    time.sleep(1)  # let the scheduler notice the loss
    m1 = sel()._fit_from_packed(packed, feats, "label", {})
    out["lane1_selection"] = q5_path(m1)

    # ---- lane 2: kill MID-FIT, event-driven ---------------------------
    # r12: the r11 form slept 40% of the REFERENCE fit duration, which
    # races a page-cache-warm lane2 fit (seen in the full-suite run:
    # fit 2.43 s, kill landed just after the end — flag False, test red).
    # Now the killer POLLS the status tracker and fires after the fit
    # has completed `jobs_in` jobs — pack takes ~2, stats ~2, then one
    # job per greedy iteration, so +4 lands inside the loop regardless
    # of host speed.  One retry at an earlier mark covers the residual
    # race on an absurdly fast fit.
    st = spark.sparkContext.statusTracker()

    def run_lane2(jobs_in: int) -> dict:
        kill_state: dict = {}
        done = threading.Event()
        base = max(st.getJobIdsForGroup() or [-1])

        def killer():
            # done-flag exit (r12 review find): without it a killer that
            # never reaches its job mark stays armed past t.join and can
            # fire a SECOND kill into the retry lane's fit
            while not done.is_set():
                ids = st.getJobIdsForGroup() or []
                if ids and max(ids) >= base + jobs_in:
                    break
                time.sleep(0.02)
            if done.is_set():
                kill_state["pid"] = None
                return
            for p in _executor_pids(app_id):
                if p != victim:
                    os.kill(p, signal.SIGKILL)
                    kill_state["pid"] = p
                    kill_state["at"] = time.perf_counter()
                    return
            kill_state["pid"] = None

        t = threading.Thread(target=killer, daemon=True)
        t_fit0 = time.perf_counter()
        t.start()
        m2 = sel().fit_parquet(spark, matrix)
        t_fit_end = time.perf_counter()
        done.set()
        t.join(timeout=60)
        return {
            "selection": q5_path(m2),
            "pid": kill_state.get("pid"),
            "before_end": bool(
                kill_state.get("at") is not None and kill_state["at"] < t_fit_end
            ),
            "fit_sec": round(t_fit_end - t_fit0, 2),
        }

    lane2 = run_lane2(jobs_in=4)
    if not (lane2["pid"] and lane2["before_end"]):
        # executor respawn after the late kill (standalone workers
        # relaunch backends); then retry with the earliest useful mark
        for _ in range(60):
            if len([p for p in _executor_pids(app_id) if p != victim]) >= 1:
                break
            time.sleep(1)
        lane2 = run_lane2(jobs_in=1)
        out["lane2_retried"] = True
    out["lane2_selection"] = lane2["selection"]
    out["lane2_killed_pid"] = lane2["pid"]
    out["lane2_killed_before_fit_end"] = lane2["before_end"]
    out["lane2_fit_sec"] = lane2["fit_sec"]

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1])
