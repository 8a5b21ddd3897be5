"""Loop-only isolation A/B — the direct measurement for per-iteration
loop-path changes (companion to tools/abba_bench.py / abba_phases.py).

Full-fit wall ABBA at sf0.1 bottoms out at ~±10% resolution on this
host (5-8 s fits, within-tree min spread of that order even in one
window).  When the change under test is per-ITERATION executor code,
measure the iteration directly instead: pack + rebalance ONCE, then run
the width-1 hist3d_mi_cmi_multi pass (the greedy loop's entire
per-iteration job without speculation) 30 times and
report min/median.  30 reps x interleaved subprocess runs resolves
~2-3% effects that the wall protocol cannot.

Usage: python tools/abba_loop_only.py TREE_A TREE_B [--sf-dir D]
       (runs A B B A; compare per-tree minima)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

RUNNER = r"""
import json, os, statistics, time
from flink_infotheoretic_feature_selection_spark.datasets import features_dense, FEATURE_NAMES
from flink_infotheoretic_feature_selection_spark.session import get_spark
from flink_infotheoretic_feature_selection_spark.operators.packed import PackedMatrix

spark = get_spark("loop-only", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
df = features_dense(spark, os.environ["SPARK_GRAFT_SF_DIR"])
feats = list(FEATURE_NAMES)
packed = PackedMatrix.pack(df, feats + ["label"])
dims, n = packed.dims_and_count()
packed = packed.rebalance(10, 60000)
# y=selected feature, z=label — the REAL loop's argument order
# (selector.py: hist3d_mi_cmi_multi(remaining, [best, ...], label, ...));
# an earlier draft swapped y/z, which transposes the histogram planes and
# would mis-measure any change asymmetric in the y/z roles
packed.hist3d_mi_cmi_multi(feats[:31], [feats[31]], "label", dims, n)  # warm-up
times = []
for i in range(30):
    t0 = time.perf_counter()
    packed.hist3d_mi_cmi_multi([f for f in feats if f != feats[i % 32]], [feats[i % 32]], "label", dims, n)
    times.append(time.perf_counter() - t0)
print("LOOP_RESULT " + json.dumps({
    "min": round(min(times), 4), "p50": round(statistics.median(times), 4),
    "mean": round(statistics.mean(times), 4)}))
"""


def run_tree(tree: str, sf_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(RUNNER)
        path = f.name
    try:
        proc = subprocess.run(
            [sys.executable, path], env=env, capture_output=True, text=True, timeout=3600
        )
        for line in proc.stdout.splitlines():
            if line.startswith("LOOP_RESULT "):
                return json.loads(line[len("LOOP_RESULT ") :])
        raise RuntimeError(
            f"runner in {tree} produced no result:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        )
    finally:
        os.unlink(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    runs = []
    for label, tree in (("A", args.tree_a), ("B", args.tree_b), ("B", args.tree_b), ("A", args.tree_a)):
        print(f"[loop-only] run {label} ({tree}) ...", file=sys.stderr, flush=True)
        runs.append((label, run_tree(tree, args.sf_dir)))
    report = {}
    for k in ("min", "p50", "mean"):
        a = [r[k] for lbl, r in runs if lbl == "A"]
        b = [r[k] for lbl, r in runs if lbl == "B"]
        report[k] = {"A_runs": a, "B_runs": b, "B_over_A": round(min(b) / min(a), 3)}
    print(json.dumps({"tree_a": args.tree_a, "tree_b": args.tree_b, "per_iter": report}, indent=2))


if __name__ == "__main__":
    main()
