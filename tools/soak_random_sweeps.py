"""Wide-seed soak of every randomized cross-engine sweep.

The committed sweeps pin 2-4 seeds each (kept small so the suite stays
fast); this driver re-runs the SAME property functions over a much wider
seed range to hunt rarer divergences.  Results are printed per
(property, seed); any failure is a real cross-engine or stream-vs-batch
divergence to investigate, never noise — every property is constructed
to be exact.

Usage: python tools/soak_random_sweeps.py [n_seeds] [seed_base]
(default 20 seeds starting at 100; streaming properties run a thinner
slice since each drains 3+ real micro-batches)
"""

from __future__ import annotations

import importlib.util
import os
import pathlib
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_infotheoretic_feature_selection_spark.session import get_spark  # noqa: E402


def _load(name: str):
    path = pathlib.Path(__file__).resolve().parent.parent / "tests" / name
    spec = importlib.util.spec_from_file_location(name[:-3], path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    base = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark("soak", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))

    corpus = _load("test_random_corpus_gate_sweep.py")
    events = _load("test_random_events_gate_sweep.py")
    matrix = _load("test_random_matrix_gate_sweep.py")
    wide = _load("test_random_wide_matrix_sweep.py")
    embeds = _load("test_random_embeddings_gate_sweep.py")
    keel = _load("test_random_keel_gate_sweep.py")
    jsonl = _load("test_random_jsonl_gate_sweep.py")
    streaming = _load("test_random_streaming_sweep.py")

    seeds = list(range(base, base + n_seeds))
    thin = seeds[:: max(1, n_seeds // 5)]  # streaming slice
    jobs = []
    for s in seeds:
        jobs.append(("corpus", s, lambda d, s=s: corpus.test_documents_gates_cross_engine_on_random_corpus(spark, d, s)))
        jobs.append(("simhash64_md5", s, lambda d, s=s: corpus.test_simhash64_family_cross_engine_via_md5_twin(spark, d, s)))
        jobs.append(("events", s, lambda d, s=s: events.test_events_gates_cross_engine_on_random_events(spark, d, s)))
        jobs.append(("embeddings", s, lambda d, s=s: embeds.test_embeddings_gates_cross_engine_on_random_vectors(spark, d, s)))
        jobs.append(("keel", s, lambda d, s=s: keel.test_keel_reader_cross_engine_on_random_files(spark, d, s)))
        jobs.append(("jsonl", s, lambda d, s=s: jsonl.test_jsonl_reader_cross_engine_on_random_dirs(spark, d, s)))
        jobs.append(("matrix", s, lambda d, s=s: matrix.test_core_gates_cross_engine_on_random_matrix(spark, d, s, 120)))
        jobs.append(("media", s, lambda d, s=s: corpus.test_media_gates_on_ascii_corpus_with_nulls(spark, d, s)))
    def _matrix_distmerge(d, s):
        # r9 (verdict ask #7): force the DISTRIBUTED merge regime —
        # combineByKey int64 partials on the dense packed substrate —
        # under the randomized cross-engine sweep.  The default lanes
        # above run the random shapes (far under 32 MB) in the local
        # regime, every pass on the driver, so without this lane the
        # distributed branch only ever ran in test_packed's fixed cases;
        # the local regime is switched off here for that reason — for the
        # dense fits and for SparseInfoThSelector's local route, which
        # reads the same bound, so the sparse gates take the SQL route.
        # Both attrs restored in finally: packed.py and the selector read
        # them at call time.
        from flink_infotheoretic_feature_selection_spark.operators import histogram
        from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector

        prev = histogram.BLOB_DRIVER_MERGE_MAX_BYTES
        prev_local = InfoThSelector.LOCAL_MAX_BYTES
        histogram.BLOB_DRIVER_MERGE_MAX_BYTES = 0
        InfoThSelector.LOCAL_MAX_BYTES = 0
        try:
            matrix.test_core_gates_cross_engine_on_random_matrix(spark, d, s, 120)
        finally:
            histogram.BLOB_DRIVER_MERGE_MAX_BYTES = prev
            InfoThSelector.LOCAL_MAX_BYTES = prev_local

    for s in thin:
        # r12: writer->reader closure legs (KEEL write-back + JSONL export)
        jobs.append(("keel_write", s, lambda d, s=s: keel.test_keel_write_roundtrip_on_random_files(spark, d, s)))
        jobs.append(("jsonl_write", s, lambda d, s=s: jsonl.test_jsonl_write_read_roundtrip_random(spark, d, s)))
        jobs.append(("matrix_distmerge", s, lambda d, s=s: _matrix_distmerge(d, s)))
        # r9: random wide shapes (150-320 features) through the pack
        # fast path vs the parameterized rid-join oracle; r10 crosses
        # criterion (all five update algebras) x pack route by seed
        _crit = ("mrmr", "cmim", "jmi", "icap", "mifs")[s % 5]
        _route = ("scan", "auto")[s % 2]
        # NOTE: the lane name becomes the tmp DIRECTORY name — keep it
        # glob-safe (no brackets: Hadoop's path globber rejects `[`)
        jobs.append((
            f"wide_matrix.{_crit}.{_route}", s,
            lambda d, s=s, c=_crit, r=_route:
            wide.test_wide_selection_cross_engine_on_random_matrix(spark, d, s, c, r),
        ))
        jobs.append(("stream_window", s, lambda d, s=s: streaming.test_windowed_agg_complete_mode_equals_batch_on_disorder(spark, d, s)))
        jobs.append(("stream_dedup", s, lambda d, s=s: streaming.test_streaming_dedup_catches_cross_batch_duplicates(spark, d, s)))
        jobs.append(("stream_sessionize", s, lambda d, s=s: streaming.test_sessionize_complete_mode_merges_sessions_across_batches(spark, d, s)))
        jobs.append(("stream_decontaminate", s, lambda d, s=s: streaming.test_stream_decontaminate_equals_batch_flags(spark, d, s)))
        jobs.append(("stream_neardup", s, lambda d, s=s: streaming.test_stream_neardup_candidates_equals_brute_force(spark, d, s)))

    failures = []
    root = pathlib.Path(tempfile.mkdtemp(prefix="soak_"))
    for i, (name, seed, fn) in enumerate(jobs):
        d = root / f"{name}_{seed}"
        d.mkdir(parents=True, exist_ok=True)
        try:
            fn(d)
            print(f"[{i + 1}/{len(jobs)}] PASS {name} seed={seed}", flush=True)
        except AssertionError as exc:
            failures.append((name, seed, str(exc)[:2000]))
            print(f"[{i + 1}/{len(jobs)}] FAIL {name} seed={seed}: {exc}", flush=True)
        except Exception:
            failures.append((name, seed, traceback.format_exc()[-2000:]))
            print(f"[{i + 1}/{len(jobs)}] ERR  {name} seed={seed}", flush=True)
            traceback.print_exc()

    print(f"\nsoak done: {len(jobs) - len(failures)}/{len(jobs)} passed")
    for name, seed, msg in failures:
        print(f"--- {name} seed={seed}\n{msg}\n")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
