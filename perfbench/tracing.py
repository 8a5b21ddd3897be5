"""Outside-in layer trace: spans recorded around calls into the program.

:meth:`Tracer.install` wraps the public entry points of each layer
(``PackedMatrix``'s passes, the dense and sparse selectors' fits, the
discretizer's fit) and the serving transform (``workloads.serve``:
``InfoThSelectorModel.transform`` plus the action that reads its output,
since the transform alone is lazy and runs no job).  While :attr:`Tracer.active` is set, every wrapped call
records a span — name, start, end, parent span, request id — under a Spark
job group of its own.  Right after the span ends, the jobs of that group
are read from ``statusTracker()`` and their stages from the JVM status
store (tasks, failed tasks, executor run time, shuffle bytes), before the
store can evict them.  While inactive the wrappers call straight through.
Spans stay in memory; :func:`layer_metrics` folds one request's spans into
the per-layer metrics.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

# (owner, attribute, span name) of every wrapped entry point; an owner is
# "module:Class", or a bare module for a function
_PACKED = "flink_infotheoretic_feature_selection_spark.operators.packed:PackedMatrix"
_SELECTOR = "flink_infotheoretic_feature_selection_spark.selector:InfoThSelector"
_SPARSE = "flink_infotheoretic_feature_selection_spark.selector:SparseInfoThSelector"
_DISC = "flink_infotheoretic_feature_selection_spark.discretizer:EqualFrequencyDiscretizer"
TRACED = [
    (_PACKED, "pack", "packed.pack"),
    (_PACKED, "pack_parquet", "packed.pack"),
    (_PACKED, "dims_count_hist2d", "packed.stats"),
    (_PACKED, "dims_and_count", "packed.stats"),
    (_PACKED, "rebalance", "packed.rebalance"),
    (_PACKED, "relevances", "packed.relevances"),
    (_PACKED, "hist3d_mi_cmi_multi", "packed.loop"),
    (_SELECTOR, "fit", "selector.fit"),
    ("workloads", "serve", "selector.transform"),
    (_DISC, "fit", "discretizer.fit"),
    (_SPARSE, "fit", "sparse.fit"),
]

_COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_ms", "shuffle_write")


def _span_attrs(name: str, args: tuple, kwargs: dict) -> dict:
    """Inputs a span records besides its counters: the conds a loop pass
    scores, and the passes a fit needs (k - 1, none for MIM)."""
    if name == "packed.loop":
        y_cols = kwargs["y_cols"] if "y_cols" in kwargs else args[2]
        return {"conds": len(y_cols)}
    if name == "selector.fit":
        sel = args[0]
        return {"needed": 0 if sel.criterion.lower() == "mim" else sel.n_to_select - 1}
    return {}


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.active = False
        self.request: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list[tuple] = []
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)
        ]

    # -- wrapping ------------------------------------------------------------

    def install(self) -> None:
        import importlib

        for owner, attr, name in TRACED:
            mod, _, cls_name = owner.partition(":")
            cls = importlib.import_module(mod)
            if cls_name:
                cls = getattr(cls, cls_name)
            raw = cls.__dict__[attr]
            self._restore.append((cls, attr, raw))
            if isinstance(raw, classmethod):
                setattr(cls, attr, classmethod(self._wrap(raw.__func__, name)))
            else:
                setattr(cls, attr, self._wrap(raw, name))

    def uninstall(self) -> None:
        for cls, attr, raw in reversed(self._restore):
            setattr(cls, attr, raw)
        self._restore.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, **_span_attrs(name, args, kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "request": self.request,
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        rec["group"] = f"perfbench-span-{self.request}-{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._read_counters(rec)
            rec["read_s"] = time.perf_counter() - rec["end"]
            self.spans.append(rec)

    def _read_counters(self, rec: dict) -> None:
        """The span's own jobs (children have groups of their own), read
        once the listener bus has delivered every event of those jobs."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        counts = dict.fromkeys(_COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(rec["group"]):
            counts["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                attempts = self._store.stageData(int(stage_id), *self._stage_defaults)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    counts["tasks"] += st.numCompleteTasks()
                    counts["failed_tasks"] += st.numFailedTasks()
                    counts["executor_ms"] += st.executorRunTime()
                    counts["shuffle_write"] += st.shuffleWriteBytes()
        rec.update(counts)


def _inclusive(spans: list[dict]) -> dict[int, dict]:
    """Per span id: counters summed over the span and its descendants,
    plus ``child_s`` — the part of the span's interval its children and
    their counter reads cover."""
    by_id = {s["id"]: {k: s[k] for k in _COUNTERS} | {"child_s": 0.0} for s in spans}
    # children end (and are appended) before their parents
    for s in spans:
        if s["parent"] is not None and s["parent"] in by_id:
            p = by_id[s["parent"]]
            for k in _COUNTERS:
                p[k] += by_id[s["id"]][k]
            p["child_s"] += (s["end"] - s["start"]) + s["read_s"]
    return by_id


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """One request's per-layer metrics.  Layers that did not run report 0."""
    inc = _inclusive(spans)

    def of(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def secs(name: str) -> float:
        return sum((s["end"] - s["start"] for s in of(name)), 0.0)

    def total(name: str, counter: str) -> int:
        return sum(inc[s["id"]][counter] for s in of(name))

    fits = of("selector.fit")
    conds = sum(s["conds"] for s in of("packed.loop"))
    needed = sum(s["needed"] for s in fits)
    return {
        "packed.pack_s": secs("packed.pack"),
        "packed.pack_jobs": total("packed.pack", "jobs"),
        "packed.pack_tasks": total("packed.pack", "tasks"),
        "packed.stats_s": secs("packed.stats"),
        "packed.relevances_s": secs("packed.relevances"),
        "packed.rebalance_s": secs("packed.rebalance"),
        "packed.rebalance_calls": len(of("packed.rebalance")),
        "packed.loop_passes": len(of("packed.loop")),
        "packed.loop_s": secs("packed.loop"),
        "packed.loop_tasks": total("packed.loop", "tasks"),
        "packed.loop_shuffle_bytes": total("packed.loop", "shuffle_write"),
        "packed.loop_conds": conds,
        "selector.fit_s": secs("selector.fit"),
        "selector.self_s": sum(
            (s["end"] - s["start"]) - inc[s["id"]]["child_s"] for s in fits
        ),
        "selector.jobs": total("selector.fit", "jobs"),
        "selector.tasks": total("selector.fit", "tasks"),
        "selector.failed_tasks": total("selector.fit", "failed_tasks"),
        "selector.executor_s": total("selector.fit", "executor_ms") / 1000.0,
        "selector.spec_useful_ratio": needed / conds if conds else 0.0,
        "selector.transform_s": secs("selector.transform"),
        "discretizer.fit_s": secs("discretizer.fit"),
        "discretizer.fit_jobs": total("discretizer.fit", "jobs"),
        "sparse.fit_s": secs("sparse.fit"),
        "sparse.jobs": total("sparse.fit", "jobs"),
        "sparse.shuffle_bytes": total("sparse.fit", "shuffle_write"),
    }


#: Per-layer metrics that are counts: they must repeat exactly between
#: requests and between traced runs of the same code and inputs.
EXACT = (
    "packed.pack_jobs", "packed.pack_tasks", "packed.rebalance_calls",
    "packed.loop_passes", "packed.loop_tasks", "packed.loop_conds",
    "selector.jobs", "selector.tasks", "selector.failed_tasks",
    "discretizer.fit_jobs", "sparse.jobs",
)
