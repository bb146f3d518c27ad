"""Spans around the engine's layer boundaries, measured from outside.

The tracer wraps each layer's public functions (and the
``DataFrame.localCheckpoint/persist/cache`` methods for the ``materialize``
layer). A span records name, layer, start, end, parent and the Spark job
group it set; Spark's own stage metrics for those groups are read back from
the status store after the timed passes. Nothing here starts a Spark job: the status
tracker, the status store, ``getRDDStorageInfo`` and the streaming listener
are all driver-side reads.

Jobs a streaming query runs carry the query's ``runId`` as their job group;
the listener maps each run to the pass that started it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import statistics
import sys
import time

PKG = "pyspark_weather_forecasting_gsod_spark"

# layer -> (module, which public functions): a tuple of names, a name prefix,
# or None for every public function. ``plans`` spans are opened by the
# workloads around registry calls, ``materialize`` wraps DataFrame methods.
LAYER_MODULES: dict[str, list[tuple[str, tuple[str, ...] | str | None]]] = {
    "session": [("session", ("get_spark",))],
    "sources": [
        ("sources.io", ("read_csv", "load_table", "write_parquet")),
        ("sources.merge", ("merge_upsert",)),
        ("sources.versioned", ("write_version",)),
    ],
    "operators.quality": [("operators.quality", None)],
    "operators.impute": [("operators.impute", None)],
    "operators.windows": [("operators.windows", None)],
    "ml.features": [("ml.features", None)],
    "ml.models": [("ml.models", None)],
    "ext.dedup": [("ext.dedup", None)],
    "ext.similarity": [("ext.similarity", None)],
    "ext.text": [("ext.text", None)],
    "streaming": [
        ("streaming.stream", "run_"),
        ("streaming.stateful", ("streaming_user_totals",)),
        ("streaming.scd2_stream", ("run_streaming_scd2",)),
        ("streaming.topk_state", ("streaming_user_topk",)),
    ],
}
# ``unwrapped`` is each operation's own span: the work it runs outside every
# wrapped function, above all the collect that executes a lazy plan
LAYERS = ["session", "sources", "plans", "operators.quality",
          "operators.impute", "operators.windows", "materialize",
          "ml.features", "ml.models", "ext.dedup", "ext.similarity",
          "ext.text", "streaming", "unwrapped"]
COMMON = ["wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_mb",
          "spill_mb", "gc_s"]
MATERIALIZE_METHODS = ("localCheckpoint", "persist", "cache")
MB = 1024.0 * 1024.0


def per_layer_names() -> list[str]:
    """Every per-layer metric the traced run reports, in output order."""
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON]
    return names + [
        "plans.eager_jobs", "sources.read.input_mb", "sources.write.output_mb",
        "sources.write.amplification", "materialize.count",
        "materialize.stored_mb", "ml.models.lr_iterations", "streaming.batches",
        "streaming.batch_p50_ms", "streaming.state_rows",
        "streaming.state_commit_ms", "trace.pass_s",
    ]


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[1]
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last == "amplification":
        return "ratio"
    return "count"


class Tracer:
    """Records spans while ``active``; wrappers are pass-through otherwise."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.pass_no = -1
        self.sc = None
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.lr_iterations: list[int] = []
        self.stream_runs: dict[str, int] = {}  # streaming runId -> pass
        self.progress: list[dict] = []
        self._seen_stages: set[int] = set()

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None, "pass": self.pass_no,
               "group": None, "start": time.perf_counter(), "end": None,
               "child_s": 0.0}
        # nested calls inside one layer share the outer span's job group,
        # which saves two py4j calls per helper invocation
        own_group = parent is None or parent["layer"] != layer
        prev = None
        if own_group and self.sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        else:
            rec["group"] = parent["group"] if parent else None
        self.stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if own_group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
            self.spans.append(rec)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if name == "train_linear_regression":
                    tracer._lr_route(out)
                if layer == "materialize" and rec is not None:
                    rec["stored_mb"] = tracer.stored_mb()
                return out

        return wrapper

    def _lr_route(self, model) -> None:
        # objectiveHistory is [0.0] on the normal-equation (Cholesky) path
        # and one entry per L-BFGS iteration on the quasi-Newton fallback
        try:
            self.lr_iterations.append(len(model.summary.objectiveHistory))
        except Exception:  # noqa: BLE001 - no training summary
            pass

    # -- installation --------------------------------------------------
    def install(self) -> None:
        """Wrap every layer's public functions at their definition and at
        every module of the engine that imported them by name."""
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # PySpark 3: one DataFrame class
            from pyspark.sql import DataFrame

        targets: dict[int, tuple[object, str, str]] = {}
        for layer, specs in LAYER_MODULES.items():
            for mod_name, which in specs:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for attr, obj in vars(mod).items():
                    if not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
                        continue
                    if attr.startswith("_"):
                        continue
                    if isinstance(which, str) and not attr.startswith(which):
                        continue
                    if isinstance(which, tuple) and attr not in which:
                        continue
                    targets[id(obj)] = (obj, attr, layer)
        wrappers = {k: self._wrap(obj, attr, layer)
                    for k, (obj, attr, layer) in targets.items()}
        for mod in [m for n, m in sys.modules.items()
                    if n == PKG or n.startswith(PKG + ".")]:
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrappers and obj is targets[id(obj)][0]:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, wrappers[id(obj)])
        for meth in MATERIALIZE_METHODS:
            orig = getattr(DataFrame, meth)
            self._patched.append((DataFrame, meth, orig))
            setattr(DataFrame, meth, self._wrap(orig, meth, "materialize"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- driver-side reads ----------------------------------------------
    def stored_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        """Sum Spark's stage metrics over every job of ``groups``. A stage
        shared by several jobs (a reused shuffle) is counted once."""
        sc = self.sc
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        tot = dict.fromkeys(["jobs", "tasks", "exec_cpu_s", "shuffle_write_mb",
                             "spill_mb", "gc_s", "input_mb", "output_mb"], 0.0)
        for group in groups:
            for jid in sc.statusTracker().getJobIdsForGroup(group):
                info = sc.statusTracker().getJobInfo(jid)
                if info is None:
                    continue
                tot["jobs"] += 1
                for sid in info.stageIds:
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - never ran (skipped)
                        continue
                    tot["tasks"] += st.numCompleteTasks()
                    tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    tot["spill_mb"] += st.diskBytesSpilled() / MB
                    tot["gc_s"] += st.jvmGcTime() / 1e3
                    tot["input_mb"] += st.inputBytes() / MB
                    tot["output_mb"] += st.outputBytes() / MB
        return tot

    def wait_listeners(self) -> None:
        """Let the status store catch up with the jobs that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001

    # -- streaming listener --------------------------------------------
    def make_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            # called on py4j's callback thread; dict and list updates are
            # atomic under the GIL
            def onQueryStarted(self, event):
                tracer.stream_runs[str(event.runId)] = tracer.pass_no

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append({
                    "pass": tracer.stream_runs.get(str(p.runId)),
                    "batch_ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                })

            def onQueryTerminated(self, event):
                pass

        return Listener()

    # -- report ----------------------------------------------------------
    def layer_metrics(self, passes: list[int], pass_walls: list[float],
                      incoming_mb: float) -> dict[str, float]:
        """Per-layer metrics averaged over the traced passes ``passes``."""
        n = max(1, len(passes))
        # the session starts once per set-up, before the first pass; its
        # wall time is the mean over those starts
        keep = [s for s in self.spans if s["pass"] in passes
                or (s["layer"] == "session" and s["pass"] == -1)]
        n_sessions = max(1, sum(s["layer"] == "session" for s in keep))
        out = {name: 0.0 for name in per_layer_names()}
        by_id = {s["id"]: s for s in keep}
        groups: dict[str, list[str]] = {layer: [] for layer in LAYERS}
        for s in keep:
            per = n_sessions if s["layer"] == "session" else n
            out[f"{s['layer']}.wall_s"] += (s["end"] - s["start"] - s["child_s"]) / per
            parent = by_id.get(s["parent"])
            if s["group"] and (parent is None or parent["group"] != s["group"]):
                groups[s["layer"]].append(s["group"])
        groups["streaming"] += [r for r, p in self.stream_runs.items() if p in passes]
        read_in = 0.0
        for layer in LAYERS:
            tot = self.stage_totals(groups[layer])
            for m in COMMON[1:]:
                out[f"{layer}.{m}"] = tot[m] / n
            read_in += tot["input_mb"]
            if layer == "sources":
                out["sources.write.output_mb"] = tot["output_mb"] / n
        out["sources.read.input_mb"] = read_in / n
        out["sources.write.amplification"] = (
            out["sources.write.output_mb"] / incoming_mb if incoming_mb else 0.0)
        # eager jobs: everything a query function ran before its sink,
        # including the materializations nested inside it
        for s in keep:
            if s["layer"] == "plans":
                inner = self._subtree_groups(s, keep)
                out["plans.eager_jobs"] += self.job_count(inner) / n
        mats = [s for s in keep if s["layer"] == "materialize"]
        out["materialize.count"] = len(mats) / n
        out["materialize.stored_mb"] = max(
            [s.get("stored_mb", 0.0) for s in mats] or [0.0])
        out["ml.models.lr_iterations"] = float(max(self.lr_iterations or [0]))
        prog = [p for p in self.progress if p["pass"] in passes]
        out["streaming.batches"] = len(prog) / n
        if prog:
            out["streaming.batch_p50_ms"] = float(
                statistics.median(p["batch_ms"] for p in prog))
            out["streaming.state_rows"] = float(max(p["state_rows"] for p in prog))
            out["streaming.state_commit_ms"] = sum(p["commit_ms"] for p in prog) / n
        out["trace.pass_s"] = statistics.median(pass_walls) if pass_walls else 0.0
        return out

    def _subtree_groups(self, root: dict, spans: list[dict]) -> set[str]:
        ids, groups = {root["id"]}, {root["group"]}
        for s in sorted(spans, key=lambda s: s["start"]):
            if s["parent"] in ids:
                ids.add(s["id"])
                groups.add(s["group"])
        groups.discard(None)
        return groups

    def job_count(self, groups) -> int:
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: s[k] for k in (
                    "id", "name", "layer", "parent", "pass", "group", "start",
                    "end")}) + "\n")
