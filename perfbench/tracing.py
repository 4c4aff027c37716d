"""Per-layer tracing for the benchmark's traced run.

Everything here lives in the benchmark: the program is measured from the
outside.

- Spans.  ``Tracer.install`` wraps every public function of each layer
  module and rebinds the wrapper in every loaded module of the package that
  binds the original, because plan modules import names directly and
  patching only the defining module would record nothing.  Spans are kept
  in memory; ``run.py`` writes them out at exit.
- Jobs.  Every job carries the local property ``perfbench.tag`` =
  ``workload|entry|pass|phase``; an uncompressed, non-rolling event log
  gives each job's stages, tasks and metrics (``parse_event_log``).
- Catalyst.  A ``QueryExecutionListener`` reads each query's analysis,
  optimization and planning times from its ``QueryPlanningTracker``.
- Streaming.  A ``StreamingQueryListener`` maps each query run to the tag
  current when it started and collects its micro-batch progress.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time

from perfbench.stats import classify_lookup, clipped, self_time, union_length

PACKAGE = "tts_data_pipeline_spark"
# module prefix -> layer; the public functions of these modules are wrapped
LAYERS = {
    f"{PACKAGE}.sources": "sources",
    f"{PACKAGE}.operators": "operators",
    f"{PACKAGE}.cachereg": "cachereg",
    f"{PACKAGE}.streaming": "streaming",
    f"{PACKAGE}.sinks": "sinks",
    f"{PACKAGE}.scratch": "scratch",
    f"{PACKAGE}.functions": "functions",
    f"{PACKAGE}.multimodal": "multimodal",
}
TAG_PROPERTY = "perfbench.tag"
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.mb_sent",
    "data returned from Python workers": "python.mb_returned",
}
JOB_METRICS = (
    "stages", "tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "scan.input_mb",
    "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
)
MB = 1024.0 * 1024.0


def layer_of(module: str) -> str | None:
    for prefix, layer in LAYERS.items():
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


class Tracer:
    """Spans and counters of one traced run, held in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.tag: str | None = None
        self.active = False
        self.cache_lookups: list[dict] = []
        self.scratch_dirs: list[list] = []  # [tag, path, MB once sized]
        self.queries: list[tuple[float, float]] = []
        self.stream_runs: dict[str, str | None] = {}
        self.batches: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def retag(self, tag: str | None) -> None:
        """Move to the next tag, first sizing the scratch directories made
        so far: a later invocation of the same entry deletes them."""
        for rec in self.scratch_dirs:
            if rec[2] is None:
                rec[2] = dir_mb(rec[1])
        self.tag = tag

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, layer: str, name: str) -> dict | None:
        if not self.active:
            return None
        stack = self._stack()
        span = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "tag": self.tag,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__}.{fn.__name__}"
        if layer == "cachereg" and fn.__name__ == "cache_replacing":
            return self._wrap_cache(fn, name)
        if layer == "scratch":
            return self._wrap_scratch(fn, name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.begin(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return wrapper

    def _wrap_cache(self, fn, name: str):
        registry = sys.modules[fn.__module__]._CACHED

        @functools.wraps(fn)
        def wrapper(key, df):
            before = registry.get(key)
            span = self.begin("cachereg", name)
            try:
                out = fn(key, df)
            finally:
                self.end(span)
            if span is not None:
                hit, unpersisted = classify_lookup(before, registry[key])
                self.cache_lookups.append(
                    {"tag": self.tag, "key": key, "hit": hit,
                     "unpersisted": unpersisted}
                )
            return out

        return wrapper

    def _wrap_scratch(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.begin("scratch", name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(span)
            if span is not None:
                self.scratch_dirs.append([self.tag, out, None])
            return out

        return wrapper

    def install(self) -> int:
        """Wrap each layer's public functions wherever they are bound.

        Layer modules are imported first: some plan modules import them
        only inside a function, which would bind an unwrapped copy."""
        for prefix in LAYERS:
            module = importlib.import_module(prefix)
            for info in pkgutil.walk_packages(
                getattr(module, "__path__", ()), prefix + "."
            ):
                importlib.import_module(info.name)
        wrappers: dict[int, object] = {}
        for mod_name, module in list(sys.modules.items()):
            layer = layer_of(mod_name)
            if layer is None or module is None:
                continue
            for attr, fn in vars(module).items():
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == mod_name
                    and fn.__name__ == attr
                ):
                    wrappers[id(fn)] = self._wrap(fn, layer)
        for mod_name, module in list(sys.modules.items()):
            if module is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(module).items()):
                wrapper = wrappers.get(id(value))
                if wrapper is not None:
                    setattr(module, attr, wrapper)
                    self._patches.append((module, attr, value))
        return len(wrappers)

    def uninstall(self) -> None:
        for module, attr, value in reversed(self._patches):
            setattr(module, attr, value)
        self._patches.clear()

    # -- listeners -----------------------------------------------------
    def attach(self, spark) -> None:
        """Register the Catalyst and streaming listeners on ``spark``."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self
        gateway = spark.sparkContext._gateway
        ensure_callback_server_started(gateway)

        class PlanningListener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = qe.tracker().phases()
                it = phases.iterator()
                seconds = 0.0
                while it.hasNext():
                    seconds += it.next()._2().durationMs() / 1000.0
                tracer.queries.append((time.time(), seconds))

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_runs[str(event.runId)] = tracer.tag

            def onQueryProgress(self, event):
                p = event.progress
                durations = p.durationMs or {}
                tracer.batches.append({
                    "run": str(p.runId),
                    "batch_s": durations.get("triggerExecution", 0) / 1000.0,
                    "commit_s": (durations.get("walCommit", 0)
                                 + durations.get("commitOffsets", 0)) / 1000.0,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._planning = PlanningListener()
        spark._jsparkSession.listenerManager().register(self._planning)
        spark.streams.addListener(StreamListener())


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(path: str) -> list[dict]:
    """Jobs of an event log, each with its tag and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = {
                    "id": ev["Job ID"],
                    "tag": (ev.get("Properties") or {}).get(TAG_PROPERTY),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": set(),
                    "tasks": 0,
                    **{k: 0.0 for k in JOB_METRICS if k not in ("stages", "tasks")},
                    **{k: 0.0 for k in PYTHON_METRICS.values()},
                }
                jobs[job["id"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["exec.run_s"] += m["Executor Run Time"] / 1000.0
                job["exec.cpu_s"] += m["Executor CPU Time"] / 1e9
                job["exec.gc_s"] += m["JVM GC Time"] / 1000.0
                job["scan.input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
                job["shuffle.write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                )
                sr = m["Shuffle Read Metrics"]
                job["shuffle.read_mb"] += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                ) / MB
                job["spill.mb"] += m["Disk Bytes Spilled"] / MB
                for acc in ev["Task Info"].get("Accumulables", ()):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key is not None and acc.get("Update") is not None:
                        scale = MB if unit_of(key) == "MB" else 1000.0
                        job[key] += float(acc["Update"]) / scale
    for job in jobs.values():
        job["stages"] = len(job["stages"])
    return sorted(jobs.values(), key=lambda j: j["id"])


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last == "mb" or last.startswith("mb_") or last.endswith("_mb"):
        return "MB"
    if last.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def split_tag(tag: str | None) -> tuple[str, str, str, str] | None:
    if not tag:
        return None
    parts = tag.split("|")
    return tuple(parts) if len(parts) == 4 else None


def pass_of(tag: str | None) -> int | None:
    """The timed pass a tag belongs to; None for the check phase."""
    parts = split_tag(tag)
    return int(parts[2]) if parts and parts[2].isdigit() else None


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total / MB


def layer_metrics(
    tracer: Tracer,
    jobs: list[dict],
    invocations: list[dict],
    traced_passes: set[int],
    scratch_written_mb: float,
    scratch_left_mb: float,
) -> dict[str, float]:
    """Per-pass layer metrics over the traced passes of one run.

    ``invocations`` are the runner's records: ``prefix`` (the tag without
    its phase), ``pass``, and ``start``, ``build_end`` and ``end`` in epoch
    seconds.  Every total is
    divided by the number of traced passes, so counts are per pass and
    repeat exactly when every pass does the same work.
    """
    n = max(len(traced_passes), 1)
    inv = [i for i in invocations if i["pass"] in traced_passes]
    tags = {i["prefix"] for i in inv}

    def in_scope(tag: str | None) -> bool:
        t = split_tag(tag)
        return t is not None and "|".join(t[:3]) in tags

    spans = [s for s in tracer.spans if s["end"] is not None and in_scope(s["tag"])]
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    scoped_jobs = [j for j in jobs if in_scope(j["tag"]) and j["end"] is not None]

    out: dict[str, float] = {}
    for layer in ("sources", "operators", "cachereg", "streaming", "sinks",
                  "scratch", "functions", "multimodal"):
        mine = [s for s in spans if s["layer"] == layer]
        out[f"{layer}.calls"] = len(mine) / n
        out[f"{layer}.self_s"] = sum(
            self_time(s["start"], s["end"], children.get(s["id"], [])) for s in mine
        ) / n
    # jobs are attributed to the innermost open span at submission time
    for layer in ("sources", "operators"):
        out[f"{layer}.jobs"] = 0.0
    by_tag: dict[str, list[dict]] = {}
    for s in spans:
        by_tag.setdefault(s["tag"], []).append(s)
    for j in scoped_jobs:
        inner = None
        for s in by_tag.get(j["tag"], ()):
            if s["start"] <= j["start"] <= s["end"] and (
                inner is None or s["start"] >= inner["start"]
            ):
                inner = s
        if inner is not None and inner["layer"] in ("sources", "operators"):
            out[f"{inner['layer']}.jobs"] += 1.0 / n

    build_s = sum(i["build_end"] - i["start"] for i in inv)
    action_s = sum(i["end"] - i["build_end"] for i in inv)
    plan_children = [
        (s["start"], s["end"]) for s in spans if s["parent"] is None
    ]
    out["plans.build_s"] = build_s / n
    out["plans.self_s"] = sum(
        self_time(i["start"], i["build_end"],
                  clipped(plan_children, i["start"], i["build_end"]))
        for i in inv
    ) / n
    out["plans.build_share"] = build_s / (build_s + action_s) if inv else 0.0

    for phase in ("build", "action"):
        phase_jobs = [j for j in scoped_jobs if split_tag(j["tag"])[3] == phase]
        out[f"{phase}.jobs"] = len(phase_jobs) / n
        for key in JOB_METRICS:
            out[f"{phase}.{key}"] = sum(j[key] for j in phase_jobs) / n
    for key in PYTHON_METRICS.values():
        out[key] = sum(j[key] for j in scoped_jobs) / n

    idle = 0.0
    for i in inv:
        mine = [(j["start"], j["end"]) for j in scoped_jobs
                if split_tag(j["tag"])[:3] == tuple(i["prefix"].split("|"))]
        idle += (i["end"] - i["start"]) - union_length(
            clipped(mine, i["start"], i["end"]))
    out["driver.idle_s"] = idle / n

    # the listener bus delivers a query's planning times just after the
    # query ends, so a report up to half a second after an invocation is
    # still that invocation's
    out["catalyst.plan_s"] = sum(
        secs for t, secs in tracer.queries
        if any(i["start"] <= t <= i["end"] + 0.5 for i in inv)
    ) / n

    lookups = [c for c in tracer.cache_lookups if in_scope(c["tag"])]
    hits = sum(c["hit"] for c in lookups)
    out["cachereg.lookups"] = len(lookups) / n
    out["cachereg.hits"] = hits / n
    out["cachereg.hit_ratio"] = hits / len(lookups) if lookups else 0.0
    out["cachereg.unpersists"] = sum(c["unpersisted"] for c in lookups) / n

    runs = {r for r, tag in tracer.stream_runs.items() if in_scope(tag)}
    batches = [b for b in tracer.batches if b["run"] in runs]
    out["streaming.batches"] = len(batches) / n
    out["streaming.batch_s"] = sum(b["batch_s"] for b in batches) / n
    out["streaming.commit_s"] = sum(b["commit_s"] for b in batches) / n
    out["streaming.state_rows"] = sum(b["state_rows"] for b in batches) / n

    out["scratch.mb_written"] = scratch_written_mb / n
    out["scratch.mb_left"] = scratch_left_mb
    return out
