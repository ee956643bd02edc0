"""Span tracer for the benchmark's traced runs.

The tracer wraps the public entry points of the engine's modules from
outside (the program itself is not edited) and records one span per
call: layer, name, start, end, parent span and the survey or query the
call belongs to. Each call also tags the Spark jobs it launches with
``SparkContext.addJobTag``, so jobs, stages, task time, GC time and
shuffle bytes read from the Spark REST API can be charged to a layer.

Parents follow the caller across the engine's thread pools: the
current span lives in a ``ContextVar`` and ``ThreadPoolExecutor.submit``
is wrapped to run each task in a copy of the submitting context. Spark
job tags are thread-local and are not copied, so a job launched from a
pool thread the engine creates is "untagged" unless a wrapped call in
that thread set a tag — which is the count ``spark.jobs_untagged``
reports.

Spans are kept in memory and written out as JSON lines when the run
ends (:meth:`Tracer.dump`).
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import contextvars
import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
import urllib.request

# layer -> (module, [public entry points]); the layer names are the
# engine's module names
LAYERS: dict[str, tuple[str, list[str]]] = {
    "session": ("qudo_etl_pipeline_spark.session", ["get_spark"]),
    "io": (
        "qudo_etl_pipeline_spark.sources.io",
        [
            "read_parquet", "read_csv", "read_json_table", "read_json_doc",
            "write_json_doc", "exists", "write_parquet", "write_csv_single",
            "read_or_build_cache",
        ],
    ),
    "workqueue": (
        "qudo_etl_pipeline_spark.workqueue",
        ["collected_surveys", "next_survey", "mark_processed"],
    ),
    "cleaning": ("qudo_etl_pipeline_spark.operators.cleaning", ["clean_responses"]),
    "features": (
        "qudo_etl_pipeline_spark.ml.features",
        [
            "build_code_maps", "label_encode", "sniff_numeric_columns",
            "standardize", "pca_transform",
        ],
    ),
    "clustering": (
        "qudo_etl_pipeline_spark.ml.clustering",
        [
            "optimal_k", "kmeans_multi_seed", "gmm_multi_seed", "rules_based",
            "kmeans_fit", "gmm_fit",
        ],
    ),
    "kmodes": (
        "qudo_etl_pipeline_spark.ml.kmodes",
        ["kmodes_fit", "kprototypes_fit", "_assign", "_update_modes"],
    ),
    "lca": ("qudo_etl_pipeline_spark.ml.lca", ["lca_select", "lca_fit"]),
    "contingency": (
        "qudo_etl_pipeline_spark.operators.contingency",
        ["contingency_tables", "deliver_stats", "discover_stats", "cluster_mode_list"],
    ),
    "metrics": ("qudo_etl_pipeline_spark.ml.business", ["get_all_metrics"]),
    "pipeline": ("qudo_etl_pipeline_spark.pipeline", ["run_scheme"]),
}

# layers whose spans the benchmark opens itself, around each operation
BENCH_LAYERS = ["survey", "catalog"]
ALL_LAYERS = list(LAYERS) + BENCH_LAYERS

# counters read off the wrapped calls' arguments and results
FIT_FNS = {"kmeans_fit", "gmm_fit", "rules_based"}
SELECT_FNS = {"kmeans_multi_seed", "gmm_multi_seed", "rules_based"}
# jobs the benchmark's output checks launch; not the program's work
CHECK_TAG = "perfbench-check"

_current: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)


class Tracer:
    """Records spans and counts; :meth:`install` wraps the engine."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.sc = None  # set once the session exists; enables job tags
        self.session_start_s = 0.0
        self.first_job = self.first_stage = 0

    # -- spans ---------------------------------------------------------
    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def span(self, layer: str, name: str, op_id: str | None = None):
        return _Span(self, layer, name, op_id)

    def count_sinks(self, out_dir: str, results: dict) -> None:
        """Files and bytes a survey wrote, its deliver rows and its
        timed-out families."""
        import pyarrow.parquet as pq

        for by_algo in results.values():
            for res in by_algo.values():
                if "timed out" in str(res["metrics"].get("error", "")):
                    self.count("pipeline.family_timeouts")

        for dirpath, _, files in os.walk(out_dir):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                path = os.path.join(dirpath, f)
                self.count("io.files_written")
                self.count("io.bytes_written", os.path.getsize(path))
                if os.path.basename(dirpath) == "deliver" and f.endswith(".parquet"):
                    self.count("contingency.deliver_rows", pq.read_metadata(path).num_rows)

    def begin_timed(self) -> None:
        """Forget the set-up's spans and Spark work: the per-layer
        metrics cover the timed operations only. The session's start
        time is kept as ``session.start_s``."""
        start = [s for s in self.spans if s["layer"] == "session"]
        self.session_start_s = start[0]["end"] - start[0]["start"] if start else 0.0
        jobs, stages = spark_rest(self.sc)
        self.first_job = 1 + max((j["jobId"] for j in jobs), default=-1)
        self.first_stage = 1 + max((s["stageId"] for s in stages), default=-1)
        with self._lock:
            self.spans[:] = start
            self.counts.clear()

    # -- installation --------------------------------------------------
    def install(self) -> None:
        """Wrap every entry point in ``LAYERS`` wherever the engine's
        modules hold a reference to it (``from x import f`` copies)."""
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names:
                fn = getattr(mod, name)
                self._replace_everywhere(fn, self._wrap(layer, name, fn))
        lca = importlib.import_module("qudo_etl_pipeline_spark.ml.lca")
        self._replace_everywhere(lca._em_patterns, self._em_counter(lca._em_patterns))
        self._patch(
            concurrent.futures.ThreadPoolExecutor, "submit",
            _context_submit(concurrent.futures.ThreadPoolExecutor.submit),
        )

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _replace_everywhere(self, old, new) -> None:
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("qudo_etl_pipeline_spark") and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is old:
                        self._patch(mod, attr, new)

    def _em_counter(self, fn):
        """Counts pattern-EM runs; one lca_fit is one EM run and counts
        itself (:meth:`_observe`), whichever path it takes."""

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            cur = _current.get()
            if not (cur and cur["name"] == "lca_fit"):
                self.count("lca.em_fits")
            return fn(*args, **kwargs)

        return counted

    @contextlib.contextmanager
    def checking(self):
        """Tag the Spark jobs run inside as the benchmark's checks."""
        self.sc.addJobTag(CHECK_TAG)
        try:
            yield
        finally:
            self.sc.removeJobTag(CHECK_TAG)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                out = fn(*args, **kwargs)
            tracer._observe(layer, name, out)
            return out

        return traced

    def _observe(self, layer: str, name: str, out) -> None:
        if name in FIT_FNS:
            self.count("clustering.fits")
        if name in SELECT_FNS and out is not None:
            self.count("clustering.fits_selected")
        if name == "lca_fit":
            self.count("lca.em_fits")
        if layer == "kmodes" and isinstance(out, dict):
            self.count("kmodes.iterations", out.get("n_iter") or 0)

    # -- output --------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str, op_id: str | None):
        self.tracer, self.layer, self.name, self.op_id = tracer, layer, name, op_id

    def __enter__(self):
        t = self.tracer
        parent = _current.get()
        self.rec = {
            "id": next(t._ids),
            "layer": self.layer,
            "name": self.name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id or (parent["op"] if parent else None),
            "depth": parent["depth"] + 1 if parent else 0,
            "start": time.perf_counter(),
            "end": None,
            "failed": False,
        }
        self.token = _current.set(self.rec)
        self.tag = None
        if t.sc is not None:
            self.tag = f"perfbench-span-{self.rec['id']}"
            t.sc.addJobTag(self.tag)
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        t = self.tracer
        self.rec["end"] = time.perf_counter()
        self.rec["failed"] = exc_type is not None
        if self.tag is not None:
            t.sc.removeJobTag(self.tag)
        _current.reset(self.token)
        with t._lock:
            t.spans.append(self.rec)
        return False


def _context_submit(orig):
    """``ThreadPoolExecutor.submit`` that runs the task in a copy of
    the submitter's context, so spans opened in pool threads get the
    submitting span as parent."""

    @functools.wraps(orig)
    def submit(self, fn, /, *args, **kwargs):
        return orig(self, contextvars.copy_context().run, fn, *args, **kwargs)

    return submit


# -- self time and layer report -----------------------------------------

def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union(clipped)
    return out


# -- Spark REST ----------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def spark_rest(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stages of the running application."""
    base = sc.uiWebUrl.rstrip("/") + "/api/v1/applications/" + sc.applicationId
    return _get(base + "/jobs"), _get(base + "/stages")


def layer_report(
    tracer: Tracer, jobs: list[dict], stages: list[dict], wall_s: float, cores: int
) -> dict[str, float]:
    """Per-layer and Spark-wide metrics of one traced run. Jobs run
    before the timed loop or tagged ``CHECK_TAG`` are left out, and so
    are the stages no remaining job lists."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    jobs = [
        j for j in jobs
        if j["jobId"] >= tracer.first_job and CHECK_TAG not in j.get("jobTags", [])
    ]
    listed = {sid for j in jobs for sid in j.get("stageIds", [])}
    stages = [
        sd for sd in stages
        if sd["stageId"] >= tracer.first_stage and sd["stageId"] in listed
    ]
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    m: dict[str, float] = {}
    for layer in ALL_LAYERS:
        m[f"{layer}.self_s"] = 0.0
        m[f"{layer}.calls"] = 0
        m[f"{layer}.jobs"] = 0
        m[f"{layer}.task_s"] = 0.0
        m[f"{layer}.failed"] = 0
    for s in spans:
        L = s["layer"]
        m[f"{L}.self_s"] += st[s["id"]]
        m[f"{L}.calls"] += 1
        m[f"{L}.failed"] += int(s["failed"])

    # each executed stage is charged once, to the first job listing it
    stage_by_id: dict[int, list[dict]] = {}
    for sd in stages:
        stage_by_id.setdefault(sd["stageId"], []).append(sd)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j["jobId"])

    def run_s(sd: dict) -> float:
        return sd.get("executorRunTime", 0) / 1000.0

    job_task_s: dict[int, float] = {}
    for sid, sds in stage_by_id.items():
        for sd in sds:
            if sd.get("status") in ("COMPLETE", "FAILED") and sid in owner:
                job_task_s[owner[sid]] = job_task_s.get(owner[sid], 0.0) + run_s(sd)

    untagged = 0
    for j in jobs:
        spans_of_job = [
            by_id[int(t.rsplit("-", 1)[1])]
            for t in j.get("jobTags", [])
            if t.startswith("perfbench-span-") and int(t.rsplit("-", 1)[1]) in by_id
        ]
        if not spans_of_job:
            untagged += 1
            continue
        inner = max(spans_of_job, key=lambda s: s["depth"])
        m[f"{inner['layer']}.jobs"] += 1
        m[f"{inner['layer']}.task_s"] += job_task_s.get(j["jobId"], 0.0)

    ran = [sd for sd in stages if sd.get("status") != "SKIPPED"]
    task_s = sum(run_s(sd) for sd in ran)
    wait = 0.0
    for sd in ran:
        sub, first = sd.get("submissionTime"), sd.get("firstTaskLaunchedTime")
        if sub and first:
            wait += max(0.0, (_ts(first) - _ts(sub)))
    m.update({
        "spark.jobs": len(jobs),
        "spark.jobs_untagged": untagged,
        "spark.stages": len(stages),
        "spark.stages_skipped": sum(sd.get("status") == "SKIPPED" for sd in stages),
        "spark.tasks": sum(sd.get("numCompleteTasks", 0) for sd in ran),
        "spark.failed_tasks": sum(sd.get("numFailedTasks", 0) for sd in stages),
        "spark.task_s": task_s,
        "spark.gc_s": sum(sd.get("jvmGcTime", 0) for sd in ran) / 1000.0,
        "spark.sched_wait_s": wait,
        "spark.core_busy_share": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_read_bytes": sum(sd.get("shuffleReadBytes", 0) for sd in ran),
        "spark.shuffle_write_bytes": sum(sd.get("shuffleWriteBytes", 0) for sd in ran),
    })
    return m


def _ts(s: str) -> float:
    """Spark REST timestamp ('2024-01-01T00:00:00.000GMT') -> seconds."""
    from datetime import datetime, timezone

    d = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp()
