"""Benchmark of the survey pipeline and the query catalog.

    python3 perfbench/run.py --workload survey_wide --seed 1 --seconds 1 --trace 0

One process, one client, closed loop: the client runs one survey (or
one catalog query) at a time and starts the next when it returns, until
``--seconds`` have passed and at least one survey or one full pass over
the catalog queries is done. Spark runs ``local[N]``, N being the CPUs
this process may use.

Set-up is session start plus the seeded inputs written under the run's
temporary directory. There is no warm-up job: a run times the first
executions in a fresh Spark driver, the way a poller that starts one driver
per survey runs them, so code generation and JIT compilation fall in
the timed operations. The outputs are checked after the timed loop.
The last stdout line is one JSON object; with ``--trace 1`` the
engine's layers are wrapped by :mod:`trace` and that object carries the
per-layer metrics instead of the end-to-end ones, and the spans are
written to ``.perfbench_out/``.

Workloads:

- ``survey_wide``: one survey of 2,000 respondents x 30 question
  columns, one scheme over all of them, the rules_based family and the
  cache path (no bucketed write), taken from and marked done in the
  work queue.
- ``catalog_mix``: passes over 5 of the headline catalog queries and
  ``lca_documents`` on seeded star-schema tables at scale factor 0.1,
  each collected inside ``prefix_cache_scope()``.

See README.md for the metrics, the bounds and why the workloads are
sized as they are.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# 5 of bench.py's 16 HEADLINE queries, one per engine path: scan+agg,
# join+window top-k, the melt -> contingency chi-squared, MinHash
# signatures and the kmodes step; and lca_documents, the path through
# ml.lca. A cold pass over all 16 does not fit the run budget
# (README.md); deliver_stats' cold planning is measured by the survey,
# which runs it.
CATALOG_QUERIES = [
    "q1_pricing_summary", "topk_parts_per_brand", "chi2_stat_by_variable",
    "minhash_signatures", "kmodes_step_planted", "lca_documents",
]
LCA_K = 3  # lca_documents fits k=3 classes

SURVEY_N, SURVEY_WIDTH = 2000, 5  # 5 x 6 = 30 question columns
SURVEY_BASES = 4  # respondent tables cycle through 4 bases (kept digests)
CATALOG_SCALE = 0.1  # TPC-H-like scale factor: 600k lineitem rows


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("survey_wide", "catalog_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, flush=True)


# -- process measurements --------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_children() -> list[int]:
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
            with open(f"/proc/{d}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if ppid == me and comm == "java":
            out.append(int(d))
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child."""
    kb = _vm_hwm_kb("self") + sum(_vm_hwm_kb(p) for p in _jvm_children())
    return kb / 1024.0


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least 10
    samples beyond it; the maximum when that percentile would fall
    below the median (fewer than 20 samples)."""
    xs = sorted(latencies)
    rank = len(xs) - 10 if len(xs) >= 20 else len(xs)
    return xs[rank - 1], 100.0 * rank / len(xs)


# -- workloads -------------------------------------------------------------

class Run:
    """State shared by the set-up, the timed loop and the checks."""

    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.tracer = None
        self.spark = None

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def span(self, layer: str, name: str, op_id: str):
        return self.tracer.span(layer, name, op_id) if self.tracer else nullcontext()

    def start_session(self) -> None:
        from qudo_etl_pipeline_spark import session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        self.spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext


class SurveyWorkload:
    """Surveys taken off the work queue, one at a time."""

    def __init__(self, run: Run):
        self.run = run
        self.queue = os.path.join(run.tmp, "queue.json")
        self.n_inputs = 1 + int(run.args.seconds // 20)
        self.done: list[tuple[dict, dict, str]] = []

    def write_inputs(self) -> None:
        import inputs

        surveys = []
        for i in range(self.n_inputs):
            base = (self.run.args.seed + i) % SURVEY_BASES
            name = f"survey_{i}"
            path = os.path.join(self.run.tmp, f"{name}.parquet")
            inputs.survey_responses(SURVEY_N, SURVEY_WIDTH, base).to_parquet(
                path, index=False
            )
            surveys.append({
                "survey_name": name, "path": path, "base": base,
                "n": SURVEY_N, "processed_by": [],
            })
        with open(self.queue, "w") as fh:
            json.dump(surveys, fh)

    def config(self, name: str):
        from qudo_etl_pipeline_spark.pipeline import SegmentationConfig

        return SegmentationConfig(
            survey_name=name,
            schemes={"questions": ["weightgain_", "fin_", "tech_", "psy_", "mc_"]},
            weight_col="weight",
            rules_col="fin_uk_goal_fb_tgt",
            algorithms=("rules_based",),
            fit_timeout_secs=120.0,
        )

    def one(self) -> tuple[dict, dict, str]:
        """Take the next survey off the queue, run it, mark it done."""
        from qudo_etl_pipeline_spark import workqueue
        from qudo_etl_pipeline_spark.pipeline import run_all_segmentations
        from qudo_etl_pipeline_spark.sources import io

        survey = workqueue.next_survey(workqueue.collected_surveys(self.queue))
        out_dir = os.path.join(self.run.tmp, "sinks", survey["survey_name"])
        responses = io.read_parquet(self.run.spark, survey["path"])
        results = run_all_segmentations(
            self.run.spark, responses, self.config(survey["survey_name"]),
            output_dir=out_dir,
        )
        workqueue.mark_processed(self.queue, survey["survey_name"])
        return survey, results, out_dir

    def timed(self, deadline: float) -> None:
        run = self.run
        for i in range(self.n_inputs):
            if i and time.perf_counter() >= deadline:
                break
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with run.span("survey", "survey", f"survey_{i}"):
                    self.done.append(self.one())
            except Exception:
                traceback.print_exc()
                run.fail(f"survey_{i} raised")
                continue
            run.latencies.append(time.perf_counter() - t0)

    def check(self) -> None:
        import checks

        for survey, results, out_dir in self.done:
            if self.run.tracer is not None:
                self.run.tracer.count_sinks(out_dir, results)
            problems = checks.survey_problems(
                results, out_dir, survey["n"], "alchemer_id",
                self.config(survey["survey_name"]).rules_col,
            )
            problems += checks.digest_problems(
                results, out_dir, f"survey_wide/base{survey['base']}"
            )
            for p in problems:
                print(f"check: {survey['survey_name']}: {p}", file=sys.stderr)
            if problems:
                self.run.fail(f"{survey['survey_name']}: {len(problems)} check(s) failed")


class CatalogWorkload:
    """Passes over the headline catalog queries."""

    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.tmp, "catalog")
        self.per_query: dict[str, list[float]] = {q: [] for q in CATALOG_QUERIES}
        self.results: dict = {}

    def write_inputs(self) -> None:
        import inputs

        inputs.write_catalog(self.data, self.run.args.seed, CATALOG_SCALE)

    def timed(self, deadline: float) -> None:
        from qudo_etl_pipeline_spark.catalog import registry
        from qudo_etl_pipeline_spark.operators.prefix import prefix_cache_scope

        run = self.run
        specs = registry()
        self.oracles = {q: specs[q].oracle for q in CATALOG_QUERIES}
        n = 0
        while n == 0 or time.perf_counter() < deadline:
            for q in CATALOG_QUERIES:
                run.attempted += 1
                t0 = time.perf_counter()
                try:
                    with run.span("catalog", q, f"{q}#{n}"), prefix_cache_scope():
                        pdf = specs[q].spark(run.spark, self.data).toPandas()
                except Exception:
                    traceback.print_exc()
                    run.fail(f"{q} raised")
                    continue
                dt = time.perf_counter() - t0
                run.latencies.append(dt)
                self.per_query[q].append(dt)
                self.results.setdefault(q, pdf)
            n += 1

    def check(self) -> None:
        import checks

        con = checks.duckdb_oracle(self.data)
        try:
            for q, pdf in self.results.items():
                if self.oracles[q] is None:
                    problems = checks.lca_sizes_problems(con, pdf, LCA_K)
                    if problems:
                        self.run.fail(f"{q}: " + "; ".join(problems))
                elif not checks.catalog_matches(con, self.oracles[q], pdf):
                    self.run.fail(f"{q}: result differs from the DuckDB oracle")
        finally:
            con.close()


# -- reports ---------------------------------------------------------------

def end_to_end(run: Run, setup_s: float, wall_s: float) -> dict:
    lat = run.latencies
    p50 = statistics.median(lat) if lat else float("nan")
    tail_s, tail_pct = tail(lat) if lat else (float("nan"), float("nan"))
    m = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail_s, "s"),
        "ops_per_s": (len(lat) / wall_s, "1/s"),
    }
    # the same numbers under the names survey analysts and query users
    # read them by
    if run.args.workload == "survey_wide":
        log(f"survey_s = {p50:.4f} s (median of {len(lat)} survey(s))")
    else:
        log(f"query_p50_s = {p50:.4f} s (median of {len(lat)} queries)")
        log(f"query_tail_s = {tail_s:.4f} s (p{tail_pct:.2f} of {len(lat)} samples)")
        log(f"queries_per_s = {len(lat) / wall_s:.4f} 1/s")
    log(f"failed_share = {run.failed / max(run.attempted, 1):.4f} ratio "
        f"({run.failed} of {run.attempted})")
    log(f"setup_s = {setup_s:.4f} s")
    # printed, not gated: the JVM's peak resident memory follows its GC
    # heap-sizing decisions and does not repeat within a tenth run to run
    log(f"peak_rss_mb = {peak_rss_mb():.1f} MB")
    return m


LAYER_FIELDS = (".self_s", ".calls", ".jobs", ".task_s", ".failed")


def _unit(key: str) -> str:
    if key.endswith(("_s", ".s")):
        return "s"
    if key.endswith("bytes") or key.endswith("bytes_written"):
        return "bytes"
    if key.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


def traced_report(run: Run, work, wall_s: float, e2e: dict, out_root: str) -> dict:
    """Per-layer metrics, the span dump and the human-readable report."""
    import trace as T

    sc = run.spark.sparkContext
    jobs, stages = T.spark_rest(sc)
    m = T.layer_report(run.tracer, jobs, stages, wall_s, sc.defaultParallelism)
    spans = [s for s in run.tracer.spans if s["end"] is not None]
    c = run.tracer.counts

    # fit phase: run_scheme's start until its last family fit returns;
    # finalize phase: from there to run_scheme's end
    fit_s = fin_s = 0.0
    for rs in (s for s in spans if s["name"] == "run_scheme"):
        fit_ends = [
            s["end"] for s in spans
            if s["layer"] in ("clustering", "kmodes", "lca")
            and rs["start"] <= s["start"] <= rs["end"]
        ]
        split = max(fit_ends, default=rs["start"])
        fit_s += split - rs["start"]
        fin_s += rs["end"] - split
    fits = c.get("clustering.fits", 0)
    m.update({
        "pipeline.fit_phase_s": fit_s,
        "pipeline.finalize_phase_s": fin_s,
        "pipeline.family_timeouts": c.get("pipeline.family_timeouts", 0),
        "clustering.fits": fits,
        "clustering.fits_kept_ratio": c.get("clustering.fits_selected", 0) / fits if fits else 0.0,
        "kmodes.iterations": c.get("kmodes.iterations", 0),
        "lca.em_fits": c.get("lca.em_fits", 0),
        "contingency.deliver_rows": c.get("contingency.deliver_rows", 0),
        "io.bytes_written": c.get("io.bytes_written", 0),
        "io.files_written": c.get("io.files_written", 0),
        "session.start_s": run.tracer.session_start_s,
    })
    for q in CATALOG_QUERIES:
        xs = getattr(work, "per_query", {}).get(q, [])
        m[f"catalog.{q}.s"] = statistics.median(xs) if xs else 0.0

    for k in sorted(m):
        if k.partition(".")[0] not in T.ALL_LAYERS or not k.endswith(LAYER_FIELDS):
            log(f"{k} = {m[k]:.6g} {_unit(k)}")

    name = f"{run.args.workload}-seed{run.args.seed}"
    spans_path = os.path.join(out_root, f"{name}.spans.jsonl")
    run.tracer.dump(spans_path)
    log(f"spans: {len(spans)} written to {os.path.relpath(spans_path, ROOT)}")
    log(f"{'layer':12s} {'self_s':>9s} {'share':>6s} {'calls':>6s} {'jobs':>5s} "
        f"{'task_s':>8s} {'failed':>6s}")
    # the session span is set-up; the other layers share the operations
    total_self = sum(m[f"{L}.self_s"] for L in T.ALL_LAYERS if L != "session")
    for L in T.ALL_LAYERS:
        share = m[f"{L}.self_s"] / total_self if total_self and L != "session" else 0.0
        log(f"{L:12s} {m[L + '.self_s']:9.3f} {share:6.1%} {m[L + '.calls']:6d} "
            f"{m[L + '.jobs']:5d} {m[L + '.task_s']:8.3f} {m[L + '.failed']:6d}")
    op_wall = sum(run.latencies)
    log(f"trace closure: layer self times sum to {total_self:.3f} s over "
        f"{op_wall:.3f} s of operations ({total_self / op_wall:.3f}x)")

    # tracing overhead: this traced run against the untraced run of the
    # same workload and seed, when one was made in this checkout
    untraced = os.path.join(out_root, f"{name}.e2e.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)
        for k in ("op_p50_s", "ops_per_s"):
            log(f"tracing overhead {k}: {e2e[k][0] - base[k]:+.4f} "
                f"(traced {e2e[k][0]:.4f}, untraced {base[k]:.4f})")
    return {k: (m[k], _unit(k)) for k in json_metrics()}


def json_metrics() -> list[str]:
    """The per-layer metrics of the result line: the counts of every
    layer, and the times and ratios measured on both workloads. A layer
    time that one workload never exercises reads 0 on every run there;
    those are in the printed report and the spans only."""
    import trace as T

    return [
        *(f"{L}.{f}" for L in T.ALL_LAYERS for f in ("calls", "jobs", "failed")),
        "session.start_s", "contingency.self_s",
        "spark.jobs", "spark.jobs_untagged", "spark.stages", "spark.stages_skipped",
        "spark.tasks", "spark.failed_tasks", "spark.task_s", "spark.gc_s",
        "spark.sched_wait_s", "spark.core_busy_share",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "pipeline.family_timeouts", "clustering.fits", "kmodes.iterations",
        "lca.em_fits", "contingency.deliver_rows", "io.bytes_written",
        "io.files_written",
    ]


# -- entry point -----------------------------------------------------------

def _stop_jvm() -> None:
    """End the session's JVM and wait for it: PySpark keeps it alive
    until the interpreter exits, and it ends when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine is imported from the checkout; without it the run stops
    # here, before creating anything
    import qudo_etl_pipeline_spark

    if not os.path.abspath(qudo_etl_pipeline_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"the engine must come from {ROOT}")

    out_root = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=out_root)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    run = Run(args, tmp)
    if args.trace:
        import trace as T

        run.tracer = T.Tracer()
        run.tracer.install()
    work = (SurveyWorkload if args.workload == "survey_wide" else CatalogWorkload)(run)
    try:
        t0 = time.perf_counter()
        run.start_session()
        work.write_inputs()
        setup_s = time.perf_counter() - t0
        if run.tracer is not None:
            run.tracer.begin_timed()

        t1 = time.perf_counter()
        work.timed(t1 + args.seconds)
        wall_s = time.perf_counter() - t1
        # the checks' own Spark jobs are tagged and left out of the
        # per-layer metrics
        with run.tracer.checking() if run.tracer is not None else nullcontext():
            work.check()
        metrics = end_to_end(run, setup_s, wall_s)
        name = f"{args.workload}-seed{args.seed}"
        if args.trace:
            metrics = traced_report(run, work, wall_s, metrics, out_root)
        else:
            with open(os.path.join(out_root, f"{name}.e2e.json"), "w") as fh:
                json.dump({k: v for k, (v, _) in metrics.items()}, fh)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if run.spark is not None:
            run.spark.stop()
            _stop_jvm()
        if run.tracer is not None:
            run.tracer.uninstall()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
