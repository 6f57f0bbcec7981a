"""The benchmark's workloads and the operations they time.

``monthly_1k``: the monthly job as ``monthly-report-job`` runs it, export
(TSV + sized parquet sinks) then merge, on a generated deals fixture of
1000 scenarios. The report-sized fixture has 8000, but a cold job and
two warm ones on it take about 90 s per run, which the run budget
does not allow; at either size fixed per-action cost dominates the job.
``catalog_sf001``: one pass over a pinned list of catalog entries through
the ``noop`` sink, plus the tumbling-window stream over a 10x events replica.

Every run is one process with one local-mode JVM at ``local[nproc]``, in a
closed loop: one operation at a time. The only extra threads are the two
sink threads ``run_export_job`` starts itself. The first operation of the
process is the cold one; the same operation then repeats WARM_UP times
untimed and at least TIMED_MIN times timed, until the run's seconds are
spent (warm). Each part of an operation is timed in wall seconds and in
CPU seconds (``host.CpuMeter``).
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import checks, host
from perfbench.trace import Tracer

MONTHLY, CATALOG = "monthly_1k", "catalog_sf001"
WORKLOADS = (MONTHLY, CATALOG)
MONTHLY_SCENARIOS = 1000
SETUPS = 4  # set-ups per run; setup_s is the median of all but the first
# Untimed warm repeats after the cold operation, then timed ones; job_cpu_s
# takes medians over the timed ones. The counts are fixed, and the run's
# seconds only a floor, because the job's own CPU still falls by a few
# percent per repeat for several repeats (compiled code replacing
# interpreted code), so a run that made more repeats would read lower.
# They are as high as the contract's time for all runs allows: a monthly
# run with these counts takes 60-75 s on 4 shared cores, a catalog run 55.
WARM_UP = {MONTHLY: 0, CATALOG: 1}
TIMED_MIN = {MONTHLY: 2, CATALOG: 4}
STREAM_REPLICAS = 10
STREAM = "streaming_tumbling_window"

# A pinned subset of bench.py's HEADLINE list: the flagship plus the
# cheapest entry of every other module that implements catalog entries (the
# tumbling-window stream stands for the streaming module), so that a cold
# pass and about three warm ones fit a run's time budget. The full list
# takes about 45 s warm and 85 s cold at sf0.01 on 4 cores.
CATALOG_ENTRIES = (
    "exports_report_events",
    "events_funnel",
    "corpus_stratified_sample",
    "dedup_exact",
    "olap_forecast_revenue",
    "asof_join",
    "embeddings_quantize_int8",
    "text_quality_score",
)
# rollup prefix of each module that implements catalog entries
MODULE_PREFIX = {
    "catalog": "catalog",
    "analytics": "operators.analytics",
    "corpus": "operators.corpus",
    "dedup": "operators.dedup",
    "olap": "operators.olap",
    "relational": "operators.relational",
    "similarity": "operators.similarity",
    "text": "operators.text",
    "streaming": "streaming.events_stream",
}
SPAN_COUNTERS = (
    "jobs", "tasks", "driver_s", "executor_cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "read_amplification", "serial_frac",
)
MODULE_COUNTERS = ("jobs", "driver_s", "executor_cpu_s")
SOURCE_SPANS = (
    "sources.write_tsv_partitioned",
    "sources.write_parquet_sized",
    "sources.read_tsv_directory",
    "sources.write_tsv_single",
    "jobs.validate_tsv_output",
)


def end_to_end_names() -> list[str]:
    return ["setup_s", "job_cpu_s"]


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s",
        "setup.warmup_s",
        "fixtures.write_fixture_s",
        "plans.monthly_report.build_s",
        "plans.monthly_report.exec_s",
        "operators.exports.exec_s",
        "operators.enrich.self_s",
    ]
    names += [f"{s}_s" for s in SOURCE_SPANS]
    for job in ("jobs.run_export_job", "jobs.run_merge_job"):
        names += [f"{job}.wall_s"] + [f"{job}.{c}" for c in SPAN_COUNTERS]
    names += [f"catalog.{e}_s" for e in CATALOG_ENTRIES] + [f"catalog.{STREAM}_s"]
    names += [f"{p}.{c}" for p in MODULE_PREFIX.values() for c in MODULE_COUNTERS]
    names += [
        "streaming.events_stream.rows_per_s", "jvm.peak_rss_mb",
        "trace.job_s", "trace.job_warm_s", "trace.job_cpu_s",
    ]
    return names


def entry_module(name: str) -> str:
    """The module that implements catalog entry ``name``."""
    import importlib

    for mod in MODULE_PREFIX:
        if mod == "catalog":
            continue
        path = "streaming.events_stream" if mod == "streaming" else f"operators.{mod}"
        if name in importlib.import_module(f"monthly_report_etl_spark.{path}").CATALOG:
            return mod
    return "catalog"


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def file_hash(*paths: str) -> str:
    h = hashlib.sha1()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Run:
    """One benchmark process: its directories, its counts and its spans."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root, self.workload, self.seed, self.seconds = root, workload, seed, seconds
        self.work = os.path.join(root, ".perfbench")
        self.cache_dir = os.path.join(self.work, "cache")
        self.run_dir = os.path.join(self.work, "run", str(os.getpid()))
        self.data_dir = os.path.join(root, "perfbench", "data", "sf0.01")
        self.tracer = Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.detail: dict = {}
        self.cpu: host.CpuMeter | None = None  # set up with the JVM
        self._op_ids = itertools.count()

    def clock(self) -> tuple[float, float]:
        """(wall, CPU) seconds now; CPU as ``host.CpuMeter`` counts it."""
        return time.perf_counter(), self.cpu.read()

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def op_dir(self) -> str:
        return os.path.join(self.run_dir, "ops", str(next(self._op_ids)))

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems += [f"{what}: {p}" for p in problems]

    def attempt(self, what: str, body, check) -> tuple[float, float]:
        """Time ``body`` (one operation), then check its result; a raise or a
        failed check counts as a failed operation and the run goes on.
        Returns the (wall, CPU) seconds of ``body``."""
        self.attempted += 1
        w0, c0 = self.clock()
        try:
            result = body()
        except Exception:
            w1, c1 = self.clock()
            traceback.print_exc(file=sys.stderr)
            self.fail(what, [traceback.format_exc(limit=1).strip().splitlines()[-1]])
            return w1 - w0, c1 - c0
        w1, c1 = self.clock()
        try:
            problems = check(result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            problems = ["check raised: " + traceback.format_exc(limit=1).strip().splitlines()[-1]]
        self.detail.setdefault("check_s", []).append(time.perf_counter() - w1)
        if problems:
            self.fail(what, problems)
        return w1 - w0, c1 - c0


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def fixture(run: Run, n_scenarios: int, fresh: bool = False) -> tuple[str, str]:
    """The deals fixture for (n_scenarios, seed), cached under a key that
    includes the generator's source hash, so a changed generator never feeds
    a stale fixture. ``fresh`` generates into the run directory instead, so
    the traced run always measures generation."""
    from monthly_report_etl_spark import fixtures

    key = f"fixture-n{n_scenarios}-s{run.seed}-{file_hash(fixtures.__file__)}"
    out = os.path.join(run.run_dir, key) if fresh else os.path.join(run.cache_dir, key)
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        t0 = time.perf_counter()
        with run.span("fixtures.write_fixture"):
            fixtures.write_fixture(tmp, n_scenarios=n_scenarios, seed=run.seed)
        run.detail["fixtures.write_fixture_s"] = time.perf_counter() - t0
        os.replace(tmp, out)
    os.utime(out)  # prune_cache keeps the most recently used
    return (
        os.path.join(out, "exports_deals.parquet"),
        os.path.join(out, "competitor_list.csv"),
    )


def events_replica(run: Run) -> str:
    """A STREAM_REPLICAS-fold copy of the sf0.01 events table with event and
    user ids shifted per replica (more users at the same per-user density),
    cached under the source file's content hash."""
    import pandas as pd
    import pyarrow.parquet as pq

    src = os.path.join(run.data_dir, "events.parquet")
    out = os.path.join(run.cache_dir, f"events{STREAM_REPLICAS}x-{file_hash(src)}")
    dest = os.path.join(out, "events.parquet")
    if not os.path.exists(dest):
        os.makedirs(out, exist_ok=True)
        ev = pd.read_parquet(src)
        eid, uid = int(ev["event_id"].max()) + 1, int(ev["user_id"].max()) + 1
        parts = []
        for i in range(STREAM_REPLICAS):
            rep = ev.copy(deep=False)
            rep["event_id"] = rep["event_id"] + i * eid
            rep["user_id"] = rep["user_id"] + i * uid
            parts.append(rep)
        pd.concat(parts, ignore_index=True).to_parquet(dest + ".tmp", index=False)
        os.replace(dest + ".tmp", dest)
    run.detail["stream_input_rows"] = pq.ParquetFile(dest).metadata.num_rows
    return out


def prune_cache(run: Run, keep: int = 8) -> None:
    """Keep the ``keep`` most recently used fixtures."""
    if not os.path.isdir(run.cache_dir):
        return
    entries = [
        os.path.join(run.cache_dir, e) for e in os.listdir(run.cache_dir) if e.startswith("fixture-")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)


# --------------------------------------------------------------------------
# set-up
# --------------------------------------------------------------------------

def event_log_conf(run: Run) -> dict[str, str]:
    log_dir = os.path.join(run.run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    }


def warm_up(spark) -> None:
    from pyspark.sql import functions as F

    noop(
        spark.range(0, 20000)
        .select((F.col("id") % 97).alias("k"), F.col("id").cast("string").alias("s"))
        .groupBy("k")
        .agg(F.countDistinct("s"))
    )


def setup(run: Run):
    """Bring the session up SETUPS times (stopping all but the last). The
    first bring-up also starts the JVM; ``setup_s`` is the median CPU
    (``host.CpuMeter``) of the later ones, which reuse it. Their wall moved
    by a quarter between two sets of runs of the same code on a shared VM
    (a bring-up is mostly waits on other threads, which suffer most when
    the hypervisor takes CPUs away), and their CPU does not."""
    from monthly_report_etl_spark.session import get_spark

    n = host.nproc()
    conf = host.spark_conf(run.run_dir)
    if run.tracer is not None:
        conf.update(event_log_conf(run))
    walls, cpus = [], []
    for i in range(SETUPS):
        c0 = run.cpu.read() if run.cpu is not None else None
        t0 = time.perf_counter()
        with run.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{run.workload}",
                master=f"local[{n}]",
                shuffle_partitions=n,
                extra_conf=conf,
            )
        t1 = time.perf_counter()
        with run.span("setup.warmup"):
            warm_up(spark)
        walls.append(time.perf_counter() - t0)
        run.detail.setdefault("setup_session_s", []).append(t1 - t0)
        if c0 is not None:
            cpus.append(run.cpu.read() - c0)
        else:
            jvm = host.own_jvms()
            if len(jvm) != 1:
                raise RuntimeError(f"expected one local-mode JVM, found {jvm}")
            run.cpu = host.CpuMeter(jvm[0])
        if i < SETUPS - 1:
            spark.stop()
    run.detail.update(setup_runs_s=walls, setup_cpu_s=cpus, setup_s=statistics.median(cpus))
    return spark


def stop_jvm() -> None:
    """Stop the session, then the JVM behind it, and wait until the JVM has
    exited (it ends itself when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------

def monthly_job(run: Run, spark, deals: str, comp: str, pins: dict) -> dict[str, tuple[float, float]]:
    """One export + merge into a fresh directory, checked, then removed.
    Returns the (wall, CPU) seconds of each part."""
    from monthly_report_etl_spark import jobs
    from monthly_report_etl_spark.operators.exports import PERFORMANCE_LABELS

    d = run.op_dir()
    tsv, pq, merged = (os.path.join(d, s) for s in ("tsv", "parquet", "merged"))
    parts: dict[str, tuple[float, float]] = {}
    traced = run.tracer is not None

    def body():
        t0 = run.clock()
        with run.span("monthly.job"):
            in_bytes = dir_bytes(deals) + dir_bytes(comp) if traced else 0
            with run.span("jobs.run_export_job", input_bytes=in_bytes):
                jobs.run_export_job(spark, deals, comp, tsv, parquet_dir=pq)
            t1 = run.clock()
            with run.span("jobs.run_merge_job", input_bytes=dir_bytes(tsv) if traced else 0):
                jobs.run_merge_job(spark, tsv, merged)
        t2 = run.clock()
        parts["export"] = (t1[0] - t0[0], t1[1] - t0[1])
        parts["merge"] = (t2[0] - t1[0], t2[1] - t1[1])

    def check(_):
        out = checks.monthly_outputs(pq, merged, PERFORMANCE_LABELS)
        run.detail.setdefault("monthly_outputs", []).append(
            {k: v for k, v in out.items() if k != "problems"}
        )
        problems = out["problems"]
        pin = pins.get(MONTHLY, {}).get(str(run.seed))
        if pin is not None and (pin["rows"], pin["digest"]) != (out["merged_rows"], out["digest"]):
            problems.append(
                f"merged output {out['merged_rows']} rows / {out['digest']} differs from pinned "
                f"{pin['rows']} / {pin['digest']} for seed {run.seed}"
            )
        return problems

    steal = host.steal_seconds()
    try:
        spent = run.attempt("monthly job", body, check)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    run.detail.setdefault("steal_s", []).append(host.steal_seconds() - steal)
    if not parts:  # the job raised: charge all of it to the export
        parts = {"export": spent, "merge": (0.0, 0.0)}
    return parts


def monthly_probes(run: Run, spark, deals: str, comp: str) -> None:
    """Time the report plan and the exports core on their own, through the
    ``noop`` sink (traced run only)."""
    from monthly_report_etl_spark.config import PipelineConfig
    from monthly_report_etl_spark.operators.exports import exports_pipeline
    from monthly_report_etl_spark.plans import monthly_report
    from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
    from monthly_report_etl_spark.sources import read_lookup_csv

    cfg = PipelineConfig()

    def body():
        raw = spark.read.parquet(deals)
        lookup = read_lookup_csv(spark, comp, COMPETITOR_LIST_SCHEMA)
        with run.span("plans.monthly_report.build"):
            report = monthly_report(raw, lookup, cfg)
        with run.span("plans.monthly_report.exec"):
            noop(report)
        with run.span("operators.exports.exec"):
            noop(exports_pipeline(raw, cfg.start_date, cfg.end_date, sort="none"))

    run.attempt("monthly probes", body, lambda _: [])


def catalog_pass(run: Run, spark, replica: str, pins: dict) -> dict[str, tuple[float, float]]:
    """Every pinned entry through ``noop`` with its (rows, digest) observed
    on the same pass, then the tumbling-window stream. Returns the (wall,
    CPU) seconds of each entry."""
    from pyspark.sql import Observation

    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.streaming.events_stream import run_windowed_counts_once

    pinned = pins.get(CATALOG, {})
    parts = {}
    steal = host.steal_seconds()

    def expect(name):
        def check(got):
            run.detail.setdefault("catalog_outputs", {})[name] = got
            pin = pinned.get(name)
            if pin is None:
                return [f"no pinned output for {name}"]
            if (pin["rows"], pin["digest"]) != (got["rows"], got["digest"]):
                return [f"{got['rows']} rows / {got['digest']}, pinned {pin['rows']} / {pin['digest']}"]
            return []
        return check

    with run.span("catalog.pass"):
        for name in CATALOG_ENTRIES:
            def body(name=name):
                obs = Observation()
                with run.span(f"catalog.{name}", module=entry_module(name)):
                    df = QUERIES[name](spark, run.data_dir)
                    noop(df.observe(obs, *checks.digest_aggregates(df)))
                m = obs.get
                return {"rows": int(m["rows"]), "digest": checks.format_digest(m["hash_sum"])}

            parts[name] = run.attempt(name, body, expect(name))

        def stream():
            with run.span(f"catalog.{STREAM}", module="streaming"):
                table = run_windowed_counts_once(spark, replica, "perfbench_tumbling")
            rows, digest = checks.frame_digest(table)
            return {"rows": rows, "digest": digest}

        parts[STREAM] = run.attempt(STREAM, stream, expect(STREAM))
    run.detail.setdefault("steal_s", []).append(host.steal_seconds() - steal)
    return parts


# --------------------------------------------------------------------------
# layer spans patched around the engine's own calls (traced run only)
# --------------------------------------------------------------------------

@contextlib.contextmanager
def traced_layers(run: Run):
    """Wrap the sink, source and validation calls ``jobs`` makes in spans,
    for the duration of the traced run. The engine is not changed: the
    wrappers replace the names ``jobs`` looks up and restore them after."""
    from monthly_report_etl_spark import jobs
    from monthly_report_etl_spark.sources import parquet

    def wrap(fn, namer):
        def wrapped(*args, **kwargs):
            name = namer(kwargs)
            if name is None:
                return fn(*args, **kwargs)
            with run.span(name):
                return fn(*args, **kwargs)
        return wrapped

    def tsv_name(kw):
        if kw.get("single_file"):
            return "sources.write_tsv_single"
        return "sources.write_tsv_partitioned" if kw.get("partition_by") else None

    patches = [
        (jobs, "write_tsv", tsv_name),
        (jobs, "read_tsv_directory",
         lambda kw: "sources.read_tsv_directory" if kw.get("skip_bad_files") else None),
        (jobs, "validate_tsv_output", lambda kw: "jobs.validate_tsv_output"),
        (parquet, "write_parquet_sized", lambda kw: "sources.write_parquet_sized"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    try:
        for mod, attr, namer in patches:
            setattr(mod, attr, wrap(getattr(mod, attr), namer))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
