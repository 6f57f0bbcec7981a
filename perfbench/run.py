"""Benchmark of the monthly job and the catalog pass.

    python3 perfbench/run.py --workload monthly_1k --seed 1 --seconds 10 --trace 0

Run from the repository root (or any checkout of it). The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a detail record (host probe, per-operation walls,
output row counts and digests). With ``--trace 0`` the metrics are the
end-to-end ones, measured with tracing off. With ``--trace 1`` the run
records spans around each layer call, enables Spark's event log, and
reports the per-layer metrics; its spans are written to
``.perfbench/out/spans-<workload>.json`` at the end.

Workloads, metric names and why each exists: ``BENCHMARK.json``. Pinned
output digests: ``perfbench/pins.json`` (``perfbench/pin.py`` rewrites it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_pins() -> dict:
    with open(os.path.join(ROOT, "perfbench", "pins.json")) as f:
        return json.load(f)


def declared_units() -> dict[str, str]:
    """Unit of every metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def clean_stale_runs(work: str) -> None:
    """Remove run directories left by processes that no longer exist."""
    runs = os.path.join(work, "run")
    if not os.path.isdir(runs):
        return
    for pid in os.listdir(runs):
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, pid), ignore_errors=True)


def part_medians(ops: list[dict], which: int) -> float:
    """Sum over the parts of an operation (export and merge, or the catalog
    entries) of each part's median over ``ops``; ``which`` picks wall (0)
    or CPU (1) seconds."""
    return sum(statistics.median(op[p][which] for op in ops) for p in ops[0])


def timed_run(run, pins: dict) -> dict:
    """Set up, run the workload's operation once cold and WARM_UP times
    warm, then time it at least TIMED_MIN times and until ``run.seconds``
    have passed.

    ``job_cpu_s`` is the CPU the warm operation costs (``part_medians``).
    Wall time is kept in the detail line only (``job_s`` cold,
    ``job_warm_s`` warm): on a shared VM the hypervisor takes up to a
    quarter of the CPUs away for minutes at a time, which moves the wall
    of the same job by up to 40% between runs and leaves its CPU alone."""
    from perfbench import host
    from perfbench import workloads as w

    if run.workload == w.MONTHLY:
        deals, comp = w.fixture(run, w.MONTHLY_SCENARIOS)
        spark = w.setup(run)
        op = lambda: w.monthly_job(run, spark, deals, comp, pins)  # noqa: E731
    else:
        replica = w.events_replica(run)
        spark = w.setup(run)
        op = lambda: w.catalog_pass(run, spark, replica, pins)  # noqa: E731
    cold = op()
    for _ in range(w.WARM_UP[run.workload]):
        op()
    warm = []
    t0 = time.perf_counter()
    while len(warm) < w.TIMED_MIN[run.workload] or time.perf_counter() - t0 < run.seconds:
        warm.append(op())
    run.detail.update(
        cold_parts=cold, warm_parts=warm, peak_rss_mb=peak_rss(),
        job_s=part_medians([cold], 0), job_warm_s=part_medians(warm, 0),
    )
    run.detail["host_post"] = host.probe()
    return {"setup_s": run.detail["setup_s"], "job_cpu_s": part_medians(warm, 1)}


def traced_run(run, pins: dict) -> dict:
    """The per-layer run: the workload's own operation twice (cold, warm),
    then every other layer once, all under spans and Spark's event log."""
    from perfbench import trace
    from perfbench import workloads as w

    with w.traced_layers(run):
        deals, comp = w.fixture(run, w.MONTHLY_SCENARIOS, fresh=True)
        replica = w.events_replica(run)
        spark = w.setup(run)
        monthly = lambda: w.monthly_job(run, spark, deals, comp, pins)  # noqa: E731
        catalog = lambda: w.catalog_pass(run, spark, replica, pins)  # noqa: E731
        own, other = (monthly, catalog) if run.workload == w.MONTHLY else (catalog, monthly)
        cold, warm = own(), own()
        traced = {
            "trace.job_s": part_medians([cold], 0),
            "trace.job_warm_s": part_medians([warm], 0),
            "trace.job_cpu_s": part_medians([warm], 1),
        }
        other()
        w.monthly_probes(run, spark, deals, comp)
    rss = peak_rss()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = trace.read_event_log(trace.find_event_log(os.path.join(run.run_dir, "eventlog"), app_id))
    metrics = layer_metrics(run, log)
    metrics.update(traced)
    out_dir = os.path.join(run.work, "out")
    os.makedirs(out_dir, exist_ok=True)
    run.tracer.dump(os.path.join(out_dir, f"spans-{run.workload}.json"))
    metrics["jvm.peak_rss_mb"] = rss
    return metrics


def layer_metrics(run, log) -> dict:
    """Per-layer metrics from the spans and the event log. A layer that ran
    more than once reports its last run; spans repeated inside one operation
    (validation after export and after merge) are summed."""
    from perfbench import trace
    from perfbench import workloads as w

    tr = run.tracer
    attr = trace.attribute(tr, log)
    m: dict = {}

    def walls(name):
        return [s.wall for s in tr.spans if s.name == name]

    def wall_under(op_idx, name):
        under = tr.descendants(op_idx)
        return sum(tr.spans[i].wall for i in under if tr.spans[i].name == name)

    m["session.get_spark_s"] = statistics.median(walls("session.get_spark"))
    m["setup.warmup_s"] = statistics.median(walls("setup.warmup"))
    m["fixtures.write_fixture_s"] = walls("fixtures.write_fixture")[-1]
    for name in ("plans.monthly_report.build", "plans.monthly_report.exec", "operators.exports.exec"):
        m[f"{name}_s"] = walls(name)[-1]
    m["operators.enrich.self_s"] = m["plans.monthly_report.exec_s"] - m["operators.exports.exec_s"]

    job = tr.last("monthly.job")
    for name in w.SOURCE_SPANS:
        m[f"{name}_s"] = wall_under(job, name)
    for name in ("jobs.run_export_job", "jobs.run_merge_job"):
        idx = max(i for i in tr.descendants(job) if tr.spans[i].name == name)
        span = tr.spans[idx]
        m[f"{name}.wall_s"] = span.wall
        counters = trace.span_counters(tr, log, attr, idx, span.attrs["input_bytes"])
        for c in w.SPAN_COUNTERS:
            m[f"{name}.{c}"] = counters[c]

    catalog_pass = tr.last("catalog.pass")
    rollup = {p: dict.fromkeys(w.MODULE_COUNTERS, 0.0) for p in w.MODULE_PREFIX.values()}
    for i in tr.children(catalog_pass):
        span = tr.spans[i]
        m[f"{span.name}_s"] = span.wall
        counters = trace.span_counters(tr, log, attr, i)
        for c in w.MODULE_COUNTERS:
            rollup[w.MODULE_PREFIX[span.attrs["module"]]][c] += counters[c]
    for prefix, counters in rollup.items():
        for c, v in counters.items():
            m[f"{prefix}.{c}"] = v
    stream_rows = run.detail["stream_input_rows"]
    m["streaming.events_stream.rows_per_s"] = stream_rows / m[f"catalog.{w.STREAM}_s"]
    return m


def peak_rss() -> float:
    from perfbench import host

    pids = host.own_jvms()
    if len(pids) != 1:
        raise RuntimeError(f"expected one local-mode JVM, found {pids}")
    return host.peak_rss_mb(pids[0])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "monthly_report_etl_spark", "__init__.py")):
        print(f"perfbench: no monthly_report_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench import workloads as w

    if args.workload not in w.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {w.WORKLOADS}", file=sys.stderr)
        return 2
    run = w.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    clean_stale_runs(run.work)
    host_pre = host.probe()
    host.pin_environment(run.run_dir)
    pins = load_pins()
    try:
        if args.trace:
            metrics = traced_run(run, pins)
            names = w.per_layer_names()
        else:
            metrics = timed_run(run, pins)
            names = w.end_to_end_names()
    finally:
        w.stop_jvm()
        shutil.rmtree(run.run_dir, ignore_errors=True)
        w.prune_cache(run)
    run.detail.setdefault("host_post", host.probe())
    missing = sorted(set(names) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    units = declared_units()
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host_pre": host_pre,
        "problems": run.problems, **run.detail,
    }, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
