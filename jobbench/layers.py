"""Per-layer metrics of a traced run, from the spans of the traced
cycles plus the outside-in counters each cycle recorded. The end-to-end
metric and workload each one should move are listed in README.md.

Sums of self time (``*_s``, ``*.self_ms``) are per traced cycle;
``p50``/``p90`` are over every span of that name in the traced cycles;
``calls_per_table`` divides by the table exports plus table imports.
A layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

import spans as sp


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile; 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.5) - 1))]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(bench, parallel: int) -> dict[str, tuple[float, str]]:
    tracer = bench.tracer
    all_spans = [s for s in tracer.spans if s.end is not None]
    sp.attach_async_jobs(all_spans)
    self_t = sp.self_times(all_spans)
    traced = [c for c in bench.cycles if c["traced"]]
    untraced = [c for c in bench.cycles if not c["traced"]]
    labels = {c["label"] for c in traced}
    n = len(traced)
    table_ops = sum(2 * c["tables"] for c in traced)
    cyc = [s for s in all_spans if s.cycle in labels]

    def named(*names):
        return [s for s in cyc if s.name in names]

    def dur_ms(*names):
        return [s.dur * 1e3 for s in named(*names)]

    def self_per_cycle(*names) -> float:
        return sum(self_t[s.id] for s in named(*names)) / n

    def calls_per_table(method: str) -> float:
        return len(named(f"catalog.parquet.{method}", f"catalog.duckdb.{method}")) / table_ops

    setup = {s.name: s for s in all_spans if s.cycle == "setup"}
    run_plans = sum(s.dur for s in named("job.run_plans"))
    table_busy = sum(s.dur for s in named("engine.export_table", "engine.import_table"))
    status_calls = named("status.from_events")
    merge = bench.cycles if bench.workload == "cdc_merge" else []

    def cycle_s(cs):
        return _med(c["export_s"] + c["import_s"] for c in cs)

    def status_p50(cs):
        return quantile([x for c in cs for x in c["status_ms"]], 0.5)

    return {
        "session.get_spark_s": (setup["session.get_spark"].dur, "s"),
        "session.warmup_s": (bench.warmup_s, "s"),
        "session.jvm_gc_s": (sum(c["gc_s"] for c in traced) / n, "s"),
        "session.jvm_heap_peak_mb": (bench.heap_peak_mb, "MB"),
        "request.submit_ms": (quantile(dur_ms("request.submit"), 0.5), "ms"),
        "request.status.self_ms": (
            quantile([self_t[s.id] * 1e3 for s in named("request.status")], 0.5), "ms"),
        "directives.compile_ms": (quantile(dur_ms("directives.compile"), 0.5), "ms"),
        "planner.plan_s": (
            sum(s.dur for s in named("planner.plan_export", "planner.plan_import")) / n, "s"),
        "job.run.self_s": (self_per_cycle("job.run"), "s"),
        "engine.export_table.p50_ms": (quantile(dur_ms("engine.export_table"), 0.5), "ms"),
        "engine.export_table.p90_ms": (quantile(dur_ms("engine.export_table"), 0.9), "ms"),
        "engine.import_table.p50_ms": (quantile(dur_ms("engine.import_table"), 0.5), "ms"),
        "engine.import_table.p90_ms": (quantile(dur_ms("engine.import_table"), 0.9), "ms"),
        "engine.export_table.self_s": (self_per_cycle("engine.export_table"), "s"),
        "engine.import_table.self_s": (self_per_cycle("engine.import_table"), "s"),
        "engine.spark_jobs_per_export_table": (
            sum(c["spark_jobs_export"] for c in traced) / (table_ops / 2), "count"),
        "engine.spark_jobs_per_import_table": (
            sum(c["spark_jobs_import"] for c in traced) / (table_ops / 2), "count"),
        "engine.pool_busy_ratio": (
            table_busy / (parallel * run_plans) if run_plans else 0.0, "ratio"),
        "catalog.parquet.read_table.self_s": (
            self_per_cycle("catalog.parquet.read_table"), "s"),
        "catalog.parquet.write_table.self_s": (
            self_per_cycle("catalog.parquet.write_table"), "s"),
        "catalog.duckdb.write_table.p50_ms": (
            quantile(dur_ms("catalog.duckdb.write_table"), 0.5), "ms"),
        "catalog.list_tables.calls_per_table": (calls_per_table("list_tables"), "count"),
        "catalog.table_exists.calls_per_table": (calls_per_table("table_exists"), "count"),
        "catalog.merge_files_rewritten_ratio": (
            _med(c["files_rewritten"] / c["files_before"] for c in merge), "ratio"),
        "catalog.merge_write_amp": (
            _med(c["bytes_written"] / c["dump_bytes"] for c in merge), "ratio"),
        "dumpset.log_event.calls_per_table": (
            len(named("dumpset.log_event")) / table_ops, "count"),
        "dumpset.log_event.self_ms": (self_per_cycle("dumpset.log_event") * 1e3, "ms"),
        "dumpset.write_manifest.self_ms": (
            self_per_cycle("dumpset.write_manifest") * 1e3, "ms"),
        "dumpset.files_per_table": (
            sum(c["dump_files"] for c in traced) / (table_ops / 2), "count"),
        "status.from_events.p50_ms": (quantile(dur_ms("status.from_events"), 0.5), "ms"),
        "status.events_read_per_call": (
            _med(s.attrs.get("events", 0) for s in status_calls), "count"),
        # end-to-end figures too noisy to bound, over the untraced cycles
        "cycle_p50_s": (cycle_s(untraced), "s"),
        "status_p95_ms": (quantile([x for c in untraced for x in c["status_ms"]], 0.95), "ms"),
        "peak_rss_mb": (bench.peak_rss_mb, "MB"),
        "trace.overhead_cycle_s": (cycle_s(traced) - cycle_s(untraced), "s"),
        "trace.overhead_status_p50_ms": (status_p50(traced) - status_p50(untraced), "ms"),
        "trace.spans": (len(cyc), "count"),
    }
