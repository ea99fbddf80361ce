"""Export/import job benchmark for ``oracledb_datapump_spark``.

    python3 jobbench/run.py --workload bulk_copy --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client drives the package
through its JSON request protocol: it SUBMITs a job with ``wait=false``,
sends STATUS every 50 ms until the job is terminal, then submits the
next. One cycle is an EXPORT job followed by an IMPORT job. Spark runs
``local[4]`` and every job uses ``PARALLEL(4)``.

Set-up (timed as ``setup_s``): start the Spark session, run one warm-up
export+import of a tiny table, for ``cdc_merge`` load the base table, and
except on ``many_tables`` run one full-size cycle. Then a fixed number of
timed cycles: ``--seconds`` divided by the workload's nominal cycle time.
Every output is checked in DuckDB against the generator's digests after
the timed phase; a failed check exits 1.

The second-to-last line of stdout is a JSON detail record (input sizes,
sample counts, every metric of the design including ``failed_ops_ratio``);
the last line is the result: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. See ``jobbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from oracledb_datapump_spark import request, session  # noqa: E402
from oracledb_datapump_spark.base import TERMINAL_STATES  # noqa: E402
from oracledb_datapump_spark.dumpset import DumpSet  # noqa: E402
from oracledb_datapump_spark.exceptions import DataPumpError  # noqa: E402

import check  # noqa: E402
import probes  # noqa: E402
from layers import quantile  # noqa: E402

PARALLEL = 4
THINK_S = 0.05
DRIVER_MEMORY = "2g"
TERMINAL = {s.value for s in TERMINAL_STATES}
# Timed cycles per run = --seconds / nominal cycle time (warm, on a
# 4-vCPU VM). A fixed count, not a deadline, makes every run and every
# commit measure the same work: with a deadline a faster machine or
# commit runs more, and warmer, cycles.
NOMINAL_CYCLE_S = {"bulk_copy": 3.5, "many_tables": 5.0, "cdc_merge": 3.5}
WORKLOADS = tuple(NOMINAL_CYCLE_S)
# the end-to-end metrics of the result line (bounded in BENCHMARK.json)
E2E = ("setup_s", "export_rows_per_s", "import_rows_per_s", "tables_per_s",
       "status_p50_ms", "dump_bytes_per_source_byte")


def D(name, value, old=None):
    d = {"name": name, "value": value}
    if old is not None:
        d["old_value"] = old
    return d


class Client:
    """One closed-loop client over ``request.handle_request``."""

    def __init__(self, spark):
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def _call(self, req: dict) -> dict:
        self.attempted += 1
        try:
            resp = json.loads(
                request.handle_request(json.dumps(req), spark=self.spark).json()
            )
        except DataPumpError as e:
            self.fail(f"{req['request']}: {e}")
            return {"state": "ERROR"}
        if resp.get("error"):
            self.fail(f"{req['request']}: {resp['error']}")
        return resp

    def job(self, name: str, connection: str, payload: dict) -> dict:
        """Run one job to a terminal state; return its wall time, from the
        SUBMIT call to the job's JOB_DONE event, and the status samples
        taken while it ran."""
        dumpdir = payload["dumpfiles"][0]
        status_ms = []
        t0 = time.time()
        state = self._call({
            "request": "SUBMIT",
            "connection": connection,
            "payload": {**payload, "job_name": name, "wait": False},
        }).get("state")
        status = {"request": "STATUS", "payload": {"job_name": name, "dumpdir": dumpdir}}
        while state not in TERMINAL:
            time.sleep(THINK_S)
            s = time.perf_counter()
            state = self._call(status).get("state")
            status_ms.append((time.perf_counter() - s) * 1e3)
        if state != "COMPLETED":
            self.fail(f"job {name} ended {state}")
        done = job_done_time(dumpdir, name) or time.time()
        return {"wall_s": done - t0, "status_ms": status_ms}


def job_done_time(dumpdir: str, name: str) -> float | None:
    """Epoch time of the JOB_DONE event that follows ``name``'s JOB_OPEN."""
    mine, done = False, None
    for ev in DumpSet(dumpdir).read_events():
        if ev["event"] == "JOB_OPEN":
            mine = ev.get("job_name") == name
        elif ev["event"] == "JOB_DONE" and mine:
            done = datetime.fromisoformat(ev["ts"]).timestamp()
    return done


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.src = os.path.join(work, "src")
        self.checks: list[dict] = []
        self.cycles: list[dict] = []
        self.tracer = None
        self.spark = None

    # -- inputs --------------------------------------------------------------
    def generate(self) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.workload,
             "--seed", str(self.seed), "--out", self.work],
            check=True,
        )
        with open(os.path.join(self.work, "expected.json")) as f:
            self.spec = json.load(f)

    def _expect_tables(self, tables: dict, root: str, layout: str, schema: str) -> None:
        """Queue a check of each ``{table: expected digest}`` as written
        under ``root``: a dump set (``dump``), a ``parquet`` warehouse or a
        ``duckdb`` file."""
        for table, exp in tables.items():
            item = {"name": f"{os.path.relpath(root, self.work)}:{schema}.{table}",
                    "kind": "duckdb" if layout == "duckdb" else "parquet", "expect": exp}
            if layout == "duckdb":
                item.update(path=root, schema=schema, table=table)
            elif layout == "dump":
                item["path"] = os.path.join(root, schema, table)
            else:
                item["path"] = os.path.join(root, schema, table + ".parquet")
            self.checks.append(item)

    # -- session ---------------------------------------------------------------
    def start_spark(self):
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        jtmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(jtmp, exist_ok=True)
        return session.get_spark(
            app_name="jobbench",
            master=f"local[{PARALLEL}]",
            shuffle_partitions=PARALLEL,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
            },
        )

    # -- one export + import cycle -----------------------------------------------
    def cycle(self, label: str, tables: dict, src: str, schema: str, target: str,
              target_kind: str, import_directives: list, mode: str = "SCHEMA") -> dict:
        """Export ``tables`` (``{name: expected digest}``) of ``schema``
        from ``src``, import the dump into ``target``; queue the dump's
        checks and return the cycle's measurements."""
        dump = os.path.join(self.work, "runs", label, "dump")
        export_directives = [D("INCLUDE_SCHEMA", schema), D("PARALLEL", PARALLEL),
                             D("COMPRESSION", "ALL")]
        if mode == "TABLE":
            export_directives += [D("INCLUDE_TABLE", t) for t in tables]
        jobs0, gc0 = self.jvm.spark_jobs(), self.jvm.gc_s()
        exp = self.client.job(f"EXP-{label}", "parquet://" + src, {
            "operation": "EXPORT", "mode": mode, "dumpfiles": [dump],
            "directives": export_directives,
        })
        jobs1 = self.jvm.spark_jobs()
        before = probes.listing(target) if target_kind == "parquet" else {}
        imp = self.client.job(f"IMP-{label}", f"{target_kind}://{target}", {
            "operation": "IMPORT", "mode": "SCHEMA", "dumpfiles": [dump],
            "directives": [D("PARALLEL", PARALLEL)] + import_directives,
        })
        after = probes.listing(target) if target_kind == "parquet" else {}
        dump_bytes, dump_files = probes.tree_bytes_files(dump)
        rec = {
            "label": label,
            "export_s": exp["wall_s"],
            "import_s": imp["wall_s"],
            "status_ms": exp["status_ms"] + imp["status_ms"],
            "tables": len(tables),
            "dump_bytes": dump_bytes,
            "dump_files": dump_files,
            "spark_jobs_export": jobs1 - jobs0,
            "spark_jobs_import": self.jvm.spark_jobs() - jobs1,
            "gc_s": self.jvm.gc_s() - gc0,
            "files_rewritten": len(set(before) - set(after)),
            "files_before": len(before),
            "bytes_written": sum(sz for p, sz in after.items() if p not in before),
        }
        self._expect_tables(tables, dump, "dump", schema)
        return rec

    # -- workloads -------------------------------------------------------------------
    def _copy_cycle(self, label: str, part: str) -> dict:
        schema = self.spec[part]["schema"]
        if self.workload == "many_tables":
            target, kind = os.path.join(self.work, "runs", label, "target.duckdb"), "duckdb"
        else:
            target, kind = os.path.join(self.work, "runs", label, "warehouse"), "parquet"
        tables = self.spec[part]["tables"]
        rec = self.cycle(label, tables, self.src, schema, target, kind, [
            D("REMAP_SCHEMA", schema + "_copy", old=schema),
            D("TABLE_EXISTS_ACTION", "REPLACE"),
        ])
        self._expect_tables(tables, target, kind, schema + "_copy")
        rec["rows"] = self.spec[part]["rows"]
        rec["source_bytes"] = self.spec[part]["source_bytes"]
        return rec

    def _merge_cycle(self, label: str, k: int) -> dict:
        main = self.spec["main"]
        rec = self.cycle(
            label, {"orders": main["delta_expect"][k]},
            os.path.join(self.work, "deltas", str(k)), "cdc", self.warehouse, "parquet",
            [D("TABLE_EXISTS_ACTION", "MERGE"), D("MERGE_KEY", "id"), D("MERGE_PRUNE", "ON")],
            mode="TABLE",
        )
        rec["rows"] = main["delta_rows"]
        rec["source_bytes"] = main["delta_bytes"][k]
        return rec

    def load_base(self) -> None:
        """cdc_merge set-up: the base table reaches the warehouse through
        the public Python API (a synchronous export + import)."""
        from oracledb_datapump_spark import Job
        from oracledb_datapump_spark.directives import DirectiveBase as Dir

        self.warehouse = os.path.join(self.work, "warehouse")
        dump = os.path.join(self.work, "runs", "base", "dump")
        for j, conn in (
            (Job("EXPORT", "SCHEMA", dumpfiles=dump, directives=[
                Dir.INCLUDE_SCHEMA("cdc"), Dir.PARALLEL(PARALLEL)]), "parquet://" + self.src),
            (Job("IMPORT", "SCHEMA", dumpfiles=dump, directives=[
                Dir.PARALLEL(PARALLEL), Dir.TABLE_EXISTS_ACTION("REPLACE")]),
             "parquet://" + self.warehouse),
        ):
            self.client.attempted += 1
            st = j.run(connection=conn, spark=self.spark)
            if st.job_state != "COMPLETED":
                self.client.fail(f"base load {j.operation.value} ended {st.job_state}")

    def next_cycle(self, i: int) -> dict:
        label = f"c{i}"
        if self.tracer is not None:
            self.tracer.cycle = label
        if self.workload == "cdc_merge":
            return self._merge_cycle(label, i)
        return self._copy_cycle(label, "main")

    def run(self) -> dict:
        t_setup = time.perf_counter()
        if self.trace:
            import spans

            self.tracer = spans.Tracer()
            self.tracer.install()
            self.tracer.enabled = True
        self.spark = self.start_spark()
        self.jvm = probes.Jvm(self.spark)
        self.client = Client(self.spark)
        t_warm = time.perf_counter()
        self._copy_cycle("warmup", "warmup")
        self.warmup_s = time.perf_counter() - t_warm
        first = 0
        if self.workload != "many_tables":
            if self.workload == "cdc_merge":
                self.load_base()
            # After the tiny warm-up the first full-size cycle still runs
            # up to twice as slow as later ones (JIT and code generation
            # of the data paths), so it is set-up too. On many_tables it
            # would take most of a run's time budget.
            self.next_cycle(0)
            first = 1
        self.setup_s = time.perf_counter() - t_setup

        self.jvm.reset_heap_peak()
        # a traced run alternates untraced / traced / untraced ... cycles,
        # so the traced cycles' warm-up drift is bracketed by untraced ones
        n = max(3 if self.trace else 1, round(self.seconds / NOMINAL_CYCLE_S[self.workload]))
        if self.workload == "cdc_merge":
            n = min(n, len(self.spec["main"]["delta_bytes"]) - first)
        t0 = time.perf_counter()
        for i in range(first, first + n):
            if self.tracer is not None:
                self.tracer.enabled = (i - first) % 2 == 1
            rec = self.next_cycle(i)
            rec["traced"] = bool(self.tracer and self.tracer.enabled)
            self.cycles.append(rec)
        self.measured_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.enabled = False
        self.peak_rss_mb = probes.peak_rss_mb(probes.jvm_pid())
        self.heap_peak_mb = self.jvm.heap_peak_mb()
        if self.workload == "cdc_merge":
            self.checks.append({
                "name": "warehouse:cdc.orders (final)", "kind": "parquet",
                "path": os.path.join(self.warehouse, "cdc", "orders.parquet"),
                "expect": self.spec["main"]["after"][first + n - 1],
            })
        return self.finish()

    # -- results -------------------------------------------------------------------
    def finish(self) -> dict:
        checks = [check.check_output(item) for item in self.checks]
        bad = [c for c in checks if not c["ok"]]
        attempted = self.client.attempted + len(checks)
        failed = self.client.failed + len(bad)
        cyc = self.cycles
        status = [s for c in cyc for s in c["status_ms"]]

        def total(key):
            return sum(c[key] for c in cyc)

        cycle_p50 = statistics.median(c["export_s"] + c["import_s"] for c in cyc)
        design = {
            "setup_s": (self.setup_s, "s"),
            "export_rows_per_s": (total("rows") / total("export_s"), "rows/s"),
            "import_rows_per_s": (total("rows") / total("import_s"), "rows/s"),
            "tables_per_s": (2 * total("tables") / (total("export_s") + total("import_s")),
                             "tables/s"),
            "status_p50_ms": (quantile(status, 0.50), "ms"),
            "dump_bytes_per_source_byte": (total("dump_bytes") / total("source_bytes"), "ratio"),
            # reported, but too noisy here to bound (see README.md)
            "cycle_p50_s": (cycle_p50, "s"),
            "status_p95_ms": (quantile(status, 0.95), "ms"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "failed_ops_ratio": (failed / attempted, "ratio"),
        }
        if self.workload == "cdc_merge":
            design["merge_cycle_p50_s"] = (cycle_p50, "s")
        detail = {
            "workload": self.workload,
            "seed": self.seed,
            "inputs": {k: v for k, v in self.spec["main"].items()
                       if k in ("rows", "source_bytes", "delta_rows")},
            "sizes": self.spec["sizes"],
            "timed_cycles": len(cyc),
            "cycles": [{k: round(c[k], 4) if isinstance(c[k], float) else c[k]
                        for k in ("label", "export_s", "import_s", "traced")} for c in cyc],
            "measured_s": self.measured_s,
            "status_samples": len(status),
            "attempted": attempted,
            "failed": failed,
            "errors": self.client.errors[:5] + [json.dumps(c) for c in bad[:5]],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in design.items()},
        }
        result_metrics = {k: design[k] for k in E2E}
        if self.trace:
            import layers

            result_metrics = layers.layer_metrics(self, PARALLEL)
            spans_path = os.path.join(
                ROOT, ".jobbench", f"spans-{self.workload}-seed{self.seed}.json")
            self.tracer.dump(spans_path)
            detail["spans_file"] = os.path.relpath(spans_path, ROOT)
            self.tracer.uninstall()
        print(json.dumps(detail), flush=True)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
        }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="oracledb_datapump_spark job benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    work = os.path.join(ROOT, ".jobbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), work)
    try:
        bench.generate()
        result = bench.run()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
