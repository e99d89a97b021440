#!/usr/bin/env python3
"""Oracle-checked benchmark of the trackdechets_etl_spark engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload etl_pipelines --seed 1 --seconds 15 --trace 0

One run is one closed loop: a single driver thread on ``local[nproc]``
runs the workload's queries back to back, each one waiting for the
previous one. The run sets up the engine and times it. It generates its
inputs from ``--seed``, runs one cold pass and then warm passes until
``--seconds`` have gone by and at least ``MIN_WARM`` passes are done,
each pass in its own seeded query order. Afterwards, untimed, it checks
every query's output from the last pass against the query's DuckDB
oracle twin.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate, instrumented run (job groups, Spark's event log, spans,
storage and reader probes) that reports the per-layer metrics; its warm
passes alternate traced and untraced so the tracing overhead shows.

Standard output ends with two JSON lines: the run record (provenance,
per-pass and per-query detail, failures) and the result
``{"correct", "attempted", "failed", "metrics"}``. Spark's own output
goes to standard error. Files are written only under
``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
BUILD_DIR = CHECKOUT / ".bench_build" / "perfbench"
PACKAGE = "trackdechets_etl_spark"
# TPC-H scale factor of the generated inputs: lineitem has 6e6 x scale
# rows. Small enough for three warm passes in a run; see README.md.
DEFAULT_SCALE = 0.001
TAIL_BEYOND = 10  # samples a tail percentile must leave above it
# Warm passes of an untraced run, at the least: pass_s is their median,
# so one pass slowed by the host does not move it.
MIN_WARM = 3
# Warm passes of a traced run after its settling pass, repeated while
# --seconds last. One round keeps a traced run near 70 s; the
# untraced pass comes second, so leftover warm-up can only make the
# measured tracing overhead read high, never hide it.
TRACED_ROUND = (True, False)

if str(CHECKOUT) not in sys.path:
    sys.path.insert(0, str(CHECKOUT))

from layers import (  # noqa: E402
    PYTHON_METRICS,
    Spans,
    jvm_peak_rss_mb,
    output_files,
    read_event_log,
    retained_storage_mb,
    storage_memory_mb,
    sum_phases,
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale",
        type=float,
        default=DEFAULT_SCALE,
        help=f"TPC-H scale factor of the generated inputs (default {DEFAULT_SCALE})",
    )
    return p.parse_args(argv)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [median(values)] * 3
    return statistics.quantiles(values, n=4)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with ``TAIL_BEYOND`` samples above it, as
    ``(value, percentile, samples above)``. When that percentile would
    not lie above the median (fewer than ``2 * TAIL_BEYOND + 1``
    samples) the maximum is returned, with no samples above it."""
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        return 0.0, 0.0, 0
    idx = n - 1 - TAIL_BEYOND if n > 2 * TAIL_BEYOND else n - 1
    return ordered[idx], 100.0 * (idx + 1) / n, n - 1 - idx


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        # Field 22 (starttime, clock ticks after boot) follows the
        # parenthesised command name, which may itself contain spaces.
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the host since boot, from
    ``/proc/stat``. Steal is time the hypervisor gave the CPUs to
    someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # where guest time is already counted in user.
    return fields[7], sum(fields[:8])


def base_conf(run_dir: Path) -> dict[str, str]:
    """Benchmark-side settings: keep every file inside ``run_dir`` and
    Spark's progress bars off."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # Without -XX:-UsePerfData every JVM writes /tmp/hsperfdata_<user>.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.hadoop.hadoop.tmp.dir": str(run_dir / "tmp"),
    }


def timed_setup(extra_conf: dict[str, str]):
    """Start the session, import the registry, run a first job.

    Returns ``(spark, registry, timings)``. ``setup_s`` runs from process
    start, so interpreter start-up and imports count, as they do for a
    user's daily run.
    """
    from trackdechets_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    from trackdechets_etl_spark.queries import all_queries

    registry = all_queries()
    spark.range(16).count()
    t2 = time.perf_counter()
    timings = {
        "setup_s": process_age_s(),
        "start_s": t1 - t0,
        "first_job_s": t2 - t1,
    }
    return spark, registry, timings


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # The JVM exits when its stdin pipe closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def git_commit() -> str | None:
    if not (CHECKOUT / ".git").exists():
        return None
    done = subprocess.run(
        ["git", "-C", str(CHECKOUT), "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
    )
    return done.stdout.strip() or None


def package_digest() -> str:
    """sha256 over the package's Python sources, for checkouts that
    are not git repositories."""
    h = hashlib.sha256()
    root = CHECKOUT / PACKAGE
    for path in sorted(root.rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: Path):
        from workloads import WORKLOADS  # needs the package; see main()

        self.args = args
        self.traced_run = bool(args.trace)
        self.workload = WORKLOADS[args.workload]
        self.queries = self.workload.queries
        self.run_dir = run_dir
        self.data_dir = run_dir / "data"
        self.out_dir = run_dir / "out"
        self.nproc = len(os.sched_getaffinity(0))
        self.spans = Spans(self.traced_run)
        self.passes: list[dict] = []
        self.query_runs: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.retained: dict[int, float] = {}
        self.reader_calls: list[float] = []
        self.writer_outputs: dict[int, tuple[int, int]] = {}
        self.rows_out: dict[str, int] = {}
        self.phase_s: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = base_conf(self.run_dir)
        if self.traced_run:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.run_dir / 'eventlog'}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def set_up(self) -> None:
        for sub in ("local", "tmp", "warehouse", "eventlog", "out"):
            (self.run_dir / sub).mkdir(parents=True, exist_ok=True)
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(self.nproc),
                "SPARK_LOCAL_DIRS": str(self.run_dir / "local"),
                "TMPDIR": str(self.run_dir / "tmp"),
                "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
                "PYTHONPATH": os.pathsep.join(
                    [str(CHECKOUT)]
                    + [p for p in [os.environ.get("PYTHONPATH")] if p]
                ),
            }
        )
        with self.spans.span("setup"):
            self.spark, self.registry, self.setup = timed_setup(self.conf())
        self.sc = self.spark.sparkContext

    def prepare_inputs(self) -> None:
        """Generate the seeded inputs and the oracle's answers (untimed)."""
        # Imported after set-up, so set-up time counts only what the
        # engine itself imports.
        import datagen
        from oracle import Oracle

        from trackdechets_etl_spark.io.readers import ALL_TABLES

        with self.spans.span("inputs"):
            self.table_rows = datagen.generate(
                self.data_dir, self.args.seed, self.args.scale
            )
            oracle = Oracle(self.data_dir, ALL_TABLES)
            try:
                self.expected = {
                    q: oracle.expected(self.registry[q].oracle) for q in self.queries
                }
            finally:
                oracle.close()
        self.tables = ALL_TABLES

    # -- passes ---------------------------------------------------------

    def group(self, name: str, pass_no: int, traced: bool) -> None:
        if traced:
            self.sc.setJobGroup(name, f"pass={pass_no}")

    def run_query(self, pass_no: int, query: str, traced: bool):
        spec = self.registry[query]
        self.attempted += 1
        with self.spans.span(f"query:{query}"):
            try:
                t0 = time.perf_counter()
                with self.spans.span("build"):
                    self.group(f"{query}:build", pass_no, traced)
                    df = spec.fn(self.spark, str(self.data_dir))
                t1 = time.perf_counter()
                with self.spans.span("execute"):
                    self.group(f"{query}:execute", pass_no, traced)
                    self.workload.sink(query, df, self.out_dir)
                t2 = time.perf_counter()
            except Exception as exc:  # a failed query must not end the run
                self.failures.append(
                    {"query": query, "pass": pass_no, "error": repr(exc)[:500]}
                )
                return None
        self.query_runs.append(
            {"pass": pass_no, "query": query, "build_s": t1 - t0, "execute_s": t2 - t1}
        )
        if traced:
            with self.spans.span("storage"):
                self.retained[pass_no] = max(
                    self.retained.get(pass_no, 0.0), retained_storage_mb(self.spark)
                )
        return df

    def probe_readers(self, pass_no: int) -> None:
        """One timed ``read_table`` call per corpus table."""
        from trackdechets_etl_spark.io.readers import read_table

        with self.spans.span("readers"):
            for table in self.tables:
                self.group(f"readers:{table}", pass_no, True)
                t0 = time.perf_counter()
                read_table(self.spark, str(self.data_dir), table)
                self.reader_calls.append(time.perf_counter() - t0)

    def run_pass(self, pass_no: int, traced: bool, kind: str) -> dict:
        order = random.Random(self.args.seed * 1_000_003 + pass_no).sample(
            self.queries, len(self.queries)
        )
        if traced and pass_no > 0:
            self.probe_readers(pass_no)
        if self.traced_run and not traced:
            self.sc.setJobGroup("untraced", "untraced")
        frames = {}
        with self.spans.span(f"pass:{pass_no}") as span:
            t0 = time.perf_counter()
            for query in order:
                df = self.run_query(pass_no, query, traced)
                if df is not None:
                    frames[query] = df
            wall = time.perf_counter() - t0
        if traced and self.workload.writes_files:
            outputs = [output_files(self.out_dir / q) for q in frames]
            self.writer_outputs[pass_no] = (
                sum(n for n, _ in outputs),
                sum(b for _, b in outputs),
            )
        self.passes.append(
            {
                "pass": pass_no,
                "kind": kind,
                "traced": traced,
                "wall_s": wall,
                "order": order,
                "span": span["id"] if span else None,
            }
        )
        return frames

    def run_passes(self) -> dict:
        with self.spans.span(f"workload:{self.args.workload}"):
            frames = self.run_pass(0, self.traced_run, "cold")
            if self.traced_run:
                # The first warm pass is still much slower than the next
                # ones; a traced run lets it settle unreported before the
                # traced/untraced comparison.
                frames = self.run_pass(1, False, "settle")
            start = time.perf_counter()
            warm = 0
            min_warm = len(TRACED_ROUND) if self.traced_run else MIN_WARM
            while warm < min_warm or time.perf_counter() - start < self.args.seconds:
                traced = self.traced_run and TRACED_ROUND[warm % len(TRACED_ROUND)]
                frames = self.run_pass(len(self.passes), traced, "warm")
                warm += 1
            self.check(frames, len(self.passes) - 1)
        return frames

    # -- output check ---------------------------------------------------

    def check(self, frames: dict, pass_no: int) -> None:
        """Compare the last pass's outputs with the oracle (untimed)."""
        from oracle import mismatch

        if self.traced_run:
            self.sc.setJobGroup("check", "check")
        t0 = time.perf_counter()
        with self.spans.span("check"):
            for query, df in frames.items():
                with self.spans.span(f"check:{query}"):
                    try:
                        got = df
                        if self.workload.writes_files:
                            got = self.workload.read_back(
                                self.spark, query, df.schema, self.out_dir
                            )
                        rows = got.collect()
                        why = mismatch(self.expected[query], rows, got.columns)
                        self.rows_out[query] = len(rows)
                    except Exception as exc:  # report, keep checking the rest
                        why = f"check raised {exc!r}"[:500]
                if why is not None:
                    self.failures.append({"query": query, "pass": pass_no, "error": why})
        self.phase_s["check"] = time.perf_counter() - t0

    # -- metrics --------------------------------------------------------

    def warm(self, traced: bool | None = None) -> list[dict]:
        return [
            p
            for p in self.passes
            if p["kind"] == "warm" and (traced is None or p["traced"] == traced)
        ]

    def query_times(self, passes: list[dict]) -> list[float]:
        nums = {p["pass"] for p in passes}
        return [
            r["build_s"] + r["execute_s"] for r in self.query_runs if r["pass"] in nums
        ]

    def end_to_end(self) -> tuple[dict, dict]:
        warm = self.warm()
        times = self.query_times(warm)
        tail_value, tail_pct, beyond = tail(times)
        metrics = {
            "setup_s": self.setup["setup_s"],
            "cold_pass_s": self.passes[0]["wall_s"],
            "pass_s": median([p["wall_s"] for p in warm]),
        }
        detail = {
            "pass_s_quartiles": quartiles([p["wall_s"] for p in warm]),
            # Per-query latency over the warm passes' query executions.
            "query_p50_s": median(times),
            "query_tail": {
                "value_s": tail_value,
                "percentile": tail_pct,
                "samples": len(times),
                "samples_above": beyond,
            },
        }
        return metrics, detail

    def per_layer(self) -> tuple[dict, dict]:
        phases, seen = read_event_log(self.run_dir / "eventlog")
        traced = self.warm(traced=True)
        untraced = self.warm(traced=False)
        per_pass: dict[str, list[float]] = {}

        def add(name: str, value: float) -> None:
            per_pass.setdefault(name, []).append(value)

        for p in traced:
            k = p["pass"]
            runs = [r for r in self.query_runs if r["pass"] == k]
            build = sum_phases(phases, k, ":build")
            exe = sum_phases(phases, k, ":execute")
            both = build.totals + exe.totals
            build_s = sum(r["build_s"] for r in runs)
            execute_s = sum(r["execute_s"] for r in runs)
            rows_out = sum(self.rows_out.get(r["query"], 0) for r in runs)
            run_s = exe.totals["run_ms"] / 1e3
            add("queries.build_s", build_s)
            add("queries.build_jobs", build.jobs)
            add("materialize.build_jobs", build.jobs - build.schema_jobs)
            add("materialize.retained_mb", self.retained.get(k, 0.0))
            add("execute_s", execute_s)
            add("execute.jobs", exe.jobs)
            add("execute.stages", exe.stages)
            add("executor.run_s", run_s)
            add("executor.cpu_s", exe.totals["cpu_ns"] / 1e9)
            add("executor.gc_s", exe.totals["gc_ms"] / 1e3)
            add("executor.busy_ratio", ratio(run_s, execute_s * self.nproc))
            add("scan.input_mb", both["scan_file_bytes"] / 1e6)
            add("scan.input_rows", both["scan_rows"])
            add("scan.rows_per_row_out", both["scan_rows"] / max(rows_out, 1))
            add("materialize.read_mb", both["cached_read_bytes"] / 1e6)
            add("shuffle.write_mb", both["shuffle_write_bytes"] / 1e6)
            add("shuffle.read_mb", both["shuffle_read_bytes"] / 1e6)
            add("shuffle.fetch_wait_s", both["fetch_wait_ms"] / 1e3)
            add("spill.mb", both["spill_disk_bytes"] / 1e6)
            add("python.sent_mb", both["python_sent_bytes"] / 1e6)
            add("python.received_mb", both["python_received_bytes"] / 1e6)
            files, out_bytes = self.writer_outputs.get(k, (0, 0))
            rows_written = exe.totals["output_rows"]
            add("writers.s", execute_s if self.workload.writes_files else 0.0)
            add("writers.output_mb", out_bytes / 1e6)
            add("writers.files", files)
            add("writers.bytes_per_row", ratio(out_bytes, rows_written))
            pass_span = self.spans.records[p["span"]]
            add("trace.pass_gap_s", self.spans.self_time(pass_span))
            add(
                "trace.query_self_s",
                sum(
                    self.spans.self_time(c)
                    for c in self.spans.children(pass_span["id"])
                    if c["name"].startswith("query:")
                ),
            )
        reader_jobs = sum(
            ph.jobs for (g, _), ph in phases.items() if g.startswith("readers:")
        )
        traced_wall = median([p["wall_s"] for p in traced])
        untraced_wall = median([p["wall_s"] for p in untraced])
        metrics = {name: median(vals) for name, vals in per_pass.items()}
        overhead_s = traced_wall - untraced_wall
        metrics.update(
            {
                "session.start_s": self.setup["start_s"],
                "session.first_job_s": self.setup["first_job_s"],
                "readers.read_table_s": median(self.reader_calls),
                "readers.jobs_per_read": reader_jobs / max(len(self.reader_calls), 1),
                "jvm.peak_rss_mb": self.jvm_rss_mb,
                "trace.overhead_s": overhead_s,
                "trace.overhead_ratio": ratio(overhead_s, untraced_wall),
            }
        )
        detail = {
            "traced_passes": [p["pass"] for p in traced],
            "untraced_passes": [p["pass"] for p in untraced],
            "python_metrics_exposed": all(m in seen for m in PYTHON_METRICS),
            "self_s": self.spans.self_time_by_name(),
        }
        return metrics, detail

    # -- the run --------------------------------------------------------

    def execute(self) -> tuple[dict, dict]:
        load_before = os.getloadavg()
        ticks_before = cpu_ticks()
        t0 = time.perf_counter()
        with self.spans.span("run"):
            self.set_up()
            try:
                t1 = time.perf_counter()
                self.prepare_inputs()
                storage_mb = storage_memory_mb(self.spark)
                t2 = time.perf_counter()
                self.run_passes()
                self.jvm_rss_mb = jvm_peak_rss_mb(
                    self.sc._jvm.ProcessHandle.current().pid()
                )
                t3 = time.perf_counter()
            finally:
                shutdown(self.spark)
        self.phase_s.update(
            {
                "setup": t1 - t0,
                "inputs": t2 - t1,
                "passes_and_check": t3 - t2,
                "shutdown": time.perf_counter() - t3,
            }
        )
        input_mb = output_files(self.data_dir)[1] / 1e6
        if self.traced_run:
            metrics, detail = self.per_layer()
            trace_file = BUILD_DIR / "traces" / (
                f"{self.args.workload}-seed{self.args.seed}.json"
            )
            self.spans.write(trace_file)
            detail["trace_file"] = str(trace_file.relative_to(CHECKOUT))
        else:
            metrics, detail = self.end_to_end()
        spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
        wanted = spec["per_layer" if self.traced_run else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not computed: {missing}")
        steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
        failed = len({(f["query"], f["pass"]) for f in self.failures})
        # Imported only now, so that set-up time counts only what the
        # engine itself imports.
        import duckdb
        import pyspark

        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "client": "closed loop, one driver thread",
            "master": f"local[{self.nproc}]",
            "nproc": self.nproc,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            # Share of the host's CPU time taken by the hypervisor during
            # the run; a high share marks a run slowed by other guests.
            "cpu_steal_share": ratio(steal, total),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "git_commit": git_commit(),
            "package_sha256": package_digest(),
            "inputs": {
                "scale": self.args.scale,
                "rows": self.table_rows,
                "mb": input_mb,
                "storage_memory_mb": storage_mb,
                "fits_in_storage_memory": input_mb < storage_mb,
            },
            "passes": [
                {k: v for k, v in p.items() if k != "span"} for p in self.passes
            ],
            "queries": {
                q: {
                    "build_s_median": median(
                        [r["build_s"] for r in self.query_runs if r["query"] == q]
                    ),
                    "execute_s_median": median(
                        [r["execute_s"] for r in self.query_runs if r["query"] == q]
                    ),
                    "rows_out": self.rows_out.get(q),
                }
                for q in self.queries
            },
            "phase_s": self.phase_s,
            "fail_ratio": failed / self.attempted,
            "failures": self.failures,
            **detail,
        }
        result = {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                for m in wanted
            },
        }
        return record, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (CHECKOUT / PACKAGE / "__init__.py").is_file():
        print(
            f"perfbench: package {PACKAGE} not found in {CHECKOUT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    # On SIGTERM, unwind normally so Spark, its JVM and the run
    # directory are cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Results go to the real stdout; everything else, the JVM included,
    # writes to stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    run_dir = BUILD_DIR / f"run-{args.workload}-seed{args.seed}-{os.getpid()}"
    try:
        record, result = Bench(args, run_dir).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out.write(json.dumps({"record": record}) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
