"""Per-layer accounting for the traced run.

Two sources, both outside the engine's code:

* ``Spans``: wall-clock spans the benchmark records around its own calls
  into the package (run -> workload -> pass -> query -> build / execute,
  plus set-up, reader probes and the output check). Kept in memory and
  written out when the run ends.
* Spark's JSON event log. Every job carries the job group
  ``<query>:build`` or ``<query>:execute`` (``readers:<table>`` for the
  reader probes) and the description ``pass=<n>``, so each stage's
  metrics are charged to one query, phase and pass.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


class Spans:
    """In-memory span recorder; does nothing when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def children(self, span_id: int) -> list[dict]:
        return [r for r in self.records if r["parent"] == span_id]

    def self_time(self, rec: dict) -> float:
        """Duration not covered by child spans (children never overlap:
        the benchmark has one driver thread)."""
        covered = sum(c["end"] - c["start"] for c in self.children(rec["id"]))
        return rec["end"] - rec["start"] - covered

    def self_time_by_name(self) -> dict[str, float]:
        totals: Counter = Counter()
        for rec in self.records:
            totals[rec["name"].split(":", 1)[0]] += self.self_time(rec)
        return dict(totals)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.records))


# Stage accumulables summed per (group, pass). Times are in ms except
# executorCpuTime (ns); sizes in bytes. Input is split by source: file
# scans ("scan_*") and reads of persisted or checkpointed blocks
# ("cached_read_*"). Task-side byte counts miss parquet reads done on
# other threads, so scanned bytes come from the scans' own driver-side
# SQL metric "size of files read" instead ("scan_file_bytes").
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_rows",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.output.recordsWritten": "output_rows",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}
PYTHON_METRICS = ("python_sent_bytes", "python_received_bytes")


@dataclass
class Phase:
    """Spark work charged to one job group in one pass."""

    jobs: int = 0
    stages: int = 0
    schema_jobs: int = 0  # parquet schema-inference jobs
    totals: Counter = field(default_factory=Counter)


_SQL_EVENT = '{"Event":"org.apache.spark.sql.execution.ui.SparkListener'


def _phase_key(group: str | None, desc: str | None) -> tuple[str, int] | None:
    if group is None or not (desc or "").startswith("pass="):
        return None
    return group, int(desc[len("pass="):])


def _file_size_metrics(plan: dict, out: set[int]) -> None:
    for metric in plan.get("metrics", []):
        if metric["name"] == "size of files read":
            out.add(metric["accumulatorId"])
    for child in plan.get("children", []):
        _file_size_metrics(child, out)


def read_event_log(log_dir: Path) -> tuple[dict[tuple[str, int], Phase], set[str]]:
    """Charge every job and completed stage of the log to its
    ``(job group, pass)``; also return the accumulable names seen."""
    stage_owner: dict[int, tuple[str, int]] = {}
    execution_owner: dict[int, tuple[str, int]] = {}
    size_metrics: set[int] = set()
    driver_updates: dict[tuple[int, int], float] = {}
    phases: dict[tuple[str, int], Phase] = defaultdict(Phase)
    seen: set[str] = set()
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()):
        with open(path) as f:
            for line in f:
                if line.startswith(_SQL_EVENT):
                    ev = json.loads(line)
                    if "sparkPlanInfo" in ev:
                        _file_size_metrics(ev["sparkPlanInfo"], size_metrics)
                    if ev["Event"].endswith("SQLExecutionStart"):
                        key = _phase_key(ev.get("jobGroupId"), ev.get("description"))
                        if key is not None:
                            execution_owner[ev["executionId"]] = key
                    elif ev["Event"].endswith("DriverAccumUpdates"):
                        for acc_id, value in ev["accumUpdates"]:
                            driver_updates[(ev["executionId"], acc_id)] = value
                elif line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    key = _phase_key(
                        props.get("spark.jobGroup.id"), props.get("spark.job.description")
                    )
                    if key is None:
                        continue
                    phase = phases[key]
                    phase.jobs += 1
                    last = ev["Stage Infos"][-1]["Stage Name"] if ev["Stage Infos"] else ""
                    phase.schema_jobs += last.startswith("parquet at ")
                    for sid in ev["Stage IDs"]:
                        stage_owner.setdefault(sid, key)
                elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                    info = json.loads(line)["Stage Info"]
                    key = stage_owner.get(info["Stage ID"])
                    if key is None:
                        continue
                    phase = phases[key]
                    phase.stages += 1
                    scans = any(r["Name"] == "FileScanRDD" for r in info["RDD Info"])
                    for acc in info.get("Accumulables", []):
                        name = _ACCUMULABLES.get(acc.get("Name"))
                        if name is None:
                            continue
                        if name.startswith("input_"):
                            name = name.replace("input", "scan" if scans else "cached_read")
                        seen.add(name)
                        phase.totals[name] += float(acc.get("Value") or 0)
    for (execution, acc_id), value in driver_updates.items():
        key = execution_owner.get(execution)
        if key is not None and acc_id in size_metrics:
            phases[key].totals["scan_file_bytes"] += value
    return dict(phases), seen


def sum_phases(phases: dict[tuple[str, int], Phase], pass_no: int, suffix: str) -> Phase:
    """All phases of one pass whose job group ends with ``suffix``."""
    out = Phase()
    for (group, k), ph in phases.items():
        if k == pass_no and group.endswith(suffix):
            out.jobs += ph.jobs
            out.stages += ph.stages
            out.schema_jobs += ph.schema_jobs
            out.totals.update(ph.totals)
    return out


def jvm_peak_rss_mb(pid: int) -> float:
    """High-water resident set of the JVM (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def retained_storage_mb(spark) -> float:
    """Block-manager storage held by persisted or checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def storage_memory_mb(spark) -> float:
    """Total storage memory across block managers."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._1()
    return total / 1e6


def output_files(path: Path) -> tuple[int, int]:
    """(data files, bytes) under a directory, skipping ``_SUCCESS``,
    ``.crc`` and other hidden files."""
    files = [
        p
        for p in path.rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    ]
    return len(files), sum(p.stat().st_size for p in files)
