"""Spark session, spans and Spark task metrics for the benchmark.

Everything the benchmark writes goes under ``<checkout>/.perfbench_out``:
Spark's local and temp dirs, the SQL warehouse, engine work dirs and, in a
traced run only, the Spark event log and the span file.

Tracing is off unless asked for. An untraced run keeps no spans and starts
Spark without an event log, so its end-to-end numbers carry no tracing cost.
A traced run records one span around each call the benchmark makes into a
layer, reads Spark's own task metrics back from the event log, and charges
each Spark job to the innermost span open when the job was submitted (by
wall-clock time, so jobs the engine starts from its own threads are charged
too).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".perfbench_out")


def slots() -> int:
    """Task slots: the CPUs this process may run on, at most 4 so that
    hosts with more cores run the same local[4] the figures come from."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_dir(workload: str, seed: int, trace: bool) -> str:
    d = os.path.join(OUT, f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def start_session(rdir: str, trace: bool, env: dict[str, str] | None = None):
    """Start local Spark with the engine's own session factory. ``env`` is
    set before the JVM starts, so the Python workers inherit it too."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(rdir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.update(env or {})
    from cinescrapers_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(rdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(rdir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # Spark 4 compresses with zstd by default; plain JSON lines
                # need no codec to read back.
                "spark.eventLog.compress": "false",
            }
        )
    n = slots()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers it
    forked) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Tracer:
    """Spans kept in memory and written out once at the end. Disabled
    tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every 0.25 s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(0.25)

    @staticmethod
    def _tree_rss_kb() -> int:
        total = 0
        for pid in _tree_stats():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            total += pages * os.sysconf("SC_PAGE_SIZE") // 1024
        return total


def _tree_stats() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name, for this process
    and every live descendant of it."""
    fields: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    me = os.getpid()
    tree = {}
    for pid, f in fields.items():
        p = pid
        while p not in (0, 1, me) and p in fields:
            p = int(fields[p][1])
        if p == me:
            tree[pid] = f
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and its live
    descendants (the JVM and the Python workers it forks), each with the
    children it has reaped. Time the hypervisor gives to other guests (CPU
    steal) is not in it."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _tree_stats().values())
    return ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# Spark event log → per-job task metrics
# --------------------------------------------------------------------------
def read_event_log(rdir: str) -> list[dict]:
    """One record per Spark job: submit/end time and the summed metrics of
    its tasks."""
    files = sorted(
        f for f in glob.glob(os.path.join(rdir, "eventlog", "**"), recursive=True)
        if os.path.isfile(f)
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict, dict]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": [],
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Info", {}), ev.get("Task Metrics") or {}))
    for stage, info, m in tasks:
        jid = stage_job.get(stage)
        if jid is None:
            continue
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        jobs[jid]["tasks"].append(
            {
                "stage": stage,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "deser_s": m.get("Executor Deserialize Time", 0) / 1000.0,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_read_records": sr.get("Total Records Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_write_records": sw.get("Shuffle Records Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
            }
        )
    return [j for j in jobs.values() if j["end"] is not None]


def spark_totals(jobs: list[dict], wall_s: float, n_slots: int) -> dict[str, float]:
    """Summed task metrics of ``jobs`` over a window of ``wall_s`` seconds."""
    ts = [t for j in jobs for t in j["tasks"]]
    out = {
        "executor_run_s": sum(t["run_s"] for t in ts),
        "executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "deserialize_s": sum(t["deser_s"] for t in ts),
        "jobs": len(jobs),
        "stages": len({t["stage"] for t in ts}),
        "tasks": len(ts),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ts),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in ts),
        "shuffle_records": sum(t["shuffle_write_records"] for t in ts),
        "spill_bytes": sum(t["spill_bytes"] for t in ts),
        "input_bytes": sum(t["input_bytes"] for t in ts),
        "output_bytes": sum(t["output_bytes"] for t in ts),
    }
    out["slot_idle_s"] = max(0.0, n_slots * wall_s - out["executor_run_s"])
    # skew: Σ per-stage slowest task / Σ per-stage mean task, over stages
    # with more than one task (1.0 = every stage perfectly balanced)
    by_stage: dict[int, list[float]] = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    multi = [v for v in by_stage.values() if len(v) > 1]
    mean_sum = sum(statistics.fmean(v) for v in multi)
    out["task_skew"] = sum(max(v) for v in multi) / mean_sum if mean_sum > 0 else 1.0
    return out


def jobs_covered_s(jobs: list[dict], start: float, end: float) -> float:
    """Wall time inside [start, end] during which at least one job ran."""
    iv = sorted(
        (max(j["submit"], start), min(j["end"], end))
        for j in jobs
        if j["end"] > start and j["submit"] < end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """span id → jobs submitted while that span was the innermost open one."""
    out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s.get("end", float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[best["id"]].append(j)
    return out
