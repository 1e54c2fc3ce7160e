"""Split each perfbench tick's CPU by process kind and by JVM thread group.

    python3 tools/cpu_split.py [--interval 0.2] -- --workload harvest --seed 7 --seconds 10 --trace 0

Runs ``perfbench/run.py`` (the arguments after ``--``) as a child process
and samples ``/proc`` every ``--interval`` seconds. It reads only ``/proc``
and changes nothing. Process kinds:

- ``driver``: the ``run.py`` process itself;
- ``jvm``: the Spark JVM, split by thread name into ``C2`` and ``C1`` (JIT
  compiler threads), ``exec`` (executor task threads), ``gc`` (GC threads)
  and ``other`` (the JVM's total minus the named groups, so threads that
  exited between samples land there);
- ``python``: the Python worker daemon and the workers it forks;
- ``children``: every other process in the tree, such as ``cc``.

Each process counts its own user + system time as last sampled, so a
process that exits loses at most one interval of CPU. Tick ``N`` runs from
the moment perfbench prints its ``tick`` line minus the tick's wall time
to that moment; the tool reads the totals at the nearest samples. The
``tree`` column is perfbench's own per-tick CPU figure, for comparison.
The sampler's own CPU is not in any column. The last line of standard
output is one JSON object with the same figures.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HZ = os.sysconf("SC_CLK_TCK")
KINDS = ("driver", "jvm", "python", "children")
JVM_GROUPS = ("C2", "C1", "exec", "gc")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, None if it is gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _self_cpu(fields: list[str]) -> float:
    return (int(fields[11]) + int(fields[12])) / HZ  # utime + stime


def _thread_group(comm: str) -> str | None:
    if comm.startswith("C2 Compiler"):
        return "C2"
    if comm.startswith("C1 Compiler"):
        return "C1"
    if comm.startswith("Executor task"):
        return "exec"
    if comm.startswith(("GC Thread", "G1 ", "ZGC", "Parallel GC")):
        return "gc"
    return None


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return False
    return any(b"daemon" in a or b"pyspark.worker" in a for a in argv[1:3])


class Sampler:
    """Last-seen self CPU per pid (with its kind) and per JVM thread, for
    the process tree under ``root``, sampled on a thread."""

    def __init__(self, root: int, interval: float):
        self.root = root
        self.interval = interval
        self.procs: dict[int, tuple[str, float]] = {}
        self.threads: dict[tuple[int, int], tuple[str, float]] = {}
        self.samples: list[tuple[float, dict[str, float]]] = []
        self._kinds: dict[tuple[int, str], str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def _kind(self, pid: int, comm: str, ppid: int) -> str:
        # keyed on the name too: spark-submit's shell execs into the JVM
        if (pid, comm) not in self._kinds:
            if pid == self.root:
                kind = "driver"
            elif comm == "java":
                kind = "jvm"
            elif self._kinds.get((ppid, comm)) == "python":
                kind = "python"  # a worker forked by the daemon
            elif comm.startswith("python") and _is_python_worker(pid):
                kind = "python"
            else:
                kind = "children"
            self._kinds[(pid, comm)] = kind
        return self._kinds[(pid, comm)]

    def sample(self) -> None:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(f"/proc/{d}/stat")
                if st is not None:
                    stats[int(d)] = st
        in_tree = {}
        for pid in sorted(stats):  # parents usually have the lower pid
            p, seen = pid, set()
            while p in stats and p != self.root and p not in seen:
                seen.add(p)
                p = int(stats[p][1][1])
            if p == self.root:
                in_tree[pid] = stats[pid]
        for pid, (comm, fields) in sorted(in_tree.items()):
            kind = self._kind(pid, comm, int(fields[1]))
            self.procs[pid] = (kind, _self_cpu(fields))
            if kind == "jvm":
                self._sample_threads(pid)
        self.samples.append((time.time(), self.totals()))

    def _sample_threads(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                group = _thread_group(st[0])
                if group is not None:
                    self.threads[(pid, int(tid))] = (group, _self_cpu(st[1]))

    def totals(self) -> dict[str, float]:
        out = dict.fromkeys(KINDS + tuple("jvm." + g for g in JVM_GROUPS), 0.0)
        for kind, cpu in self.procs.values():
            out[kind] += cpu
        for group, cpu in self.threads.values():
            out["jvm." + group] += cpu
        out["jvm.other"] = out["jvm"] - sum(out["jvm." + g] for g in JVM_GROUPS)
        return out

    def at(self, t: float) -> dict[str, float]:
        """Totals of the sample nearest to time ``t``."""
        return min(self.samples, key=lambda s: abs(s[0] - t))[1]


def _delta(a: dict, b: dict) -> dict:
    return {k: round(b[k] - a[k], 2) for k in b}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--interval", type=float, default=0.2)
    ap.add_argument("bench_args", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    bench_args = [a for a in args.bench_args if a != "--"]
    t0 = time.time()
    child = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py"), *bench_args],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    sampler = Sampler(child.pid, args.interval)
    sampler.start()
    out: list[str] = []  # drained on a thread so a long stdout cannot block the child
    reader = threading.Thread(target=lambda: out.append(child.stdout.read()))
    reader.start()
    ticks = []
    for line in child.stderr:
        sys.stderr.write(line)
        if line.startswith("tick "):
            ticks.append((time.time(), json.loads(line[5:])))
    child.wait()
    reader.join()
    sampler.stop()
    stdout = out[0] if out else ""

    rows = []
    for i, (t_end, step) in enumerate(ticks, 1):
        wall = step["core"] + step["payload"]
        split = _delta(sampler.at(t_end - wall), sampler.at(t_end))
        rows.append({"tick": i, "wall_s": round(wall, 2), "tree": round(step["cpu"], 2), **split})
    whole = _delta(dict.fromkeys(sampler.samples[-1][1], 0.0), sampler.samples[-1][1])
    cols = ("tree",) + KINDS + tuple("jvm." + g for g in JVM_GROUPS + ("other",))
    print("CPU-s per tick  " + "  ".join(f"{c:>10s}" for c in cols))
    for r in rows:
        print(f"tick {r['tick']:<10d} " + "  ".join(f"{r[c]:10.2f}" for c in cols))
    print("whole run       " + "  ".join(
        f"{'':>10s}" if c == "tree" else f"{whole[c]:10.2f}" for c in cols
    ))
    result = stdout.strip().splitlines()[-1] if stdout.strip() else "{}"
    print(json.dumps({
        "exit_code": child.returncode,
        "run_s": round(time.time() - t0, 1),
        "interval_s": args.interval,
        "ticks": rows,
        "whole_run": whole,
        "perfbench": json.loads(result) if result.startswith("{") else result,
    }))


if __name__ == "__main__":
    main()
