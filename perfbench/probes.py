"""Measurement helpers for the benchmark harness: an in-memory span
tracer, a reader for Spark's status store, process-tree peak memory and
the result stamp. Nothing here changes what the program under test does;
every probe reads state the program or the OS already keeps."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import subprocess
import time
from pathlib import Path


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once, when the run ends. A disabled tracer records nothing, so the
    untraced end-to-end runs pay one context-manager call per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: Path, stamp: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"stamp": stamp, "spans": self.spans}, indent=1))


def _opt_ms(opt) -> float | None:
    """A Scala Option[java.util.Date] as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkStages:
    """Completed-stage counters from Spark's status store. ``mark()``
    returns a cursor; ``since(cursor)`` lists the stages completed after
    it, so a window of work can be attributed without a listener."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()

    def _all(self) -> list:
        jvm = self._jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> set:
        return {(s.stageId(), s.attemptId()) for s in self._all()}

    def since(self, cursor: set) -> list[dict]:
        out = []
        for s in self._all():
            key = (s.stageId(), s.attemptId())
            if key in cursor or str(s.status()) != "COMPLETE":
                continue
            sub, done = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            out.append({
                "stage": key[0], "attempt": key[1],
                "tasks": int(s.numCompleteTasks()),
                "run_ms": float(s.executorRunTime()),
                "gc_ms": float(s.jvmGcTime()),
                "shuffle_write_b": float(s.shuffleWriteBytes()),
                "wall_s": (done - sub) / 1e3 if sub and done else 0.0,
            })
        return sorted(out, key=lambda d: d["stage"])

    def task_run_ms(self, stage: int, attempt: int) -> list[float]:
        seq = self._store.taskList(stage, attempt, 1 << 30)
        out = []
        for i in range(seq.size()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined():
                out.append(float(m.get().executorRunTime()))
        return out


def heaviest(stages: list[dict]) -> dict | None:
    """The stage with the most executor run time — in the extraction
    jobs this is the stage that runs the Python kernel."""
    return max(stages, key=lambda d: d["run_ms"], default=None)


def skew(stages_api: SparkStages, stage: dict | None) -> float:
    """Max over median task run time of one stage (1.0 = balanced)."""
    if stage is None:
        return 0.0
    ms = stages_api.task_run_ms(stage["stage"], stage["attempt"])
    med = statistics.median(ms) if ms else 0.0
    return max(ms) / med if med > 0 else 0.0


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this one)."""
    kids = _children()
    out, stack = [], list(kids.get(pid or os.getpid(), []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak resident memory (VmHWM) over this Python
    driver, the JVM it launched and the pyspark workers below the JVM.
    Forked workers share pages with their daemon, so this over-counts
    shared memory the same way on every run."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------------ stamp


def stamp(root: Path, workload: str, seed: int, cores: int) -> dict:
    """What a result must carry to be comparable with another one."""
    import pandas
    import pyarrow
    import pyspark

    commit = None
    if (root / ".git").exists():  # an exported checkout has no history
        try:
            commit = subprocess.run(
                ["git", "-C", str(root), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.md5()
    pkg = root / "pdf_extract_spark"
    for path in sorted(pkg.rglob("*.py")):
        digest.update(str(path.relative_to(root)).encode())
        digest.update(path.read_bytes())
    return {
        "workload": workload, "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores_used": cores,
        "pyspark": pyspark.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit, "source_md5": digest.hexdigest(),
    }
