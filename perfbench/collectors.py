"""Outside-in collectors for the traced run.

Everything here reads counters the program already keeps, from outside
it: the DAG scheduler's job and stage ids, the application status store,
Catalyst phase trackers of the returned frames, the block manager's
persisted RDDs, streaming progress events, and /proc.  The package under
test carries no tracing code.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        text = f.read()
    # the command name may hold spaces and parentheses; fields follow the last ")"
    return text[text.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, reaped_children: bool = False) -> float:
    """User plus system CPU seconds of ``pid``; with ``reaped_children``
    also the CPU of its children that have exited and been waited for."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if reaped_children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / CLK_TCK


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = int(_stat_fields(int(name))[1])
            except (OSError, ValueError):
                continue  # exited while listing
    return out


def descendants(root: int) -> list[int]:
    parents = _parents()
    found, frontier = [], [root]
    while frontier:
        kids = [p for p, pp in parents.items() if pp in frontier]
        found += kids
        frontier = kids
    return found


def python_workers_cpu(jvm_pid: int) -> tuple[float, int]:
    """CPU seconds of the JVM's Python descendants (the pyspark daemon
    and its forked workers, including reaped ones) and how many are
    alive."""
    total, alive = 0.0, 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd:
                continue
            total += proc_cpu_s(pid, reaped_children=True)
            alive += 1
        except (OSError, ValueError):
            continue
    return total, alive


def io_bytes(pid: int) -> tuple[int, int]:
    """Storage-layer bytes read and written by ``pid`` (/proc/<pid>/io)."""
    fields = {}
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            key, _, value = line.partition(":")
            fields[key] = int(value)
    return fields["read_bytes"], fields["write_bytes"]


class SparkCounters:
    """py4j handles on the driver JVM's scheduler and status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._all_statuses = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.jvm_pid = int(sc._jvm.ProcessHandle.current().pid())

    def next_ids(self) -> tuple[int, int]:
        """(next job id, next stage id): deltas count every job, including
        those of stream threads that a job group does not tag."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def tagged_jobs(self, group: str) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, first: int, last: int) -> dict:
        """Stages, tasks, executor run time, GC time and shuffle bytes of
        the stages with ids in [first, last) that ran."""
        tot = {"stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0}
        for sid in range(first, last):
            try:
                attempts = self._store.stageData(
                    sid, False, self._all_statuses, False, self._no_quantiles)
            except Py4JJavaError:  # id allocated to a stage never submitted
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["task_s"] += sd.executorRunTime() / 1000
                tot["gc_s"] += sd.jvmGcTime() / 1000
                tot["shuffle_mb"] += sd.shuffleWriteBytes() / MB
        return tot

    def persisted(self) -> tuple[int, float]:
        """Persisted RDD count and their cached megabytes."""
        infos = self._jsc.getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return int(self._jsc.getPersistentRDDs().size()), size / MB

    @staticmethod
    def catalyst_ms(df) -> float:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for name in CATALYST_PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                total += opt.get().durationMs()
        return total


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress event of every stream."""

    def __init__(self):
        self.events = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def streaming_totals(progress) -> dict:
    """Micro-batch phase totals of a list of progress events.  State rows
    are those held after the last batch of each stream run."""
    tot = {"batches": len(progress), "input_rows": 0, "add_batch_s": 0.0,
           "planning_s": 0.0, "commit_s": 0.0, "state_commit_s": 0.0}
    last_state = {}
    for p in progress:
        d = p.durationMs
        tot["input_rows"] += p.numInputRows
        tot["add_batch_s"] += d.get("addBatch", 0) / 1000
        tot["planning_s"] += d.get("queryPlanning", 0) / 1000
        tot["commit_s"] += (d.get("walCommit", 0)
                            + d.get("commitOffsets", 0)) / 1000
        tot["state_commit_s"] += sum(
            op.commitTimeMs for op in p.stateOperators) / 1000
        last_state[p.runId] = sum(op.numRowsTotal for op in p.stateOperators)
    tot["state_rows"] = sum(last_state.values())
    return tot
