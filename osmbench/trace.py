"""Spans and Spark job counts recorded around calls into osm2orc_spark.

A ``Tracer`` always times the calls the workloads make (the end-to-end
metrics need those walls).  With ``enabled=True`` it also keeps a span per
call (name, start, end, parent, run id) and tags the Spark jobs started
inside a phase span with a job group, so jobs, stages and tasks are
counted where they happen.  Spans stay in memory until ``write``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run_id: str
    enabled: bool = False
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        """Time the block; when tracing, record it and, with
        ``count_jobs``, count the Spark jobs it started."""
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        group = None
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
            if count_jobs:
                group = f"{self.run_id}:{len(self.spans) - 1}"
                self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if group is not None:
                    sc = self.spark.sparkContext
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    self._count(s, group)

    def _count(self, s: Span, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks + stage.numFailedTasks

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "jobs": s.jobs,
                            "stages": s.stages,
                            "tasks": s.tasks,
                        }
                        for i, s in enumerate(self.spans)
                    ],
                },
                f,
            )


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase for ``df``'s own QueryExecution (forces
    its physical plan; the later action plans its own command wrapper)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def phase_metrics(spans, phases: dict[str, float]) -> dict[str, float]:
    """Plan build against execution over one traced pass's spans."""
    build = [s for s in spans if s.name.startswith("build.")]
    execs = [s for s in spans if s.name.startswith("exec.")]
    bj, ej = sum(s.jobs for s in build), sum(s.jobs for s in execs)
    return {
        "build_s": sum(s.wall for s in build),
        "exec_s": sum(s.wall for s in execs),
        "build.jobs": bj,
        "exec.jobs": ej,
        "exec.stages": sum(s.stages for s in execs),
        "exec.tasks": sum(s.tasks for s in execs),
        "build.job_share": bj / (bj + ej) if bj + ej else 0.0,
        "catalyst.analysis_s": phases.get("analysis", 0.0),
        "catalyst.optimization_s": phases.get("optimization", 0.0),
        "catalyst.planning_s": phases.get("planning", 0.0),
    }


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and every live descendant (the JVM and
    the Python workers), in MB, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
