"""Layer spans, Spark job groups and the event-log fold.

A traced run wraps every call into a layer's public functions in
:meth:`Tracer.layer`, which opens a span and runs the call's Spark jobs
under their own job group.  After the run, :func:`fold_event_log` reads
the uncompressed Spark event log and sums task metrics per layer.

Jobs submitted from threads the program starts itself (for example the
concurrent dictionary and permutation writes in ``materialize_encoded``)
do not inherit the caller's job group; those jobs are attributed to the
span whose wall-clock interval contains their submission time.  The
benchmark is a single closed-loop client, so at most one span is open at
any time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

LAYERS = (
    "extract", "nodetable", "materialize", "sparql", "update", "rdfpatch",
    "dedup", "textstats", "similarity", "linking",
)
# the generic per-layer set folded from the event log
GENERIC = (
    "wall_s", "task_run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "jobs", "stages",
)


@dataclass
class Span:
    layer: str
    tag: str  # op class or call name inside the layer
    start_ms: float
    end_ms: float
    group: str


@dataclass
class Tracer:
    """Records spans; a disabled tracer only runs the wrapped calls."""

    spark: object = None
    enabled: bool = False
    spans: List[Span] = field(default_factory=list)

    @contextmanager
    def layer(self, name: str, tag: str = "") -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{name}.{tag or 'call'}.{len(self.spans)}"
        sc.setJobGroup(group, f"{name} {tag}".strip())
        t0 = time.time() * 1000
        try:
            yield
        finally:
            t1 = time.time() * 1000
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, tag, t0, t1, group))

    def force(self, df) -> None:
        """Run a DataFrame to completion without keeping it (traced runs
        force each layer's output before the next layer is called)."""
        if self.enabled:
            df.write.format("noop").mode("overwrite").save()

    def span_of(self, t_ms: float) -> Optional[Span]:
        for s in self.spans:
            if s.start_ms <= t_ms <= s.end_ms:
                return s
        return None


@dataclass
class StageSums:
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0


@dataclass
class Folded:
    """Event-log totals keyed by span group."""

    per_group: Dict[str, Dict[str, float]]
    # stages whose RDDs include a Python map-in-Arrow step, with their
    # submission time (ms)
    python_stages: List[float]
    # SQL scan totals per group: output rows, partitions read, scans of
    # partitioned tables
    scans: Dict[str, Dict[str, float]]


def _event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if not files:
        raise FileNotFoundError(f"no finished Spark event log in {log_dir}")
    return max(files, key=os.path.getmtime)


def _plan_metrics(info: dict, out: Dict[int, str]) -> None:
    """Accumulator id → metric kind for the parquet scans of a plan."""
    name = info.get("nodeName", "")
    if name.startswith("Scan parquet"):
        for m in info.get("metrics", ()):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = "rows"
            elif m["name"] == "number of partitions read":
                out[m["accumulatorId"]] = "partitions"
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def fold_event_log(log_dir: str, tracer: Tracer) -> Folded:
    group_of_stage: Dict[int, str] = {}
    stage_sums: Dict[int, StageSums] = defaultdict(StageSums)
    jobs_per_group: Dict[str, int] = defaultdict(int)
    stages_per_group: Dict[str, int] = defaultdict(int)
    exec_group: Dict[int, str] = {}
    accum_kind: Dict[int, str] = {}
    accum_exec: Dict[int, int] = {}
    accum_value: Dict[int, float] = defaultdict(float)
    python_stages: List[float] = []

    def group_for(props: dict, t_ms: float) -> str:
        g = (props or {}).get("spark.jobGroup.id")
        if g:
            return g
        span = tracer.span_of(t_ms)
        return span.group if span else ""

    with open(_event_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = group_for(props, ev.get("Submission Time", 0))
                jobs_per_group[g] += 1
                eid = props.get("spark.sql.execution.id")
                if eid is not None and g:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                t = info.get("Submission Time") or time.time() * 1000
                group_of_stage[info["Stage ID"]] = group_for(
                    ev.get("Properties"), t)
                if any("ArrowEvalPython" in str(r.get("Scope", ""))
                       or "MapInPandas" in str(r.get("Scope", ""))
                       for r in info.get("RDD Info", ())):
                    python_stages.append(t)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages_per_group[group_of_stage.get(sid, "")] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stage_sums[ev["Stage ID"]]
                s.run_ms += m.get("Executor Run Time", 0)
                s.cpu_ns += m.get("Executor CPU Time", 0)
                s.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    aid = acc.get("ID")
                    if aid in accum_kind:
                        accum_value[aid] += float(acc.get("Update") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                ids: Dict[int, str] = {}
                _plan_metrics(ev.get("sparkPlanInfo") or {}, ids)
                for aid, k in ids.items():
                    accum_kind[aid] = k
                    accum_exec[aid] = ev["executionId"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in ev.get("accumUpdates", ()):
                    if aid in accum_kind:
                        accum_value[aid] += float(v)

    per_group: Dict[str, Dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    for sid, s in stage_sums.items():
        g = per_group[group_of_stage.get(sid, "")]
        g["task_run_s"] += s.run_ms / 1000
        g["cpu_s"] += s.cpu_ns / 1e9
        g["gc_s"] += s.gc_ms / 1000
        g["shuffle_read_bytes"] += s.shuffle_read
        g["shuffle_write_bytes"] += s.shuffle_write
    for g, n in jobs_per_group.items():
        per_group[g]["jobs"] += n
    for g, n in stages_per_group.items():
        per_group[g]["stages"] += n
    scans: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for aid, k in accum_kind.items():
        g = exec_group.get(accum_exec[aid], "")
        v = accum_value.get(aid, 0.0)
        scans[g][k] += v
        if k == "partitions" and v > 0:  # scans replaced by reuse never run
            scans[g]["partitioned_scans"] += 1
    return Folded(per_group, python_stages, scans)


def layer_totals(folded: Folded, tracer: Tracer) -> Dict[str, Dict[str, float]]:
    """The generic per-layer set: event-log sums over each layer's groups
    plus ``wall_s``, the layer's span time (spans never nest here, so
    span time is self time)."""
    out = {layer: {k: 0.0 for k in GENERIC} for layer in LAYERS}
    for span in tracer.spans:
        if span.layer not in out:
            continue
        tot = out[span.layer]
        tot["wall_s"] += (span.end_ms - span.start_ms) / 1000
        for k, v in folded.per_group.get(span.group, {}).items():
            tot[k] += v
    return out
