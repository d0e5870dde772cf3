"""Spans around calls into the program, and their Spark attribution.

A span is recorded by the benchmark's own code around one call into a
public function of the program (``<module>.<function>``). Spans of one
pass or request share a request id. In traced mode every span runs under
its own Spark job group, so

* its job count comes from ``statusTracker().getJobIdsForGroup``, and
* after the run its jobs are matched, by group id, to the stage and task
  records of the Spark event log (``read_event_log``), which gives the
  driver gap (span wall minus the union of its job intervals), the
  non-JVM share of executor run time, shuffle and spill bytes, and the
  task count and skew of its widest-wall stage.

Spans stay in memory and are reduced to per-layer metrics when the run
ends (``per_layer_metrics``).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

COMMON = ("wall_s", "call_s", "jobs", "driver_gap_s")

# span -> metrics beyond COMMON. Stage metrics are listed only where the
# layer is expected to move them, which keeps the name count small.
SPANS: dict[str, tuple[str, ...]] = {
    "session.get_spark": (),
    "pipeline.run_to_snapshot": ("nonjvm_share",),
    "tiling.assign_tiles": ("slow_stage_tasks", "task_skew"),
    "tiling.salted_repartition": ("slow_stage_tasks", "task_skew"),
    "pip_join.pip_join": ("shuffle_bytes",),
    "knn.knn_join": ("nonjvm_share",),
    "snapshots.write_partitioned": ("files", "task_skew"),
    "snapshots.read_range": ("files_opened", "rows_useful_ratio"),
    "similarity.topk_dot_kernel": ("nonjvm_share",),
    "similarity.ivf_ann_topk": ("nonjvm_share",),
    "similarity.ivf_lloyd_ann_topk": ("nonjvm_share",),
    "similarity.ann_lsh_topk": ("nonjvm_share",),
    "similarity.pq_ann_rescored": ("nonjvm_share",),
    "similarity.sq8_ann_topk": ("nonjvm_share",),
    "similarity.ivf_pq_ann_rescored": ("nonjvm_share",),
    "spatial.knox_stat": ("nonjvm_share", "shuffle_bytes", "slow_stage_tasks", "task_skew"),
    "spatial.distance_join": ("nonjvm_share", "shuffle_bytes", "slow_stage_tasks", "task_skew"),
    "spatial.frechet_dist": ("nonjvm_share", "shuffle_bytes", "slow_stage_tasks", "task_skew"),
    "tiling.co_visitation": ("shuffle_bytes", "spill_bytes"),
}
# in-process spans (no Spark): only a per-image cost
IN_PROCESS = ("imagecodec.decode", "imagecodec.phash64")

UNITS = {
    "wall_s": ("s", "lower"),
    "call_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "driver_gap_s": ("s", "lower"),
    "nonjvm_share": ("ratio", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "slow_stage_tasks": ("count", "higher"),
    "task_skew": ("ratio", "lower"),
    "files": ("count", "lower"),
    "files_opened": ("count", "lower"),
    "rows_useful_ratio": ("ratio", "higher"),
    "s_per_image": ("s/image", "lower"),
    "busy_attributed": ("ratio", "higher"),
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = []
    for span, extra in SPANS.items():
        for m in COMMON + extra:
            out.append((f"{span}.{m}", *UNITS[m]))
    for span in IN_PROCESS:
        out.append((f"{span}.s_per_image", *UNITS["s_per_image"]))
    out.append(("trace.busy_attributed", *UNITS["busy_attributed"]))
    return out


class Span:
    __slots__ = ("sid", "name", "rid", "parent", "t0", "t_call", "t1",
                 "group", "jobs", "extra")

    def __init__(self, sid: int, name: str, rid: int, parent: int | None):
        self.sid, self.name, self.rid, self.parent = sid, name, rid, parent
        self.t0 = self.t_call = self.t1 = 0.0
        self.group: str | None = None
        self.jobs = 0
        self.extra: dict[str, float] = {}

    def called(self) -> None:
        """Mark the end of the eager part of the call; what follows in
        the span is the benchmark materializing the result."""
        self.t_call = time.time()

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def call_s(self) -> float:
        return (self.t_call or self.t1) - self.t0


class Tracer:
    """Records spans. With ``sc`` (traced mode) each span also gets its
    own Spark job group and a job count; without it a span is a timer."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_sid = 0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, sp: Span | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.group, sp.name)

    @contextmanager
    def span(self, name: str, rid: int):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next_sid, name, rid, parent.sid if parent else None)
        self._next_sid += 1
        if self.sc is not None:
            sp.group = f"perfbench-span-{sp.sid}"
            self._set_group(sp)
        self._stack.append(sp)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if self.sc is not None:
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))
                self._set_group(parent)
            self.spans.append(sp)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(lines) -> dict:
    """Jobs, stages and tasks from an uncompressed Spark event log.

    Returns {"jobs": {job_id: {group, start, end, stages}},
             "stages": {stage_id: {submit, complete, tasks}},
             "tasks": {stage_id: [task record, ...]}} with times in epoch
    seconds. Stage ids are keyed without the attempt: a retried stage
    keeps its last attempt's timing and all attempts' tasks."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "submit": info.get("Submission Time", 0) / 1000.0,
                "complete": info.get("Completion Time", 0) / 1000.0,
                "tasks": info["Number of Tasks"],
            }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            shuffle = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                "run": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_metrics(stage_ids, log: dict) -> dict[str, float]:
    """Stage-level metrics over a set of stages (those that ran)."""
    ran = [s for s in stage_ids if s in log["stages"]]
    recs = [t for s in ran for t in log["tasks"].get(s, [])]
    run = sum(t["run"] for t in recs)
    out = {
        "nonjvm_share": max(0.0, (run - sum(t["cpu"] for t in recs)) / run) if run > 0 else 0.0,
        "shuffle_bytes": float(sum(t["shuffle_bytes"] for t in recs)),
        "spill_bytes": float(sum(t["spill_bytes"] for t in recs)),
        "slow_stage_tasks": 0.0,
        "task_skew": 0.0,
    }
    if ran:
        widest = max(ran, key=lambda s: log["stages"][s]["complete"] - log["stages"][s]["submit"])
        out["slow_stage_tasks"] = float(log["stages"][widest]["tasks"])
        durs = [t["dur"] for t in log["tasks"].get(widest, [])]
        med = statistics.median(durs) if durs else 0.0
        out["task_skew"] = max(durs) / med if med > 0 else 1.0
    return out


def span_rows(spans: list[Span], log: dict | None) -> list[dict]:
    """One metric dict per span. Job-based metrics cover the span's whole
    subtree (a parent's wall includes its children's jobs)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    by_group: dict[str, list[int]] = {}
    if log:
        for jid, job in log["jobs"].items():
            if job["group"]:
                by_group.setdefault(job["group"], []).append(jid)

    def subtree(sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.sid, ()))
        return out

    rows = []
    for sp in spans:
        row = {"name": sp.name, "rid": sp.rid, "sid": sp.sid,
               "wall_s": sp.wall_s, "call_s": sp.call_s, **sp.extra}
        tree = subtree(sp)
        row["jobs"] = float(sum(s.jobs for s in tree))
        if log is not None:
            jids = [j for s in tree for j in by_group.get(s.group, ())]
            jobs = [log["jobs"][j] for j in jids]
            busy = union_length(
                [(j["start"], j["end"]) for j in jobs if j["end"] is not None],
                sp.t0, sp.t1,
            )
            row["busy_s"] = busy
            row["driver_gap_s"] = max(0.0, sp.wall_s - busy)
            row.update(stage_metrics([s for j in jobs for s in j["stages"]], log))
        else:
            row["driver_gap_s"] = sp.wall_s
        rows.append(row)
    return rows


def busy_attributed(log: dict, lo: float, hi: float) -> tuple[float, float]:
    """(job-busy seconds in [lo, hi], share of it under a span's group)."""
    done = [j for j in log["jobs"].values() if j["end"] is not None]
    total = union_length([(j["start"], j["end"]) for j in done], lo, hi)
    named = union_length(
        [(j["start"], j["end"]) for j in done
         if (j["group"] or "").startswith("perfbench-span-")], lo, hi,
    )
    return total, (named / total if total > 0 else 1.0)


def per_layer_metrics(rows: list[dict], extra: dict[str, float]) -> dict[str, float]:
    """Median over a span name's occurrences, for every per-layer name.
    A span the workload bypasses reports 0."""
    vals: dict[str, list[float]] = {}
    for r in rows:
        for k, v in r.items():
            if isinstance(v, (int, float)) and k not in ("rid", "sid"):
                vals.setdefault(f"{r['name']}.{k}", []).append(float(v))
    out = {}
    for name, _unit, _better in per_layer_names():
        if name in extra:
            out[name] = extra[name]
        else:
            v = vals.get(name)
            out[name] = statistics.median(v) if v else 0.0
    return out
