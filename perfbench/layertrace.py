"""Per-layer spans folded from Spark's event log.

The benchmark wraps each call into a layer's public function in a `Span`:
a unique Spark job group plus wall-clock start/end. After the session
stops, `fold` reads the event log and attributes every job and task to
its span through the job group, so the library itself is not instrumented.
Work sums (task CPU, shuffle, spill, peak task memory, task count) come
from `tools/workmetrics.parse_event_log`; this reader adds what that one
does not keep: jobs, stages, failed task attempts, output bytes, the
longest task, and `driver_s`, the part of the span's wall time during
which no task of the span was running.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import workmetrics  # tools/, put on sys.path by run.py

COMMON = (
    "wall_s", "first_wall_s", "driver_s", "jobs", "stages", "tasks", "task_cpu_s",
    "shuffle_write_mb", "spill_mb", "peak_task_mem_mb", "task_failures",
)
# layer -> extra metrics beyond COMMON
LAYERS = {
    "session": (),
    "prep": (),
    "pages": (),
    "snapshots": ("output_mb",),
    "triangles": ("max_task_s",),
    "pagerank": ("rounds",),
    "components": ("rounds",),
    "labelprop": ("rounds",),
    "pipeline": (),
}


@dataclass
class Span:
    group: str
    layer: str
    name: str
    phase: str  # "setup<k>" or "pass<k>"
    start: float
    end: float = 0.0
    rounds: int | None = None


@dataclass
class Tracer:
    """Records spans; with `spark` unset (untraced run) it only times."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    phase: str = "setup0"

    @contextmanager
    def span(self, layer: str, name: str):
        group = f"{layer}#{len(self.spans)}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, layer)
        s = Span(group, layer, name, self.phase, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)
            if sc is not None:
                sc.setJobGroup("bench", "benchmark bookkeeping")


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def _extras(paths: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages, failed attempts, output MB, task
    intervals (ms) and the longest task (s)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(
            group, {"jobs": 0, "stages": 0, "task_failures": 0, "output_mb": 0.0,
                    "intervals": [], "max_task_s": 0.0}
        )

    for path in paths:
        with open(path) as fh:
            events = [json.loads(line) for line in fh]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "<ungrouped>")
                acc(group)["jobs"] += 1
                for info in ev.get("Stage Infos", []):
                    stage_group[info["Stage ID"]] = group
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                acc(stage_group.get(sid, "<ungrouped>"))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                a = acc(stage_group.get(ev.get("Stage ID"), "<ungrouped>"))
                info = ev.get("Task Info", {})
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    a["task_failures"] += 1
                launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                if finish > launch > 0:
                    a["intervals"].append((launch, finish))
                    a["max_task_s"] = max(a["max_task_s"], (finish - launch) / 1e3)
                tm = ev.get("Task Metrics") or {}
                a["output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
    return out


def _log_files(log_dir: str, app_id: str) -> list[str]:
    """The application's event log: one file, or the numbered parts of a
    rolling log (Spark's default) in order."""
    for name in (app_id, app_id + ".inprogress"):
        if os.path.exists(os.path.join(log_dir, name)):
            return [os.path.join(log_dir, name)]
    sub = os.path.join(log_dir, "eventlog_v2_" + app_id)
    if not os.path.isdir(sub):
        return []
    parts = [n for n in os.listdir(sub) if n.startswith("events_")]
    return [os.path.join(sub, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def fold(spans: list[Span], log_dir: str, app_ids: list[str]) -> dict[str, float]:
    """Per-layer metrics `<layer>.<metric>` for every layer in LAYERS.

    A layer's value is the median over warm set-ups (all but the first)
    plus the median over warm passes (all but the first) of its per-phase
    sums; where the layer ran in a single phase of a kind (the session
    start), that phase counts. `first_wall_s` is its wall in the first
    set-up plus the first pass. `peak_task_mem_mb` is the maximum and
    `task_failures` the total over the run. A layer the workload never
    calls reads 0."""
    work: dict[str, dict] = {}
    extra: dict[str, dict] = {}
    for app in app_ids:
        work.update(workmetrics.parse_event_log(log_dir, app))
        extra.update(_extras(_log_files(log_dir, app)))

    def per_span(s: Span) -> dict[str, float]:
        w, e = work.get(s.group, {}), extra.get(s.group, {})
        lo, hi = s.start * 1e3, s.end * 1e3
        return {
            "wall_s": s.end - s.start,
            "driver_s": (hi - lo - _union_ms(e.get("intervals", []), lo, hi)) / 1e3,
            "jobs": e.get("jobs", 0),
            "stages": e.get("stages", 0),
            "tasks": w.get("n_tasks", 0),
            "task_cpu_s": w.get("cpu_s", 0.0),
            "shuffle_write_mb": w.get("shuffle_write_mb", 0.0),
            "spill_mb": w.get("spill_mb", 0.0),
            "peak_task_mem_mb": w.get("peak_task_mem_mb", 0.0),
            "task_failures": e.get("task_failures", 0),
            "output_mb": e.get("output_mb", 0.0),
            "max_task_s": e.get("max_task_s", 0.0),
            "rounds": s.rounds or 0,
        }

    phases: dict[str, dict[str, dict[str, float]]] = {}  # layer -> phase -> sums
    for s in spans:
        row = per_span(s)
        cur = phases.setdefault(s.layer, {}).setdefault(s.phase, {})
        for k, v in row.items():
            if k in ("peak_task_mem_mb", "max_task_s"):
                cur[k] = max(cur.get(k, 0.0), v)
            else:
                cur[k] = cur.get(k, 0.0) + v

    out: dict[str, float] = {}
    for layer, extras in LAYERS.items():
        by_phase = phases.get(layer, {})
        setups, passes = (
            [by_phase[p] for p in sorted((p for p in by_phase if p.startswith(prefix)),
                                         key=lambda p: int(p[len(prefix):]))]
            for prefix in ("setup", "pass")
        )

        def warm(key: str) -> float:
            # a phase kind the layer ran in once only (the session start)
            # counts that one run
            return sum(
                statistics.median(v[key] for v in group[1:] or group)
                for group in (setups, passes) if group
            )

        for name in COMMON + extras:
            if name == "first_wall_s":
                val = sum(g[0]["wall_s"] for g in (setups, passes) if g)
            elif name == "peak_task_mem_mb":
                val = max((v[name] for v in setups + passes), default=0.0)
            elif name == "task_failures":
                val = sum(v[name] for v in setups + passes)
            else:
                val = warm(name)
            out[f"{layer}.{name}"] = val
    return out

