"""Spans around the benchmark's calls into each engine layer, and
attribution of Spark task metrics to them.

A span is one call into a layer (``api.dedup_latest``,
``pipeline.near_dedup``, ``txn.commit`` ...). While a span is open its id
is the Spark job group, so every job the call runs carries the id in the
event log. After the session stops, :func:`read_event_log` reads the
log's job starts and task ends, and :func:`task_totals` sums each span's
tasks. Spans live in memory until the run ends.

The event log itself is switched on from outside the engine (spark-submit
confs in the runner); :class:`EventLogSwitch` detaches and re-attaches its
listener so that one process can time the same pass with and without
tracing.
"""
from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only hands out
    a scratch dict, so workload code is identical in both modes."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield dict(attrs)
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb{next(self._ids)}",
               "name": name, "layer": name.split(".", 1)[0],
               "parent": parent["id"] if parent else None,
               "attrs": dict(attrs)}
        self.sc.setJobGroup(rec["id"], name)
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


class EventLogSwitch:
    """Detach / re-attach the event-log listener of a running context.
    While detached the listener bus drops nothing but the event log's
    copy of each event, so a pass run in between is untraced."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        opt = jsc.eventLogger()
        self._bus = jsc.listenerBus()
        self._listener = opt.get() if opt.isDefined() else None

    @property
    def available(self) -> bool:
        return self._listener is not None

    def detach(self) -> None:
        self._bus.removeListener(self._listener)

    def attach(self) -> None:
        self._bus.addToEventLogQueue(self._listener)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = s["t1"] - s["t0"] - covered
    return out


def read_event_log(path: str) -> tuple[dict, list[dict], dict]:
    """(stage id -> job group, task records, job group -> jobs started)
    from an uncompressed, unrolled Spark event log."""
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    jobs: dict[str, int] = defaultdict(int)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "failed": bool(info.get("Failed")),
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "input_bytes": inp.get("Bytes Read", 0),
                    "input_rows": inp.get("Records Read", 0),
                })
    return stage_group, tasks, jobs


def task_totals(stage_group: dict, tasks: list[dict]) -> dict[str, dict]:
    """Job group (span id) -> summed task metrics, job and task counts,
    and task skew (max / median task run time in the span's widest
    stage)."""
    per_stage: dict[int, list[dict]] = defaultdict(list)
    for t in tasks:
        per_stage[t["stage"]].append(t)
    out: dict[str, dict] = {}
    for sid, ts in per_stage.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        o = out.setdefault(g, {
            "stages": 0, "tasks": 0, "failed_tasks": 0, "busy_core_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0, "input_rows": 0, "_widest": []})
        o["stages"] += 1
        o["tasks"] += len(ts)
        o["failed_tasks"] += sum(t["failed"] for t in ts)
        for k_out, k_in in (("busy_core_s", "run_s"), ("cpu_s", "cpu_s"),
                            ("gc_s", "gc_s"),
                            ("shuffle_bytes", "shuffle_bytes"),
                            ("spill_bytes", "spill_bytes"),
                            ("input_bytes", "input_bytes"),
                            ("input_rows", "input_rows")):
            o[k_out] += sum(t[k_in] for t in ts)
        if len(ts) > len(o["_widest"]):
            o["_widest"] = ts
    for o in out.values():
        runs = [t["run_s"] for t in o.pop("_widest")]
        med = statistics.median(runs) if runs else 0.0
        o["task_skew"] = max(runs) / med if med > 0 else 1.0
    return out

