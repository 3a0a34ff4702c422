"""Per-layer metrics of a traced run, named after the engine's modules.

Units of work are the top-level ``harness.*`` spans the tracer recorded
(a chain pass, or one ingest operation). Generic layer figures are the
mean per unit; per-call figures (``api.<fn>.s`` ...) are the median over
calls. A layer or call the workload does not exercise reports 0.
"""
from __future__ import annotations

import statistics
from collections import defaultdict

from spans import self_times

GENERIC_LAYERS = ["io", "api", "ts", "pipeline", "txn"]
GENERIC = [("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
           ("busy_core_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
           ("idle_core_s", "s")]
API_FNS = ["dedup_latest", "resample", "forward_fill", "sessionize",
           "asof_join_backward", "zscore_flags"]
API_METRICS = [("s", "s"), ("shuffle_bytes", "bytes"),
               ("spill_bytes", "bytes"), ("task_skew", "ratio"),
               ("rows_out", "rows")]
PIPELINE_STAGES = ["clean_boilerplate", "exact_dedup", "near_dedup",
                   "semantic_dedup_filter", "quality_filter",
                   "model_quality_filter", "decontaminate_filter",
                   "split_train_val", "pack_accounting"]
PIPELINE_METRICS = [("s", "s"), ("survivor_ratio", "ratio"),
                    ("shuffle_bytes", "bytes")]
TXN = [("write_s", "s"), ("commit_s", "s"), ("noop_commits", "count"),
       ("conflict_retries", "count"), ("resolve_s", "s"),
       ("manifests_read", "count"), ("active_dirs", "count"),
       ("compact_s", "s"), ("checkpoint_s", "s"),
       ("bytes_written", "bytes"), ("write_amplification", "ratio")]


def spec(pipeline: bool = True) -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order; the
    ``pipeline`` layer's only with ``pipeline`` (corpus_curation is the
    one workload that runs it)."""
    out = [("session.get_session_s", "s"), ("io.load_s", "s"),
           ("io.input_bytes", "bytes"), ("io.input_rows", "rows"),
           ("io.files_read", "count")]
    for fn in API_FNS:
        out += [(f"api.{fn}.{m}", u) for m, u in API_METRICS]
    out += [("ts.pipeline_timeseries_audit.s", "s"),
            ("ts.pipeline_timeseries_audit.shuffle_bytes", "bytes")]
    for st in PIPELINE_STAGES if pipeline else []:
        out += [(f"pipeline.{st}.{m}", u) for m, u in PIPELINE_METRICS]
    out += [(f"txn.{m}", u) for m, u in TXN]
    for layer in GENERIC_LAYERS:
        if pipeline or layer != "pipeline":
            out += [(f"{layer}.{m}", u) for m, u in GENERIC]
    out += [("harness.gen_late_s", "s"), ("harness.tracing_overhead", "ratio")]
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(spans: list[dict], units: set[str], groups: dict,
              jobs: dict, k: int, fixed: dict) -> dict[str, float]:
    """``units``: ids of the traced top-level spans to count;
    ``groups``/``jobs``: task totals and job counts per span id;
    ``fixed``: metrics measured outside spans (session start, run-wide
    transaction counts, lateness, tracing overhead)."""
    by_id = {s["id"]: s for s in spans}

    def unit_of(s: dict) -> str | None:
        while s["parent"]:
            s = by_id[s["parent"]]
        return s["id"] if s["id"] in units else None

    selft = self_times(spans)
    inner = [s for s in spans if s["parent"] and unit_of(s)]
    zero = {"tasks": 0, "failed_tasks": 0, "busy_core_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0, "input_rows": 0, "task_skew": 0.0}
    g = lambda s: groups.get(s["id"], zero)  # noqa: E731

    calls: dict[str, list[dict]] = defaultdict(list)
    for s in inner:
        calls[s["name"]].append(s)

    def med(name: str, f) -> float:
        return _median([f(s) for s in calls.get(name, [])])

    n_units = max(len(units), 1)
    out = {name: 0.0 for name, _ in spec()}
    out.update(fixed)

    out["io.load_s"] = med("io.load", lambda s: selft[s["id"]])
    out["io.input_bytes"] = sum(g(s)["input_bytes"] for s in inner) / n_units
    out["io.input_rows"] = sum(g(s)["input_rows"] for s in inner) / n_units
    out["io.files_read"] = sum(s["attrs"].get("files", 0)
                               for s in calls["io.load"]) / n_units
    for fn in API_FNS:
        n = f"api.{fn}"
        out[f"{n}.s"] = med(n, lambda s: selft[s["id"]])
        out[f"{n}.shuffle_bytes"] = med(n, lambda s: g(s)["shuffle_bytes"])
        out[f"{n}.spill_bytes"] = med(n, lambda s: g(s)["spill_bytes"])
        out[f"{n}.task_skew"] = med(n, lambda s: g(s)["task_skew"])
        out[f"{n}.rows_out"] = med(n, lambda s: s["attrs"].get("rows_out", 0))
    n = "ts.pipeline_timeseries_audit"
    out[f"{n}.s"] = med(n, lambda s: selft[s["id"]])
    out[f"{n}.shuffle_bytes"] = med(n, lambda s: g(s)["shuffle_bytes"])
    for st in PIPELINE_STAGES:
        n = f"pipeline.{st}"
        out[f"{n}.s"] = med(n, lambda s: selft[s["id"]])
        out[f"{n}.survivor_ratio"] = med(
            n, lambda s: s["attrs"]["rows_out"] / max(s["attrs"]["rows_in"], 1))
        out[f"{n}.shuffle_bytes"] = med(n, lambda s: g(s)["shuffle_bytes"])
    for m, name in (("write_s", "txn.write"), ("commit_s", "txn.commit"),
                    ("resolve_s", "txn.resolve"), ("compact_s", "txn.compact"),
                    ("checkpoint_s", "txn.checkpoint")):
        out[f"txn.{m}"] = med(name, lambda s: selft[s["id"]])
    out["txn.manifests_read"] = med(
        "txn.resolve", lambda s: s["attrs"]["manifests_read"])
    out["txn.active_dirs"] = med(
        "txn.resolve", lambda s: s["attrs"]["active_dirs"])

    for layer in GENERIC_LAYERS:
        ss = [s for s in inner if s["layer"] == layer]
        busy = sum(g(s)["busy_core_s"] for s in ss)
        wall = sum(selft[s["id"]] for s in ss)
        out[f"{layer}.jobs"] = sum(jobs.get(s["id"], 0) for s in ss) / n_units
        out[f"{layer}.tasks"] = sum(g(s)["tasks"] for s in ss) / n_units
        out[f"{layer}.failed_tasks"] = sum(
            g(s)["failed_tasks"] for s in ss) / n_units
        out[f"{layer}.busy_core_s"] = busy / n_units
        out[f"{layer}.cpu_s"] = sum(g(s)["cpu_s"] for s in ss) / n_units
        out[f"{layer}.gc_s"] = sum(g(s)["gc_s"] for s in ss) / n_units
        out[f"{layer}.idle_core_s"] = (k * wall - busy) / n_units
    return out
