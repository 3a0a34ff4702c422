#!/usr/bin/env python3
"""The repository's benchmark of record.

    python3 perfbench/run.py --workload sensor_etl --seed 1 --seconds 6 --trace 0

Workloads: ``sensor_etl``, ``telemetry_ingest`` and, outside
``BENCHMARK.json`` while an engine defect makes its check fail,
``corpus_curation`` (see README.md in this directory). The run generates
its inputs from ``--seed`` under ``.perfbench_work/`` in the repository
root, starts a Spark session at ``local[K]`` ``SETUPS`` times, each on a
fresh JVM, warms the last one up (telemetry_ingest only; the batch
workloads time their cold first pass), measures for ``--seconds``,
checks every output against DuckDB, and prints two JSON lines: a full
report (every figure with its unit, box state, input properties,
failures), then the result line ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
is a separate traced run (Spark event log on, spans around every layer
call) that reports the per-layer metrics instead.

``--closed-loop`` (telemetry_ingest only) runs the operations back to
back instead of on the schedule and reports the achieved append rate;
it is how the fixed offered rate in ``workloads.INGEST_RATE_HZ`` was set.
"""
from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "industry_big_data_time_sequence_process_spark"

#: Spark parallelism: local[K], fixed here rather than derived from the
#: machine so that runs on different boxes do the same work per core.
K = 4
#: Fixed driver heap (-Xms = -Xmx), touched in full at JVM start. How much
#: of a growing or untouched heap a short run touches depends on the
#: collector's timing: peak RSS then varied by 15-24% between runs. With
#: the heap pre-touched, peak RSS moves with the JVM's off-heap memory
#: (metaspace, code cache, Arrow and network buffers) and the Python
#: driver's; heap pressure shows as GC time in ``cpu_us_per_row``.
DRIVER_MEMORY = "2g"
#: Session starts per timed run, each on a fresh JVM; ``setup_s`` counts
#: their median. The warm-up runs once, on the last session: repeating it
#: too made a telemetry_ingest run ~30 s longer, 60 s under heavy steal,
#: which the time budget for all runs does not hold. A traced run starts
#: one session.
SETUPS = 3
#: A run is flagged as contaminated in the report when its 1-minute load
#: average at start exceeds the core count (other work was queued), or
#: when the hypervisor stole more than this share of the CPU time during
#: the run.
CONTAMINATED_STEAL = 0.2

#: The gated metrics. Wall-clock latencies and throughput, and the
#: per-operation CPU median, are in the report line but not here: on a
#: shared VM the wall figures moved by 30-75% between runs with the
#: hypervisor's steal, and the CPU median of a run's few ~0.5 s appends
#: by ~15%, while the process tree's CPU per input row over the whole
#: run moved by 4-8%. A change that only adds waiting or removes
#: parallelism therefore passes the gate; the report line shows it.
END_TO_END = [("setup_s", "s"), ("cpu_us_per_row", "us"),
              ("peak_rss_mb", "MB")]


def _process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    now = time.time()
    return now - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _percentiles(xs: list[float]) -> dict:
    """Median, and the highest of p75/p90/p99 with >= 10 samples beyond
    it, with the sample count."""
    out = {"n": len(xs)}
    if not xs:
        return out
    s = sorted(xs)
    out["p50"] = statistics.median(s)
    for p in (99, 90, 75):
        if len(s) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = s[min(len(s) - 1, int(p / 100 * len(s)))]
            break
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024


def _setup_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    make the package importable by Spark's Python workers from any cwd;
    switch the event log on from outside the engine when tracing."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"),
              os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort on a hung JVM
            proc.kill()
            proc.wait()


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _box(load_start, ticks_start) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    nproc = os.cpu_count() or 0
    d = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    steal = d[7] / sum(d) if sum(d) else 0.0
    return {"nproc": nproc, "k": K, "loadavg_start": list(load_start),
            "loadavg_end": list(os.getloadavg()), "steal_share": steal,
            "contaminated": load_start[0] > nproc or steal > CONTAMINATED_STEAL,
            "spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


def _trace_hooks(ctx, sc):
    """Attach the tracing hooks to a traced run's session; returns the
    event-log switch, or None when the event log is off."""
    from spans import EventLogSwitch

    switch = EventLogSwitch(sc)
    if not switch.available:
        return None

    def before_unit(i: int) -> None:
        # even units traced, odd ones untraced with the event log
        # detached: the pairs give the tracing overhead
        on = i % 2 == 0
        if on != ctx.tracer.enabled:
            (switch.attach if on else switch.detach)()
            ctx.tracer.enabled = on

    ctx.before_unit = before_unit
    ctx.min_units = 3
    switch.detach()
    return switch


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sensor_etl", "corpus_curation",
                             "telemetry_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--closed-loop", action="store_true")
    args = ap.parse_args(argv)
    t_proc = _process_start_epoch()
    load_start, ticks_start = os.getloadavg(), _cpu_ticks()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to "
              f"{os.path.basename(HERE)}/ — run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _setup_env(work, bool(args.trace))
    sys.path.insert(1, ROOT)

    import checks
    import layers
    import workloads as W
    from spans import Tracer, read_event_log, task_totals
    from industry_big_data_time_sequence_process_spark.session import (
        get_session,
    )

    name = args.workload
    prepare, warm, measure = {
        "sensor_etl": (W.sensor_prepare, W.cold_start, W.sensor_measure),
        "corpus_curation": (W.corpus_prepare, W.cold_start,
                            W.corpus_measure),
        "telemetry_ingest": (W.ingest_prepare, W.ingest_warm,
                             W.ingest_measure),
    }[name]
    ctx = W.Ctx(None, None, work, args.seed, args.seconds,
                closed_loop=args.closed_loop)

    t, c = time.time(), W.tree_cpu_s()
    props = prepare(ctx)
    gen_s, gen_cpu_s = time.time() - t, W.tree_cpu_s() - c

    # set-up: SETUPS session starts, each on a fresh JVM (every earlier
    # session is stopped before the next starts), then the untimed
    # warm-up on the last session, which also runs the timed window
    pre_cpu = W.tree_cpu_s() - gen_cpu_s
    pre_wall = time.time() - t_proc - gen_s
    session_cpu, session_wall, spark, switch = [], [], None, None
    try:
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                _stop(spark)
            t, c = time.time(), W.tree_cpu_s()
            spark = get_session(app_name=f"perfbench-{name}", cpus=K)
            session_s = time.time() - t
            sc = spark.sparkContext
            ctx.spark, ctx.tracer = spark, Tracer(sc, enabled=False)
            if args.trace:
                switch = _trace_hooks(ctx, sc)
                if switch is None:
                    print("perfbench: event log not enabled", file=sys.stderr)
                    _stop(spark)
                    return 2
            session_cpu.append(W.tree_cpu_s() - c)
            session_wall.append(time.time() - t)
        t, c = time.time(), W.tree_cpu_s()
        warm(ctx)
        warm_cpu, warm_wall = W.tree_cpu_s() - c, time.time() - t
        jvm_pid = next(iter(W.child_pids(os.getpid())), None)
        res = measure(ctx, props)
    except Exception:  # noqa: BLE001 - report, never print a result
        traceback.print_exc()
        if spark is not None:
            _stop(spark)
        return 1
    if switch and not ctx.tracer.enabled:
        switch.attach()  # the log also gets the application-end event
    ctx.tracer.enabled = False
    peak_rss = _peak_rss_mb(jvm_pid)
    app_id = sc.applicationId
    _stop(spark)

    # ---- reference checks (after the timed region) ----
    try:
        if name == "sensor_etl":
            failures = checks.sensor(
                os.path.join(work, "sensor"), W.SESSION_GAP_MIN,
                [(f"pass {i + 1}", p) for i, p in
                 enumerate(res.outputs.get("passes", []))],
                res.outputs.get("fingerprint"))
        elif name == "corpus_curation":
            failures = checks.corpus(os.path.join(work, "corpus"),
                                     res.outputs.get("passes", []))
        else:
            failures = checks.ingest(os.path.join(work, "landing"),
                                     res.outputs.get("queries", []),
                                     res.outputs["final"])
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        failures = ["reference check raised"]
    res.failed += len(failures)
    res.failures += failures
    res.attempted = max(res.attempted, 1)

    # set-up: process start to the first timed operation, input
    # generation excluded: the one-time interpreter start and imports, the
    # median of the SETUPS session starts, and the warm-up. The gated
    # figure is its process-tree CPU time; its wall time swung by 20-32%
    # between runs with the JVM start under hypervisor steal.
    setup_s = pre_cpu + statistics.median(session_cpu) + warm_cpu
    setup_wall_s = pre_wall + statistics.median(session_wall) + warm_wall
    lat = _percentiles(res.samples)
    if name == "telemetry_ingest":  # rows landed per busy second
        rows_per_s = res.rows / res.busy_s if res.busy_s else 0.0
    else:  # input rows per median pass
        rows_per_s = (res.rows / len(res.samples) / lat["p50"]
                      if res.samples else 0.0)
    op_cpu_s = statistics.median(res.cpu) if res.cpu else 0.0
    cpu_us_per_row = res.window_cpu_s * 1e6 / res.rows if res.rows else 0.0

    def fig(value, unit, **kw):
        return {"value": value, "unit": unit, **kw}

    e2e = {"setup_s": fig(setup_s, "s"),
           "setup_wall_s": fig(setup_wall_s, "s"),
           "session_cpu_s": fig(session_cpu, "s", n=len(session_cpu)),
           "warm_cpu_s": fig(warm_cpu, "s"),
           "gen_s": fig(gen_s, "s"), "session_s": fig(session_s, "s"),
           "rows_per_s": fig(rows_per_s, "rows/s"),
           "op_cpu_s": fig(op_cpu_s, "s", n=len(res.cpu)),
           "cpu_us_per_row": fig(cpu_us_per_row, "us"),
           "peak_rss_mb": fig(peak_rss, "MB"),
           "fail_ratio": fig(res.failed / res.attempted, "ratio",
                             failed=res.failed, attempted=res.attempted)}
    report = {"workload": name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "box": _box(load_start, ticks_start),
              "inputs": props, "end_to_end": e2e,
              "failures": res.failures[:20]}
    if name == "telemetry_ingest":
        ex = res.extra
        q = _percentiles(ex["latencies"]["query"])
        e2e["append_p50_s"] = fig(lat.get("p50"), "s", n=lat["n"])
        e2e["append_p90_s"] = fig(
            sorted(res.samples)[int(0.9 * len(res.samples))]
            if res.samples else None, "s", n=lat["n"])
        e2e["query_p50_s"] = fig(q.get("p50"), "s", n=q["n"])
        e2e["gen_late_s"] = fig(ex["gen_late_s"], "s")
        report["append_s"] = lat
        report["append_latencies_s"] = [round(x, 3) for x in res.samples]
        report["query_s"] = q
        report["compact_s"] = _percentiles(ex["latencies"]["compact"])
        report["replay_s"] = _percentiles(ex["latencies"]["replay"])
        report.update({k: ex[k] for k in ("wall_s", "offered_rate_hz",
                                          "replay_bytes")})
        if args.closed_loop:
            report["closed_loop_appends_per_s"] = ex["appends"] / ex["wall_s"]
    else:
        e2e["pass_p50_s"] = fig(lat.get("p50"), "s", n=lat["n"])
        report["pass_s"] = lat
        report["pass_times_s"] = [round(x, 3) for x in res.samples]
    props.pop("rows_per_batch", None)

    if not args.trace:
        values = {"setup_s": setup_s, "cpu_us_per_row": cpu_us_per_row,
                  "peak_rss_mb": peak_rss}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    else:
        log = os.path.join(work, "eventlog", app_id)
        stage_group, tasks, jobs = read_event_log(log)
        groups = task_totals(stage_group, tasks)
        spans = ctx.tracer.spans
        tops = [s for s in spans
                if s["parent"] is None and s["name"].startswith("harness.")]
        units = {s["id"] for s in tops}
        if name != "telemetry_ingest":
            # the timed metric is the cold first pass: report its layers
            units = {tops[0]["id"]}
        samples = list(zip(res.traced, res.samples))[1:]
        on = [x for t, x in samples if t]
        off = [x for t, x in samples if not t]
        ex = res.extra
        fixed = {
            "session.get_session_s": session_s,
            "harness.gen_late_s": ex.get("gen_late_s", 0.0),
            "harness.tracing_overhead": (statistics.median(on)
                                         / statistics.median(off)
                                         if on and off else 0.0),
        }
        if name == "telemetry_ingest":
            fixed.update({
                "txn.noop_commits": ex["noop_commits"],
                "txn.conflict_retries": ex["conflict_retries"],
                "txn.bytes_written": ex["bytes_written"],
                "txn.write_amplification":
                    ex["bytes_written"] / max(ex["bytes_ingested"], 1),
            })
        vals = layers.per_layer(spans, units, groups, jobs, K, fixed)
        metrics = {n: {"value": vals[n], "unit": u}
                   for n, u in layers.spec(name == "corpus_curation")}
        report["traced_units"] = len(units)
        report["tracing_pairs"] = {"traced": on, "untraced": off}

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
