"""The three workloads, driven through the engine's public functions.

Each workload has a ``prepare`` step (seeded input generation, untimed
and excluded from set-up), a ``warm`` step (untimed, part of set-up;
the two batch workloads have none), and a ``measure`` step that returns
a :class:`Result`. Output values the reference checks need are
returned, never checked here: checks run after the timed region,
against DuckDB (see ``checks.py``).
"""
from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from industry_big_data_time_sequence_process_spark import api
from industry_big_data_time_sequence_process_spark.operators import (
    pipeline as P,
    sources_sinks as S,
)
from industry_big_data_time_sequence_process_spark.sources.io import (
    SCHEMAS, load,
)

import gen

#: Input sizes. Chosen so one run of each workload, set-up included,
#: fits the benchmark's per-run time budget on 4 cores.
SENSOR = {"rows": 100_000, "devices": 1_500, "days": 14}
CORPUS = {"docs": 300}
INGEST = {"batch_rows": 20_000, "devices": 2_000}

#: sensor_etl: the sessionize gap.
SESSION_GAP_MIN = 30.0

#: telemetry_ingest schedule: offered append rate (per second), a
#: snapshot query after every QUERY_EVERY appends, a compaction after
#: every COMPACT_EVERY, and a re-delivery of the micro-batch just
#: appended after every REPLAY_EVERY (it must commit as a no-op). A 6 s
#: run holds 6 appends, 2 re-deliveries, 1 query and 1 compaction. The
#: rate is about 55% of what ``--closed-loop`` sustains without the
#: compactions; the compaction comes last in a run, so no append waits
#: for it.
INGEST_RATE_HZ = 1.0
QUERY_EVERY = 6
COMPACT_EVERY = 6
REPLAY_EVERY = 3
INGEST_WARM_APPENDS = 1
INGEST_APP = "perfbench-ingest"


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: int
    closed_loop: bool = False
    #: traced runs: called before each pass or ingest operation with its
    #: index (within its kind, for ingest), and the least number of
    #: passes to run
    before_unit: object = None
    min_units: int = 1


@dataclass
class Result:
    samples: list[float]          # headline op latencies (s)
    rows: int                     # input rows the timed ops processed
    busy_s: float                 # time spent executing timed ops
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)   # values to check
    extra: dict = field(default_factory=dict)     # report-only figures
    traced: list[bool] = field(default_factory=list)  # per sample
    cpu: list[float] = field(default_factory=list)    # per sample (s)
    window_cpu_s: float = 0.0     # process-tree CPU over the timed window

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def child_pids(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks Spark's Python
    workers from a non-main thread)."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the driver JVM and Spark's Python
    workers. Time the hypervisor steals is not in it."""
    total, stack = 0, [os.getpid()]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
        stack += child_pids(p)
    return total / _CLK_TCK


def _guarded(res: Result, what: str, fn):
    """Run one operation; an exception counts it failed and is reported
    with its traceback on stderr."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - the benchmark must keep running
        traceback.print_exc(file=sys.stderr)
        res.fail(f"{what}: raised")
        return None


def _timed_loop(ctx: Ctx, res: Result, one_pass, after=None):
    """Closed loop of full passes for ``ctx.seconds`` (at least
    ``ctx.min_units``); each pass's wall time is one sample. ``after``
    maps a pass's output to the value kept for the checks; it runs
    outside the timed region, and its time extends the window."""
    t_end = time.perf_counter() + ctx.seconds
    while True:
        if ctx.before_unit:
            ctx.before_unit(res.attempted)
        res.attempted += 1
        c = tree_cpu_s()
        t = time.perf_counter()
        out = _guarded(res, f"pass {res.attempted}", one_pass)
        dt = time.perf_counter() - t
        dc = tree_cpu_s() - c
        res.busy_s += dt
        res.window_cpu_s += dc
        if out is not None:
            res.samples.append(dt)
            res.cpu.append(dc)
            res.traced.append(ctx.tracer.enabled)
            if after is not None:
                t = time.perf_counter()
                out = after(out)
                t_end += time.perf_counter() - t
            res.outputs.setdefault("passes", []).append(out)
        if time.perf_counter() >= t_end and res.attempted >= ctx.min_units:
            return


# --------------------------------------------------------------------------
# sensor_etl
# --------------------------------------------------------------------------

def _materialize(df):
    """Cache a stage's output and fill the cache through the noop sink,
    so the next stage reads it instead of recomputing the chain."""
    df = df.cache()
    df.write.format("noop").mode("overwrite").save()
    return df


def sensor_prepare(ctx: Ctx) -> dict:
    return gen.sensor(os.path.join(ctx.work, "sensor"), ctx.seed, **SENSOR)


def sensor_pass(ctx: Ctx, data: str):
    """One full chain pass over the inputs in ``data``. Returns (stage
    row counts, audit row, cached stage frames); the caller unpersists
    the frames."""
    spark, T = ctx.spark, ctx.tracer
    channel = F.array_position(
        F.array(*[F.lit(c) for c in gen.CHANNELS]), F.col("event_type"))
    with T.span("io.load", files=2):
        ev = load(spark, data, "events").withColumn(
            "series", F.col("user_id") * 8 + channel)
        state = load(spark, os.path.join(data, "state"), "events").select(
            "user_id", F.col("ts").alias("state_ts"),
            F.col("event_type").alias("mode"),
            F.col("value").alias("setpoint"))
    frames, rows = {}, {}

    def stage(fn, make):
        with T.span(f"api.{fn}") as a:
            df = _materialize(make())
            a["rows_out"] = rows[fn] = df.count()
        frames[fn] = df
        return df

    dd = stage("dedup_latest", lambda: api.dedup_latest(
        ev, ["user_id", "event_type", "ts"], [F.col("event_id").desc()]))
    stage("resample", lambda: api.resample(
        dd, "series", "ts", "hour",
        [F.avg("value").alias("mean"), F.count("value").alias("n")]))
    ff = stage("forward_fill", lambda: api.forward_fill(
        dd, "series", "ts", "value", "value_filled"))
    sess = stage("sessionize", lambda: api.sessionize(
        ff, "user_id", "ts", SESSION_GAP_MIN, tiebreak="event_id"))
    aj = stage("asof_join_backward", lambda: api.asof_join_backward(
        sess, state, "user_id", "ts", "state_ts", ["mode", "setpoint"]))
    stage("zscore_flags", lambda: api.zscore_flags(
        aj, "series", "value_filled", 3.0))
    with T.span("ts.pipeline_timeseries_audit"):
        audit = P.pipeline_timeseries_audit(spark, data).collect()[0].asDict()
    return rows, audit, frames


def sensor_fingerprint(frames: dict) -> dict:
    """Order-invariant aggregates of each stage's output, compared with
    DuckDB by ``checks.sensor``."""
    cents = lambda c: F.floor(F.col(c) * 100 + 0.5).cast("long")  # noqa: E731
    fp = {"dedup_latest": frames["dedup_latest"].count()}
    r = frames["resample"].agg(F.count("*"), F.sum("n")).first()
    fp["resample"] = [r[0], r[1]]
    r = frames["forward_fill"].agg(
        F.sum(F.col("value_filled").isNull().cast("long")),
        F.sum(cents("value_filled"))).first()
    fp["forward_fill"] = [r[0], r[1]]
    fp["sessionize"] = frames["sessionize"].groupBy("user_id").agg(
        F.max("session_seq").alias("m")).agg(F.sum("m")).first()[0]
    r = frames["asof_join_backward"].agg(
        F.count("mode"), F.sum(cents("setpoint"))).first()
    fp["asof_join_backward"] = [r[0], r[1]]
    r = frames["zscore_flags"].agg(
        F.sum(F.col("is_anomaly").cast("long")),
        F.sum(F.col("zscore").isNull().cast("long"))).first()
    fp["zscore_flags"] = [r[0], r[1]]
    return fp


def cold_start(ctx: Ctx) -> None:
    """No warm-up for the two batch workloads: a batch job runs once per
    process, so the first timed pass pays the engine's cold start (JIT,
    code generation, Python workers) the way a user's job does."""


def sensor_measure(ctx: Ctx, props: dict) -> Result:
    """Chain passes for ``ctx.seconds``. After the first pass, untimed,
    its stage frames are fingerprinted for the reference checks; every
    pass's frames are dropped before the next pass starts."""
    res = Result([], 0, 0.0)
    data = os.path.join(ctx.work, "sensor")

    def one():
        with ctx.tracer.span("harness.pass"):
            return sensor_pass(ctx, data)

    def after(out):
        rows, audit, frames = out
        if "fingerprint" not in res.outputs:
            res.outputs["fingerprint"] = _guarded(
                res, "stage fingerprints",
                lambda: sensor_fingerprint(frames))
        for df in frames.values():
            df.unpersist()
        return rows, audit

    _timed_loop(ctx, res, one, after)
    res.rows = props["rows"] * len(res.samples)
    return res


# --------------------------------------------------------------------------
# corpus_curation
# --------------------------------------------------------------------------

def corpus_prepare(ctx: Ctx) -> dict:
    return gen.corpus(os.path.join(ctx.work, "corpus"), ctx.seed, **CORPUS)


def corpus_pass(ctx: Ctx) -> dict:
    """The stages of ``pipeline_corpus_audit`` in its order, each cached
    and counted; returns the same row the registered operator emits."""
    spark, T = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "corpus")
    with T.span("io.load", files=2) as a:
        d0 = load(spark, data, "documents")
        emb = load(spark, data, "embeddings")
        a["rows_out"] = n0 = d0.count()
    row, frames = {"n_ingested": n0}, []

    def stage(name, col, n_in, make):
        with T.span(f"pipeline.{name}", rows_in=n_in) as a:
            df = make().cache()
            a["rows_out"] = row[col] = df.count()
        frames.append(df)
        return df, row[col]

    d1, n1 = stage("clean_boilerplate", "n_clean", n0,
                   lambda: P.clean_boilerplate(d0))
    d2, n2 = stage("exact_dedup", "n_exact", n1, lambda: P.exact_dedup(d1))
    d3, n3 = stage("near_dedup", "n_near", n2, lambda: P.near_dedup(d2))
    ds, ns = stage("semantic_dedup_filter", "n_semantic", n3,
                   lambda: P.semantic_dedup_filter(d3, emb))
    d4, n4 = stage("quality_filter", "n_quality", ns,
                   lambda: P.quality_filter(ds))
    d5, n5 = stage("model_quality_filter", "n_model", n4,
                   lambda: P.model_quality_filter(d4))
    dd, nd = stage("decontaminate_filter", "n_decontam", n5,
                   lambda: P.decontaminate_filter(d5, d0))
    with T.span("pipeline.split_train_val", rows_in=nd) as a:
        d6 = P.split_train_val(dd)
        splits = {r["split"]: r["n"] for r in
                  d6.groupBy("split").agg(F.count("*").alias("n")).collect()}
        row["n_train"] = int(splits.get("train", 0))
        row["n_val"] = int(splits.get("val", 0))
        a["rows_out"] = row["n_train"] + row["n_val"]
    with T.span("pipeline.pack_accounting", rows_in=row["n_train"]) as a:
        packs = P.pack_accounting(
            d6.filter(F.col("split") == "train")).collect()[0]
        row["packed_tokens"] = int(packs["packed_tokens"])
        row["n_packs"] = a["rows_out"] = int(packs["n_packs"])
    for df in frames:
        df.unpersist()
    return row


def corpus_measure(ctx: Ctx, props: dict) -> Result:
    res = Result([], 0, 0.0)

    def one():
        with ctx.tracer.span("harness.pass"):
            return corpus_pass(ctx)

    _timed_loop(ctx, res, one)
    res.rows = props["docs"] * len(res.samples)
    return res


# --------------------------------------------------------------------------
# telemetry_ingest
# --------------------------------------------------------------------------

class _CommitCounter:
    """Counts ``txn_commit`` calls and the version conflicts they raise.
    It stands in for the module attribute while the timed loop runs;
    ``txn_stream_commit`` looks the name up at call time, so its retries
    are counted too."""

    def __init__(self):
        self.calls = self.conflicts = 0
        self._orig = S.txn_commit

    def __call__(self, *a, **kw):
        self.calls += 1
        try:
            return self._orig(*a, **kw)
        except S.TxnConflictError:
            self.conflicts += 1
            raise

    def __enter__(self):
        S.txn_commit = self
        return self

    def __exit__(self, *exc):
        S.txn_commit = self._orig


def ingest_batches_needed(seconds: int) -> int:
    return INGEST_WARM_APPENDS + int(seconds * INGEST_RATE_HZ) + 2


def ingest_prepare(ctx: Ctx) -> dict:
    n = ingest_batches_needed(ctx.seconds)
    if ctx.closed_loop:
        n *= 4
    return gen.ingest_batches(os.path.join(ctx.work, "landing"), ctx.seed,
                              batches=n, devices=INGEST["devices"],
                              batch_rows=INGEST["batch_rows"])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _row_hash(df):
    """(rows, order-invariant hash sum, value-cents sum) of ``df`` — the
    same expression ``checks.ROW_HASH_SQL`` computes in DuckDB."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    key = F.concat_ws(":", F.col("event_id").cast("string"),
                      F.unix_micros("ts").cast("string"),
                      F.col("user_id").cast("string"), F.col("event_type"),
                      F.coalesce(cents.cast("string"), F.lit("N")),
                      F.col("props"))
    r = df.agg(F.count("*"), F.sum(api.hash32(key)),
               F.coalesce(F.sum(cents), F.lit(0))).first()
    return [int(r[0]), int(r[1] or 0), int(r[2])]


class _Table:
    """One transaction-log table under ``root``: data dirs + ``_log``."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx = ctx
        self.data = os.path.join(root, "data")
        self.log = os.path.join(root, "_log")
        os.makedirs(self.log, exist_ok=True)
        self.landing = os.path.join(ctx.work, "landing")
        self.committed: list[int] = []
        self.n_compactions = self.noop_commits = 0
        self.bytes_ingested = self.bytes_written = self.replay_bytes = 0

    def _snapshot(self):
        T = self.ctx.tracer
        with T.span("txn.resolve") as a:
            head = S.txn_head_version(self.log)
            dirs, reads, _ = S.txn_resolve(self.log, head)
            a["manifests_read"], a["active_dirs"] = reads, len(dirs)
        return head, [os.path.join(self.data, d) for d in dirs]

    def append(self, epoch: int, *, replay: bool = False) -> int:
        """Write micro-batch ``epoch`` to a data dir of its own and commit
        it. A re-delivery (``replay``) writes a fresh ``r<epoch>`` dir, as
        a writer that re-sends a batch would, and leaves the committed
        ``b<epoch>`` dir alone; its bytes are counted apart."""
        spark, T = self.ctx.spark, self.ctx.tracer
        with T.span("io.load", files=1):
            src = load(spark, os.path.join(self.landing, f"b{epoch:05d}"),
                       "events")
        name = f"{'r' if replay else 'b'}{epoch:05d}"
        out = os.path.join(self.data, name)
        with T.span("txn.write") as a:
            src.write.mode("errorifexists").parquet(out)
            a["bytes"] = nbytes = _dir_bytes(out)
        with T.span("txn.commit"):
            ok = S.txn_stream_commit(self.log, INGEST_APP, epoch, [name])
        self.noop_commits += not ok
        if replay:
            self.replay_bytes += nbytes
        else:
            self.bytes_written += nbytes
        if ok:
            self.committed.append(epoch)
            self.bytes_ingested += nbytes
        return ok

    def query(self) -> list[int]:
        spark, T = self.ctx.spark, self.ctx.tracer
        _, paths = self._snapshot()
        with T.span("io.load") as a:
            df = spark.read.schema(SCHEMAS["events"]).parquet(*paths)
            if T.enabled:
                a["files"] = sum(f.endswith(".parquet") for p in paths
                                 for f in os.listdir(p))
        with T.span("api.dedup_latest") as a:
            latest = api.dedup_latest(df, ["user_id", "event_type"],
                                      [F.col("ts").desc(),
                                       F.col("event_id").desc()])
            got = _row_hash(latest)
            a["rows_out"] = got[0]
        return got

    def compact(self) -> dict:
        spark, T = self.ctx.spark, self.ctx.tracer
        head, paths = self._snapshot()
        name = f"c{self.n_compactions:04d}"
        self.n_compactions += 1
        out = os.path.join(self.data, name)
        with T.span("txn.compact") as a:
            audit = S.compact_parquet_tree(spark, paths, out,
                                           SCHEMAS["events"])
            a["bytes"] = nbytes = _dir_bytes(out)
        self.bytes_written += nbytes
        with T.span("txn.commit"):
            S.txn_commit(self.log, head + 1, [name],
                         [os.path.basename(p) for p in paths])
        with T.span("txn.checkpoint"):
            S.txn_checkpoint(self.log, head + 1)
        return audit


def _schedule(n_appends: int) -> list[tuple[float, str, int]]:
    """(due offset s, kind, arg) in due order."""
    ops = []
    for i in range(n_appends):
        ops.append((i / INGEST_RATE_HZ, "append", i))
        if (i + 1) % REPLAY_EVERY == 0:
            ops.append(((i + 0.25) / INGEST_RATE_HZ, "replay", i))
        if (i + 1) % QUERY_EVERY == 0:
            ops.append(((i + 0.5) / INGEST_RATE_HZ, "query", i))
        if (i + 1) % COMPACT_EVERY == 0:
            ops.append(((i + 0.75) / INGEST_RATE_HZ, "compact", i))
    return ops


def _ingest_op(table: _Table, res: Result, kind: str, arg: int):
    if kind in ("append", "replay"):
        ok = table.append(arg, replay=kind == "replay")
        if kind == "replay" and ok:
            res.fail(f"replay of epoch {arg} committed a second time")
        return ok
    if kind == "query":
        got = table.query()
        res.outputs.setdefault("queries", []).append(
            (list(table.committed), got))
        return got
    audit = table.compact()
    if not (audit["value_match"] and
            audit["rows_before"] == audit["rows_after"]):
        res.fail(f"compaction {table.n_compactions} changed the data: "
                 f"{audit}")
    return audit


def ingest_warm(ctx: Ctx) -> None:
    """A few appends, a snapshot query and a compaction on a scratch
    table, then the scratch table is dropped."""
    root = os.path.join(ctx.work, "warm_table")
    t = _Table(ctx, root)
    for i in range(INGEST_WARM_APPENDS):
        t.append(i)
    t.query()
    t.compact()
    shutil.rmtree(root)


def ingest_measure(ctx: Ctx, props: dict) -> Result:
    res = Result([], 0, 0.0)
    table = _Table(ctx, os.path.join(ctx.work, "table"))
    rate_hz = INGEST_RATE_HZ
    n_appends = int(ctx.seconds * rate_hz)
    if ctx.closed_loop:
        n_appends = ingest_batches_needed(ctx.seconds) * 4 - 2
    ops = _schedule(n_appends)
    lat: dict[str, list[float]] = {"append": [], "replay": [], "query": [],
                                   "compact": []}
    late, rows_landed, seen = [], 0, dict.fromkeys(lat, 0)
    with _CommitCounter() as cc:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for due_off, kind, arg in ops:
            due = t0 + due_off
            if not ctx.closed_loop:
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
            if ctx.before_unit:  # alternate within each kind of operation
                ctx.before_unit(seen[kind])
            seen[kind] += 1
            c = tree_cpu_s()
            start = time.perf_counter()
            late.append(start - due)
            res.attempted += 1
            with ctx.tracer.span(f"harness.{kind}"):
                out = _guarded(res, f"{kind} {arg}",
                               lambda: _ingest_op(table, res, kind, arg))
            end = time.perf_counter()
            dc = tree_cpu_s() - c
            res.busy_s += end - start
            if out is None:
                continue
            # open loop: latency from the due time; closed loop has no
            # schedule, so from the start
            lat[kind].append(end - (start if ctx.closed_loop else due))
            if kind == "append":
                rows_landed += props["rows_per_batch"][arg]
                res.traced.append(ctx.tracer.enabled)
                res.cpu.append(dc)
            if ctx.closed_loop and end - t0 >= ctx.seconds:
                break
        wall = time.perf_counter() - t0
        # the whole window, idle gaps included: JIT compilation and GC
        # land inside or between operations from run to run
        res.window_cpu_s = tree_cpu_s() - c0
    res.samples = lat["append"]
    res.rows = rows_landed
    res.extra = {"latencies": lat, "gen_late_s": max(late, default=0.0),
                 "wall_s": wall, "appends": len(lat["append"]),
                 "commit_calls": cc.calls, "conflict_retries": cc.conflicts,
                 "noop_commits": table.noop_commits,
                 "bytes_written": table.bytes_written,
                 "bytes_ingested": table.bytes_ingested,
                 "replay_bytes": table.replay_bytes,
                 "offered_rate_hz": None if ctx.closed_loop else rate_hz}
    # final snapshot (untimed): order-invariant hash of every row
    res.attempted += 1
    final = _guarded(res, "final snapshot", lambda: _row_hash(
        ctx.spark.read.schema(SCHEMAS["events"]).parquet(
            *table._snapshot()[1])))
    res.outputs["final"] = (list(table.committed), final)
    return res
