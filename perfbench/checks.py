"""Reference checks: every output the workloads return is recomputed by
DuckDB over the generated input files. Runs after the timed region.
Each function returns a list of mismatch descriptions (empty = pass).
"""
from __future__ import annotations

import os

import duckdb

from industry_big_data_time_sequence_process_spark.registry import REGISTRY

#: DuckDB threads. The checks run after the Spark session has stopped,
#: so they can use every core the session had.
THREADS = 4

#: ``workloads._row_hash`` in DuckDB over a relation ``r``.
ROW_HASH_SQL = """
SELECT count(*),
       coalesce(sum(('0x' || substr(md5(concat_ws(':',
           CAST(event_id AS VARCHAR), CAST(epoch_us(ts) AS VARCHAR),
           CAST(user_id AS VARCHAR), event_type,
           coalesce(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                         AS VARCHAR), 'N'),
           props)), 1, 8))::BIGINT), 0),
       coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0)
FROM r
"""


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {THREADS}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _view(con, name: str, path: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}')")


def _ints(row) -> list[int]:
    return [int(v) if v is not None else None for v in row]


def _cmp(what: str, got, want, out: list[str]) -> None:
    if got != want:
        out.append(f"{what}: engine {got!r} != reference {want!r}")


def sensor(data: str, gap_minutes: float, passes: list,
           fingerprint: dict | None = None) -> list[str]:
    """Every pass over ``data`` — a list of (label, (stage rows, audit
    row)) — has the registered operator's oracle row and DuckDB's stage
    row counts; ``fingerprint`` (order-invariant aggregates of each
    stage's output) equals DuckDB's."""
    out: list[str] = []
    con = _con()
    _view(con, "events", os.path.join(data, "events.parquet"))
    _view(con, "state", os.path.join(data, "state", "events.parquet"))
    cols = [d[0] for d in con.execute(
        REGISTRY["pipeline_timeseries_audit"].oracle).description]
    want_audit = dict(zip(cols, _ints(con.fetchone())))
    con.execute("""
        CREATE TEMP TABLE dd AS SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type, ts
                ORDER BY event_id DESC) AS rn
            FROM events) WHERE rn = 1""")
    con.execute("""
        CREATE TEMP TABLE ff AS SELECT *, last_value(value IGNORE NULLS)
            OVER (PARTITION BY user_id, event_type ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
        FROM dd""")
    cents = "CAST(floor({c} * 100 + 0.5) AS BIGINT)"
    gap_us = int(gap_minutes * 60 * 1_000_000)
    q = {
        "dedup_latest": "SELECT count(*) FROM dd",
        "resample": """SELECT count(*), sum(n) FROM (
            SELECT count(value) AS n FROM dd
            GROUP BY user_id, event_type, date_trunc('hour', ts))""",
        "forward_fill": f"""SELECT count(*) FILTER (WHERE vf IS NULL),
            sum({cents.format(c='vf')}) FROM ff""",
        "sessionize": f"""SELECT count(*) FROM (
            SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS g FROM dd)
            WHERE g IS NULL OR g > {gap_us}""",
        "asof_join_backward": f"""SELECT count(s.event_type),
            sum({cents.format(c='s.value')})
            FROM dd r ASOF LEFT JOIN state s
              ON r.user_id = s.user_id AND r.ts >= s.ts""",
        "zscore_flags": """WITH st AS (
                SELECT user_id, event_type, avg(vf) AS mu,
                       stddev_samp(vf) AS sd
                FROM ff GROUP BY user_id, event_type)
            SELECT count(*) FILTER (WHERE abs(vf - mu) > 3.0 * sd),
                   count(*) FILTER (WHERE vf IS NULL OR sd IS NULL
                                    OR sd = 0)
            FROM ff JOIN st USING (user_id, event_type)""",
    }
    want_fp = {}
    for k, sql in q.items():
        row = _ints(con.execute(sql).fetchone())
        want_fp[k] = row[0] if len(row) == 1 else row
    con.close()

    n = want_fp["dedup_latest"]
    want_rows = {"dedup_latest": n, "resample": want_fp["resample"][0],
                 "forward_fill": n, "sessionize": n, "asof_join_backward": n,
                 "zscore_flags": n}
    for what, (rows, audit) in passes:
        _cmp(f"{what} pipeline_timeseries_audit", audit, want_audit, out)
        _cmp(f"{what} stage rows", rows, want_rows, out)
    if fingerprint is not None:
        for k, want in want_fp.items():
            _cmp(f"{k} fingerprint", fingerprint[k], want, out)
    return out


def corpus(data: str, rows: list[dict]) -> list[str]:
    """Each pass's stage-count row equals ``pipeline_corpus_audit``'s
    oracle over the generated tables."""
    out: list[str] = []
    con = _con()
    _view(con, "documents", os.path.join(data, "documents.parquet"))
    _view(con, "embeddings", os.path.join(data, "embeddings.parquet"))
    cur = con.execute(REGISTRY["pipeline_corpus_audit"].oracle)
    cols = [d[0] for d in cur.description]
    want = dict(zip(cols, _ints(cur.fetchone())))
    con.close()
    for i, row in enumerate(rows):
        _cmp(f"pass {i + 1} corpus audit row", row, want, out)
    return out


def _batch_files(landing: str, epochs: list[int]) -> str:
    files = ", ".join(
        f"'{os.path.join(landing, f'b{e:05d}', 'events.parquet')}'"
        for e in sorted(set(epochs)))
    return f"read_parquet([{files}])"


def ingest(landing: str, queries: list, final) -> list[str]:
    """Each snapshot query equals DuckDB's latest-per-(device, channel)
    over the batches committed when it ran; the final snapshot equals
    every committed batch under an order-invariant hash."""
    out: list[str] = []
    con = _con()
    for i, (epochs, got) in enumerate(queries):
        con.execute(f"""CREATE OR REPLACE TEMP VIEW r AS
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM {_batch_files(landing, epochs)}) WHERE rn = 1""")
        _cmp(f"snapshot query {i + 1} ({len(epochs)} batches)", got,
             _ints(con.execute(ROW_HASH_SQL).fetchone()), out)
    epochs, got = final
    if got is not None:
        con.execute(f"CREATE OR REPLACE TEMP VIEW r AS "
                    f"SELECT * FROM {_batch_files(landing, epochs)}")
        _cmp(f"final snapshot ({len(epochs)} batches)", got,
             _ints(con.execute(ROW_HASH_SQL).fetchone()), out)
    con.close()
    return out
