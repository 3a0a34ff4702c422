"""Seeded input generators for the three workloads.

Every table is written as parquet in the shape ``sources/io.py``'s
``SCHEMAS`` declares (``events.ts`` as ``timestamp[us]``, dated 2024+), so
the engine reads the generated directory through its own loader. The
same seed always gives byte-identical inputs. Each generator returns a
``props`` dict recording sizes and the sharing, skew and lateness the
inputs were built with; the runner prints it with the result.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_S = 1_000_000
US_PER_H = 3600 * US_PER_S
US_PER_DAY = 24 * US_PER_H
#: 2024-01-01T00:00:00Z in epoch microseconds.
EPOCH_2024_US = 1_704_067_200 * US_PER_S

CHANNELS = ["temp", "pressure", "vibration", "current", "voltage", "flow"]
MODES = ["run", "idle", "maint"]

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMBEDDINGS_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def _write(table: pa.Table, out_dir: str, name: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# Sensor readings (sensor_etl, telemetry_ingest)
# --------------------------------------------------------------------------

def _readings(rng: np.random.Generator, n_base: int, n_devices: int,
              t0_us: int, span_us: int, *, zipf_s: float, dup_frac: float,
              late_frac: float, late_max_us: int, null_frac: float,
              spike_frac: float) -> tuple[dict, dict]:
    """Columns of a reading stream in ARRIVAL order (event_id ascending):
    Zipf-skewed devices, 6 channels, re-sent duplicates (same device,
    channel, ts and value, later arrival), out-of-order arrivals, NULL
    dropouts and spikes."""
    w = 1.0 / np.arange(1, n_devices + 1) ** zipf_s
    w /= w.sum()
    # device ids are a seeded permutation of the Zipf ranks, so the hot
    # device is not always id 0
    perm = rng.permutation(n_devices)
    dev = perm[rng.choice(n_devices, size=n_base, p=w)]
    ch = rng.integers(0, len(CHANNELS), n_base)
    ts = t0_us + rng.integers(0, span_us, n_base)
    series = dev * len(CHANNELS) + ch
    base = rng.normal(50.0, 15.0, n_devices * len(CHANNELS))
    value = base[series] + rng.normal(0.0, 2.0, n_base)
    spikes = rng.random(n_base) < spike_frac
    value[spikes] += rng.choice([-1.0, 1.0], spikes.sum()) \
        * rng.uniform(40.0, 80.0, spikes.sum())
    value = np.round(value, 2)
    null = rng.random(n_base) < null_frac
    delay = np.zeros(n_base, dtype=np.int64)
    late = rng.random(n_base) < late_frac
    delay[late] = rng.integers(1, late_max_us, late.sum())

    n_dup = int(round(dup_frac * n_base))
    src = rng.choice(n_base, size=n_dup, replace=False)
    cols = {
        "dev": np.concatenate([dev, dev[src]]),
        "ch": np.concatenate([ch, ch[src]]),
        "ts": np.concatenate([ts, ts[src]]),
        "value": np.concatenate([value, value[src]]),
        "null": np.concatenate([null, null[src]]),
        # a re-send arrives after the original, by up to late_max_us
        "arrival": np.concatenate(
            [ts + delay,
             ts[src] + delay[src] + rng.integers(1, late_max_us, n_dup)]),
    }
    order = np.argsort(cols["arrival"], kind="stable")
    cols = {k: v[order] for k, v in cols.items()}
    # arrival inversions: rows whose ts is older than some row that
    # arrived before them
    run_max = np.maximum.accumulate(cols["ts"])
    props = {
        "rows": int(n_base + n_dup),
        "devices": n_devices,
        "channels": len(CHANNELS),
        "dup_rows": n_dup,
        "out_of_order_rows": int((cols["ts"] < run_max).sum()),
        "null_rows": int(cols["null"].sum()),
        "spike_rows": int(spikes.sum()),
        "zipf_s": zipf_s,
        "top_device_share": round(float(w.max()), 4),
    }
    return cols, props


def _events_table(cols: dict, first_id: int, fw: np.ndarray) -> pa.Table:
    n = len(cols["ts"])
    value = pa.array(cols["value"], mask=cols["null"])
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n,
                                       dtype=np.int64)),
        "ts": pa.array(cols["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(cols["dev"].astype(np.int64)),
        "event_type": pa.array(np.asarray(CHANNELS, dtype=object)[cols["ch"]],
                               type=pa.string()),
        "value": value,
        "props": pa.array(fw[cols["dev"]], type=pa.string()),
    }, schema=EVENTS_SCHEMA)


def _firmware(rng: np.random.Generator, n_devices: int) -> np.ndarray:
    return np.asarray([f'{{"fw": {v}}}' for v in
                       rng.integers(1, 9, n_devices)], dtype=object)


def sensor(out_dir: str, seed: int, *, rows: int, devices: int,
           days: int) -> dict:
    """``<out_dir>/events.parquet`` (readings) and
    ``<out_dir>/state/events.parquet`` (per-device state changes in the
    same events shape: ``event_type`` = mode, ``value`` = setpoint, one
    row per (device, ts)) for the batch chain."""
    rng = np.random.default_rng([seed, 1])
    t0 = EPOCH_2024_US + int(rng.integers(0, 300)) * US_PER_DAY
    span = days * US_PER_DAY
    dup_frac = 0.03
    cols, props = _readings(
        rng, int(rows / (1 + dup_frac)), devices, t0, span,
        zipf_s=1.0, dup_frac=dup_frac, late_frac=0.02,
        late_max_us=600 * US_PER_S, null_frac=0.01, spike_frac=0.001)
    fw = _firmware(rng, devices)
    props["bytes"] = _write(_events_table(cols, 0, fw), out_dir, "events")

    # state changes: ~5 per device; the first precedes the readings for
    # most devices, so a few readings find no state (NULL as-of values)
    n_states = rng.poisson(5, devices) + 1
    sdev = np.repeat(np.arange(devices), n_states)
    m = span + US_PER_DAY
    key = np.unique(sdev * m + rng.integers(0, m, len(sdev)))
    sdev, sts = key // m, t0 - US_PER_DAY + key % m
    state = pa.table({
        "event_id": pa.array(np.arange(len(sdev), dtype=np.int64)),
        "ts": pa.array(sts, type=pa.timestamp("us")),
        "user_id": pa.array(sdev.astype(np.int64)),
        "event_type": pa.array(np.asarray(MODES, dtype=object)[
            rng.integers(0, len(MODES), len(sdev))], type=pa.string()),
        "value": pa.array(np.round(rng.uniform(10, 90, len(sdev)), 2)),
        "props": pa.array(np.full(len(sdev), "{}", dtype=object),
                          type=pa.string()),
    }, schema=EVENTS_SCHEMA)
    props["state_rows"] = len(sdev)
    props["bytes"] += _write(state, os.path.join(out_dir, "state"), "events")
    props["days"] = days
    return props


def ingest_batches(out_dir: str, seed: int, *, batches: int,
                   batch_rows: int, devices: int) -> dict:
    """``<out_dir>/b00000/events.parquet`` ... : micro-batches of readings,
    batch ``i`` covering minute-window ``i`` of the stream, with
    late arrivals (up to 10 minutes, so they land in a later batch) and
    re-sent duplicates. event_ids are unique across batches."""
    rng = np.random.default_rng([seed, 3])
    t0 = EPOCH_2024_US + int(rng.integers(0, 300)) * US_PER_DAY
    window = 60 * US_PER_S
    dup_frac = 0.03
    n_base = int(batches * batch_rows / (1 + dup_frac))
    cols, props = _readings(
        rng, n_base, devices, t0, batches * window,
        zipf_s=1.0, dup_frac=dup_frac, late_frac=0.02,
        late_max_us=600 * US_PER_S, null_frac=0.01, spike_frac=0.001)
    fw = _firmware(rng, devices)
    # batch i holds what ARRIVED in window i; arrivals past the last
    # window are folded into the last batch
    b = np.minimum((cols["arrival"] - t0) // window, batches - 1)
    bounds = np.searchsorted(b, np.arange(batches + 1))
    sizes, total_bytes = [], 0
    for i in range(batches):
        lo, hi = bounds[i], bounds[i + 1]
        part = {k: v[lo:hi] for k, v in cols.items()}
        total_bytes += _write(_events_table(part, int(lo), fw),
                              os.path.join(out_dir, f"b{i:05d}"), "events")
        sizes.append(int(hi - lo))
    props.update(batches=batches, rows_per_batch=sizes, bytes=total_bytes)
    return props


# --------------------------------------------------------------------------
# Documents + embeddings (corpus_curation)
# --------------------------------------------------------------------------

_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.45, 0.15, 0.15, 0.15, 0.10]
_SYLL = ["ka", "to", "ri", "ne", "mo", "sa", "lu", "vi", "de", "po",
         "ga", "shi", "ren", "tal", "bor", "quin", "ex", "ul", "an", "im"]
_BOILERPLATE = [
    "all rights reserved by the original publisher",
    "subscribe to our newsletter for weekly updates",
    "this page was generated automatically from the archive",
    "cookies help us deliver our services to you",
    "share this article with your friends and colleagues",
]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLL, k)))
    # sorted first so the draw order (not set order) decides the ranks
    return rng.permutation(np.asarray(sorted(words), dtype=object))


def corpus(out_dir: str, seed: int, *, docs: int, dim: int = 64) -> dict:
    """``documents.parquet`` + row-aligned ``embeddings.parquet``
    (doc_id = vec_id) with planted sharing: exact duplicates (case
    variants of a base text), near-duplicate edits (1-3 words replaced),
    shared boilerplate lines, 5 languages and 20 sources. Near and exact
    duplicates carry near-identical embeddings; the rest scatter around
    10 topic centres."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 3000)
    wp = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    wp /= wp.sum()
    n_exact, n_near = int(0.10 * docs), int(0.20 * docs)
    n_base = docs - n_exact - n_near

    def fresh() -> list[list[str]]:
        return [list(rng.choice(vocab, int(rng.integers(6, 16)), p=wp))
                for _ in range(int(rng.integers(2, 6)))]

    lines: list[list[list[str]]] = [fresh() for _ in range(n_base)]
    kind = ["base"] * n_base
    origin = list(range(n_base))
    for _ in range(n_exact):
        o = int(rng.integers(0, n_base))
        lines.append([list(ln) for ln in lines[o]])
        kind.append("exact")
        origin.append(o)
    for _ in range(n_near):
        o = int(rng.integers(0, n_base))
        edit = [list(ln) for ln in lines[o]]
        for _ in range(int(rng.integers(1, 4))):
            ln = edit[int(rng.integers(0, len(edit)))]
            ln[int(rng.integers(0, len(ln)))] = rng.choice(vocab, p=wp)
        lines.append(edit)
        kind.append("near")
        origin.append(o)

    texts, n_boiler = [], 0
    for i, ls in enumerate(lines):
        t = ". ".join(" ".join(ln) for ln in ls)
        if kind[i] == "exact":
            t = t[:1].upper() + t[1:]  # same text after lower(trim())
        if rng.random() < 0.15:
            t = t + ". " + _BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))]
            n_boiler += 1
        texts.append(t)

    centres = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n_base)
    emb = centres[label] * 0.12 + rng.normal(0, 1, (n_base, dim)) * 0.4
    o = np.asarray(origin[n_base:], dtype=np.int64)
    dup_emb = emb[o] + rng.normal(0, 0.02, (len(o), dim))
    emb = np.vstack([emb, dup_emb]).astype(np.float32)
    labels = np.concatenate([label, label[o]]).astype(np.int32)

    # shuffle so duplicates are not clustered by id
    perm = rng.permutation(docs)
    texts = np.asarray(texts, dtype=object)[perm]
    emb, labels = emb[perm], labels[perm]
    langs = rng.choice(_LANGS, docs, p=_LANG_P)
    sources = np.asarray([f"src{i}" for i in rng.integers(0, 20, docs)],
                         dtype=object)
    ids = np.arange(docs, dtype=np.int64)
    d = pa.table({
        "doc_id": ids, "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.astype(object), type=pa.string()),
        "source": pa.array(sources, type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }, schema=DOCUMENTS_SCHEMA)
    e = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }, schema=EMBEDDINGS_SCHEMA)
    nbytes = _write(d, out_dir, "documents") + _write(e, out_dir, "embeddings")
    return {"docs": docs, "exact_dups": n_exact, "near_dups": n_near,
            "boilerplate_docs": n_boiler, "langs": len(_LANGS),
            "sources": 20, "dim": dim, "bytes": nbytes}
