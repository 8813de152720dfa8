"""Seeded input generator for the benchmark workloads.

Writes a workload's inputs into a directory, all from one ``--seed``:

- ``recorder.db``: a Home Assistant recorder SQLite file (``states``,
  ``states_meta``, ``state_attributes``) for ``migrate``;
- ``events.parquet``: the event table the dashboard requests of
  ``query`` read;
- ``documents.parquet``: a text corpus with planted exact duplicates,
  near duplicates and benchmark contamination, for the curation
  requests of ``query``.

Sizes are fixed per workload; the seed changes values only, so every
seed does the same amount of work.
"""

from __future__ import annotations

import json
import os
import sqlite3
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- migrate: recorder shape -------------------------------------------

N_STATES = 120_000
N_ENTITIES = 300
N_ATTR_BLOBS = 1_000
#: share of states before the boundary cut (the rows the pass migrates)
BEFORE_SHARE = 0.75
SENTINEL_SHARE = 0.08        # unknown / unavailable / None
STRING_SHARE = 0.22          # on/off/heat and non-numeric look-alikes
NULL_ATTR_SHARE = 0.05       # attributes_id IS NULL (LEFT JOIN miss)
MALFORMED_JSON_SHARE = 0.03  # attribute blobs that are not JSON
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000

_SENTINELS = ["unknown", "unavailable", "None"]
_STRINGS = ["on", "off", "heat", "idle", "1e3", "-5", "", "1.2.3",
            'say "hi"', "a\\b"]
_UNITS = ["W", "%", "C", "kWh", "", None]
_DOMAINS = ["sensor", "binary_sensor", "switch", "climate", "sensor.esp32"]

# --- query: events shape (dashboard requests) ---------------------------

N_EVENTS = 15_000
N_USERS = 60
_EVENT_TYPES = ["view", "click", "purchase", "error", "login"]

# --- query: corpus shape (curation requests) ----------------------------

N_DOCS = 3_000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
CONTAMINATED_SHARE = 0.03
BENCH_EVERY = 20          # operators.curation.BENCH_EVERY
BENCH_PREFIX_WORDS = 10   # operators.curation.BENCH_PREFIX_WORDS
_LANGS = ["en", "de", "fr", "es"]
_STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def gen_recorder(path: str, seed: int) -> dict:
    """HA-schema recorder file; returns its input properties, including
    the boundary cut (epoch seconds) with ``BEFORE_SHARE`` of states
    strictly before it."""
    rng = np.random.default_rng([seed, 1])
    if os.path.exists(path):
        os.unlink(path)
    conn = sqlite3.connect(path)
    conn.executescript("""
        CREATE TABLE states_meta (
            metadata_id INTEGER PRIMARY KEY, entity_id VARCHAR(255));
        CREATE TABLE state_attributes (
            attributes_id INTEGER PRIMARY KEY, hash BIGINT,
            shared_attrs TEXT);
        CREATE TABLE states (
            state_id INTEGER PRIMARY KEY, state VARCHAR(255),
            attributes_id INTEGER, metadata_id INTEGER,
            last_updated_ts FLOAT, last_changed_ts FLOAT,
            old_state_id INTEGER);
    """)
    meta = []
    for m in range(1, N_ENTITIES + 1):
        dom = _DOMAINS[int(rng.integers(len(_DOMAINS)))]
        meta.append((m, f"{dom}.dev_{m}" if m % 37 else f"nodot_{m}"))
    conn.executemany("INSERT INTO states_meta VALUES (?, ?)", meta)

    attrs = []
    n_malformed = 0
    for a in range(1, N_ATTR_BLOBS + 1):
        d: dict = {}
        if rng.random() < 0.8:
            d["friendly_name"] = (f"Room {a}, zone={a % 7}"
                                  if a % 5 == 0 else f"Device {a}")
        unit = _UNITS[int(rng.integers(len(_UNITS)))]
        if unit is not None:
            d["unit_of_measurement"] = unit
        d["temperature"] = round(float(rng.normal(21, 3)), 2)
        if a % 3 == 0:
            d["humidity"] = str(round(float(rng.uniform(20, 80)), 1))
        if a % 11 == 0:
            d["co2"] = "high"
        d["id"] = a
        d["active"] = bool(a % 2)
        d["note"] = None if a % 4 == 0 else f"n{a}"
        blob = json.dumps(d)
        if rng.random() < MALFORMED_JSON_SHARE:
            # a blob cut short, as a crashed writer leaves it
            blob = blob[:int(rng.integers(2, len(blob) - 1))]
            n_malformed += 1
        attrs.append((a, a * 2_654_435_761 % 2**31, blob))
    conn.executemany("INSERT INTO state_attributes VALUES (?, ?, ?)", attrs)

    # time grows with state_id, like a recorder's insert order, with
    # seeded jitter; the µs grid keeps epoch seconds exact in SQL math
    steps = rng.integers(1, 2 * SPAN_US // N_STATES, size=N_STATES)
    ts_us = T0_US + np.cumsum(steps)
    kind = rng.random(N_STATES)
    num = np.round(rng.normal(50, 30, size=N_STATES), 2)
    meta_ids = rng.integers(1, N_ENTITIES + 1, size=N_STATES)
    attr_ids = rng.integers(1, N_ATTR_BLOBS + 1, size=N_STATES)
    null_attr = rng.random(N_STATES) < NULL_ATTR_SHARE
    pick = rng.integers(0, 1 << 30, size=N_STATES)
    rows = []
    counts = {"sentinel": 0, "string": 0, "numeric": 0}
    for i in range(N_STATES):
        k = kind[i]
        if k < SENTINEL_SHARE:
            st = _SENTINELS[pick[i] % 3]
            counts["sentinel"] += 1
        elif k < SENTINEL_SHARE + STRING_SHARE:
            st = _STRINGS[pick[i] % len(_STRINGS)]
            counts["string"] += 1
        else:
            st = f"{abs(num[i]):.2f}" if pick[i] % 4 else str(int(abs(num[i])))
            counts["numeric"] += 1
        t = int(ts_us[i]) / 1e6
        rows.append((i + 1, st, None if null_attr[i] else int(attr_ids[i]),
                     int(meta_ids[i]), t, t, i if i else None))
    conn.executemany("INSERT INTO states VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
    conn.commit()
    conn.close()
    cut = int(ts_us[int(N_STATES * BEFORE_SHARE)]) / 1e6
    return {
        "states": N_STATES, "entities": N_ENTITIES,
        "attribute_blobs": N_ATTR_BLOBS,
        "malformed_json_blobs": n_malformed,
        "null_attributes_id": int(null_attr.sum()),
        "sentinel_states": counts["sentinel"],
        "string_states": counts["string"],
        "numeric_states": counts["numeric"],
        "boundary_ts": cut,
        "states_before_boundary": int((ts_us / 1e6 < cut).sum()),
        "bytes": os.path.getsize(path),
    }


def gen_events(path: str, seed: int) -> dict:
    """The dashboard's ``events`` table (schema of the registry's
    fixture), spread over January 2024 so the dashboards' time ranges
    select real data."""
    rng = np.random.default_rng([seed, 2])
    ts = np.sort(T0_US + rng.integers(0, 31 * 86_400 * 1_000_000,
                                      size=N_EVENTS))
    table = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS)),
        "event_type": pa.array(
            np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES),
                                                size=N_EVENTS)]),
        "value": pa.array(np.round(rng.uniform(0, 100, size=N_EVENTS), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)]),
    })
    pq.write_table(table, path)
    return {"events": N_EVENTS, "entities": N_USERS,
            "bytes": os.path.getsize(path)}


def gen_documents(path: str, seed: int) -> dict:
    """Corpus with planted duplicates and contamination. ``doc_id``
    stays below 1 M (``recrawl_corpus`` offsets ids by 1 M).

    Returns the properties plus ``exact_pairs``: every planted
    (original, copy) pair as ``[min_id, max_id]``."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3_000)
    words = np.concatenate([vocab, np.array(_STOP * 30)])
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_cont = int(N_DOCS * CONTAMINATED_SHARE)
    n_base = N_DOCS - n_exact - n_near - n_cont
    lens = rng.integers(30, 120, size=N_DOCS)
    texts: list[str] = []
    for i in range(n_base):
        texts.append(" ".join(words[rng.integers(0, len(words),
                                                 size=lens[i])]))
    # originals come from base docs; copies get the ids after them, in
    # a seeded shuffle of slots so duplicates are spread over the corpus
    exact_src = rng.choice(n_base, size=n_exact, replace=False)
    near_src = rng.choice(n_base, size=n_near, replace=False)
    bench_ids = [d for d in range(0, n_base) if d % BENCH_EVERY == 0]
    cont_src = rng.choice(bench_ids, size=n_cont)
    extra: list[tuple[str, int | None]] = []
    for s in exact_src:
        extra.append((texts[s], int(s)))
    for s in near_src:
        w = texts[s].split(" ")
        j = int(rng.integers(len(w)))
        w[j] = str(vocab[rng.integers(len(vocab))])
        extra.append((" ".join(w), None))
    for s in cont_src:
        prefix = " ".join(texts[s].split(" ")[:BENCH_PREFIX_WORDS])
        filler = " ".join(words[rng.integers(0, len(words), size=8)])
        extra.append((filler + " " + prefix, None))
    order = rng.permutation(len(extra))
    exact_pairs = []
    for k, e in enumerate(order):
        text, src = extra[e]
        doc_id = n_base + k
        texts.append(text)
        if src is not None:
            exact_pairs.append([src, doc_id])
    langs = np.array(_LANGS)[rng.integers(0, len(_LANGS), size=N_DOCS)]
    table = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 7}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(table, path)
    return {"docs": N_DOCS, "exact_dups": n_exact, "near_dups": n_near,
            "contaminated": n_cont, "bytes": os.path.getsize(path),
            "exact_pairs": sorted(exact_pairs)}


GENERATORS = {
    "recorder.db": gen_recorder,
    "events.parquet": gen_events,
    "documents.parquet": gen_documents,
}

#: the inputs each workload reads, all written into one directory
INPUTS = {
    "migrate": ("recorder.db",),
    "query": ("events.parquet", "documents.parquet"),
}


def generate(workload: str, seed: int, out_dir: str) -> dict[str, dict]:
    """Write ``workload``'s inputs under ``out_dir``; returns file name ->
    its properties, with ``path`` and ``gen_s`` (the generator's own
    wall time)."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name in INPUTS[workload]:
        path = os.path.join(out_dir, name)
        t0 = time.perf_counter()
        props = GENERATORS[name](path, seed)
        props["gen_s"] = time.perf_counter() - t0
        props["path"] = path
        out[name] = props
    return out

