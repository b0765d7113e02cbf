"""Seeded input generators for every workload.

Everything here is a pure function of the seed: the same seed gives the
same payloads, files and tables. Nothing here imports Spark or the engine;
the program under test receives only what these functions produce.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# cot_ticks: ADS-B envelope payloads and the includes allow-list
# --------------------------------------------------------------------------

#: Input properties of cot_ticks (also summarised in BENCHMARK.json).
TICKS = {
    "regional_aircraft": (200, 400),  # uniform range of rows in a regional tick
    "wide_aircraft": 10_000,          # rows in a wide tick
    "wide_every": 3,                  # ticks cycle regional, regional, wide
    "dup_share": 0.10,                # rows repeating an earlier id (case/space variant)
    "falsy_share": 0.05,              # rows whose r and flight are both '' or null
    "whitespace_share": 0.03,         # rows whose r is only spaces
    "includes_match_share": 0.30,     # share of the registration pool in the includes list
    "pool": 30_000,                   # distinct registrations aircraft are drawn from
}

_CATEGORIES = ("A1", "A3", "A5", "A7", "B2", "C1", None)


def registration(i: int) -> str:
    return f"N{i:05d}"


def includes_rows(seed: int) -> list[tuple]:
    """The seeded includes list: ``includes_match_share`` of the pool, plus
    rows that match nothing and rows with falsy registrations (skipped by
    the reference). Rows follow INCLUDES_SCHEMA's field order."""
    rnd = random.Random(seed * 7919 + 1)
    pool = TICKS["pool"]
    chosen = rnd.sample(range(pool), int(pool * TICKS["includes_match_share"]))
    rows = []
    for k, i in enumerate(chosen):
        reg = registration(i)
        if k % 5 == 0:
            reg = f" {reg.lower()} "  # lower/trim matching
        rows.append((k, ("EMS", "FIRE", "LAW")[k % 3],
                     f"CS{k}" if k % 4 == 0 else None, reg,
                     ("National", "Fire", "Law")[k % 3]))
    base = len(rows)
    for j in range(200):
        rows.append((base + j, "LAW", "GHOST", f"X{j:05d}", "Law"))
    base = len(rows)
    for j in range(20):
        rows.append((base + j, "SAR", "NOREG", None if j % 2 else "", "Marine"))
    rnd.shuffle(rows)
    return [(i, *r[1:]) for i, r in enumerate(rows)]


def include_keys(rows: list[tuple]) -> set[str]:
    """Normalised registrations of the includes rows the reference keeps."""
    return {r[3].strip(" ").lower() for r in rows if r[3]}


def _aircraft(rnd: random.Random, reg_id: int | None, kind: str) -> dict:
    reg = registration(reg_id) if reg_id is not None else None
    r, flight = reg, f"FL{rnd.randrange(10_000)}" if rnd.random() < 0.7 else None
    if kind == "dup":
        r = f" {reg.lower()}" if rnd.random() < 0.5 else reg.lower() + "  "
    elif kind == "falsy":
        r, flight = rnd.choice(("", None)), rnd.choice(("", None))
    elif kind == "whitespace":
        r, flight = "   ", None
    elif r is not None and rnd.random() < 0.05:
        # a falsy r falls back to the flight callsign (R5)
        r, flight = "", f"FB{reg_id}"
    return {
        "hex": f"{rnd.randrange(1 << 24):06x}",
        "type": "adsb_icao",
        "flight": flight,
        "r": r,
        "t": "B738",
        "dbFlags": float(rnd.randrange(4)),
        "alt_baro": rnd.choice(("ground", str(rnd.randrange(40_000)))),
        "alt_geom": rnd.choice((None, 0.0, float(rnd.randrange(40_000)))),
        "gs": rnd.choice((None, round(rnd.uniform(0, 500), 1))),
        "track": rnd.choice((None, 0.0, round(rnd.uniform(0, 360), 1))),
        "squawk": "1200",
        "emergency": rnd.choice(("none", "none", "squawk7700")),
        "category": rnd.choice(_CATEGORIES),
        "lat": round(rnd.uniform(25, 50), 5),
        "lon": round(rnd.uniform(-125, -65), 5),
        "seen_pos": 1.0,
        "seen": 0.5,
        "dst": round(rnd.uniform(0, 2650), 1),
    }


def tick_payload(seed: int, tick: int) -> tuple[str, int, bool]:
    """One envelope payload: (json, aircraft rows, wide?)."""
    rnd = random.Random(seed * 1_000_003 + tick)
    wide = tick % TICKS["wide_every"] == TICKS["wide_every"] - 1
    lo, hi = TICKS["regional_aircraft"]
    n = TICKS["wide_aircraft"] if wide else rnd.randint(lo, hi)
    ids = rnd.sample(range(TICKS["pool"]), n)
    ac = []
    for i in range(n):
        u = rnd.random()
        if u < TICKS["dup_share"] and i > 0:
            ac.append(_aircraft(rnd, ids[rnd.randrange(i)], "dup"))
        elif u < TICKS["dup_share"] + TICKS["falsy_share"]:
            ac.append(_aircraft(rnd, None, "falsy"))
        elif u < TICKS["dup_share"] + TICKS["falsy_share"] + TICKS["whitespace_share"]:
            ac.append(_aircraft(rnd, None, "whitespace"))
        else:
            ac.append(_aircraft(rnd, ids[i], "plain"))
    return json.dumps({"msg": "No error", "ac": ac}), n, wide


def expected_ids(payload: str, keys: set[str]) -> list[str]:
    """Plain-Python model of R5-R25: the id set a tick must emit.

    id = lower(trim(r || flight)) with JS-falsy ``||``; rows whose id is
    empty drop; the last row per id wins (only the id matters here); the
    includes filter keeps ids present in the allow-list."""
    out = set()
    for ac in json.loads(payload)["ac"]:
        raw = ac.get("r") or ac.get("flight")
        if not raw:
            continue
        key = raw.strip(" ").lower()
        if key and key in keys:
            out.add(key)
    return sorted(out)


# --------------------------------------------------------------------------
# stream replay: observation files
# --------------------------------------------------------------------------

#: Input properties of the stream replay (also summarised in BENCHMARK.json).
STREAM = {
    "files": 4,                 # files per replay, one micro-batch each
    "event_s_per_file": 1200,   # event time a file covers
    "fleet": 400,               # airframes
    "silence_files": (2, 4),    # files between an airframe's visits (> gap)
    "obs_per_visit": (1, 4),    # observations per visit, within one file
    "late_window_s": 300,       # events in a file's last 300 s may arrive late
    "late_prob": 0.4,           # ... with this probability: ~10% of all events
}
STREAM_EPOCH_MS = 1_700_000_000_000


def stream_schedule(seed: int, n_files: int) -> list[list[tuple[str, int]]]:
    """Per-file observations ``[(hex, obs_ts_ms), ...]``.

    Each airframe visits for at most one file's event time (1200 s, under
    the 1800 s session gap) and then stays silent for at least two files
    (2400 s), so each visit is exactly one batch session whatever the
    arrival order. Events in the last 300 s of a file's span may be held
    back to the next file: late, but inside the 10-minute watermark."""
    rnd = random.Random(seed * 31 + 5)
    span = STREAM["event_s_per_file"] * 1000
    late_from = span - STREAM["late_window_s"] * 1000
    files: list[list[tuple[str, int]]] = [[] for _ in range(n_files + 1)]
    for a in range(STREAM["fleet"]):
        hexid = f"{(seed * 104_729 + a * 2_654_435_761) & 0xFFFFFF:06x}{a:04d}"
        f = rnd.randint(0, STREAM["silence_files"][1])
        while f < n_files:
            for _ in range(rnd.randint(*STREAM["obs_per_visit"])):
                off = rnd.randrange(1, span)
                late = off >= late_from and rnd.random() < STREAM["late_prob"]
                files[f + 1 if late else f].append((hexid, STREAM_EPOCH_MS + f * span + off))
            f += 1 + rnd.randint(*STREAM["silence_files"])
    for obs in files:
        rnd.shuffle(obs)
    return files[:n_files]


def write_obs_file(path: str, obs: list[tuple[str, int]]) -> None:
    """Write one JSON-lines file atomically (a dot-named temp file, which
    the file source ignores, renamed into place)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        for hexid, ts in obs:
            stamp = dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc)
            f.write('{"hex":"%s","obs_ts":"%s"}\n'
                    % (hexid, stamp.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"))
    os.replace(tmp, path)


def batch_sessions(events: list[tuple[str, int]], gap_ms: int):
    """Batch sessionisation: {(hex, start_ms, end_ms, n)} plus, per key,
    the end of its last session (which only a watermark can close)."""
    by_key: dict[str, list[int]] = {}
    for h, t in events:
        by_key.setdefault(h, []).append(t)
    closed_by_successor, last = set(), {}
    for h, ts in by_key.items():
        ts.sort()
        start = prev = ts[0]
        n = 1
        sessions = []
        for t in ts[1:]:
            if t - prev > gap_ms:
                sessions.append((h, start, prev, n))
                start, n = t, 0
            prev = t
            n += 1
        closed_by_successor.update(sessions)
        last[h] = (h, start, prev, n)
    return closed_by_successor, last


# --------------------------------------------------------------------------
# batch: TPC-H-shaped tables, documents and embeddings
# --------------------------------------------------------------------------

#: Input properties of the batch workload (also summarised in BENCHMARK.json).
TABLES = {
    "orders": 60_000,             # lineitem ~4x, customer /10, part /7.5, supplier /150
    "events": 50_000,
    "users": 1_500,
    "documents": 500,             # documents and embeddings only back the oracle's views
    "embeddings": 200,
}

_WORDS = ("batch part spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge "
          "data join vector customer").split()
_STOP = ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_COLORS = ("blue", "hot", "large", "green", "red", "dark", "small", "steel")
_NOUNS = ("ring", "bolt", "widget", "gear", "valve", "spring")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b, n)


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _write(out: str, name: str, cols: dict, rng) -> int:
    t = pa.table(cols)
    t = t.take(pa.array(rng.permutation(t.num_rows)))  # seeded row order
    pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return t.num_rows


def _doc_text(rng, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        words.append(_STOP[rng.integers(len(_STOP))] if rng.random() < 0.25
                     else _WORDS[rng.integers(len(_WORDS))])
    return " ".join(words)


def make_tables(seed: int, out: str) -> dict[str, int]:
    """Write the ten driver-shaped tables into ``out``; returns row counts.

    Key domains and value vocabularies follow the engine's driver tables
    (region/nation dims, 'BUILDING' segments, '%widget%' part names,
    1995-2001 order dates, five event types), so every query in the mix
    selects and joins real rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_ord = TABLES["orders"]
    n_cust, n_part, n_supp = n_ord // 10, n_ord * 2 // 15, max(n_ord // 150, 10)
    rows = {}
    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, rng)
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }, rng)
    rows["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }, rng)
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }, rng)
    rows["part"] = _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(_COLORS), n_part), rng.integers(0, len(_NOUNS), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + np.arange(n_part) % 2000 * 0.1, 2),
    }, rng)
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": _ts_days(odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }, rng)
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(np.repeat(odate, lines) + rng.integers(1, 122, n_li)),
    }, rng)
    n_ev = TABLES["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400 * 10**6, n_ev))
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, TABLES["users"], n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, rng)
    n_doc = TABLES["documents"]
    texts = [_doc_text(rng, int(rng.integers(10, 90))) for _ in range(n_doc)]
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(("en", "de", "es", "fr", "zh"))[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, rng)
    n_emb = TABLES["embeddings"]
    base = rng.normal(size=(n_emb, 64)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(base), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }, rng)
    return rows
