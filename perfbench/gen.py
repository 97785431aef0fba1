"""Seeded input generators for the benchmark.

Two families, both pure functions of their seed (same seed -> byte-identical
files, see selftest.py):

* weather payloads for `pipeline_backfill`: Open-Meteo-shaped forecast
  documents (168 hourly rows = the API's 7-day forecast, three variables,
  a few null cells), an older second document on ~10% of days, and a revised
  payload for a seeded ~quarter of the days (the replay phase);
* the TPC-H-ish star schema plus `events`, `documents` and `embeddings`
  tables the query workloads read, with the column names, types and value
  domains of the suite's oracle test data.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOURS = 168
START_DATE = dt.date(2025, 6, 1)
NULL_FRAC = 0.01       # share of value cells emitted as JSON null
MULTI_DOC_FRAC = 0.10  # days whose bronze partition also holds an older doc
REPLAY_FRAC = 0.25     # days re-run with a revised payload


def _hourly(rng, first_day):
    """One payload's hourly arrays: times plus three value arrays with nulls."""
    t0 = dt.datetime.combine(first_day, dt.time())
    times = [(t0 + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M")
             for h in range(HOURS)]
    base = rng.uniform(5.0, 25.0)
    diurnal = np.sin(np.arange(HOURS) * 2 * np.pi / 24.0)
    temp = np.round(base + 6.0 * diurnal + rng.normal(0, 1.5, HOURS), 1)
    hum = np.round(np.clip(70.0 - 15.0 * diurnal + rng.normal(0, 6, HOURS), 5, 100), 0)
    rain = np.where(rng.random(HOURS) < 0.15,
                    np.round(rng.exponential(1.2, HOURS), 1), 0.0)
    cols = []
    for arr in (temp, hum, rain):
        vals = [float(v) for v in arr]
        for i in np.flatnonzero(rng.random(HOURS) < NULL_FRAC):
            vals[i] = None
        cols.append(vals)
    return times, cols


def payload_doc(rng, first_day):
    """An Open-Meteo forecast document as the API returns it."""
    times, (temp, hum, rain) = _hourly(rng, first_day)
    return {
        "latitude": 39.68, "longitude": -75.75, "generationtime_ms": 0.25,
        "utc_offset_seconds": 0, "timezone": "GMT", "timezone_abbreviation": "GMT",
        "elevation": 27.0,
        "hourly_units": {"time": "iso8601", "temperature_2m": "°C",
                         "relative_humidity_2m": "%", "precipitation": "mm"},
        "hourly": {"time": times, "temperature_2m": temp,
                   "relative_humidity_2m": hum, "precipitation": rain},
    }


def weather(out_dir, seed, n_days):
    """Write `n_days` of payloads plus `days.tsv` (idx, date, has_old, replay)
    and return the per-day plan. `replay` is the day's rank in the seeded
    replay order, or -1 when the day is not replayed. The seed picks which
    days are multi-doc or replayed; how many is fixed, so every seed asks
    for the same amount of work."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    plan = []
    n_old = max(1, round(n_days * MULTI_DOC_FRAC))
    old = set(int(d) for d in rng.choice(n_days, n_old, replace=False))
    n_replay = max(1, round(n_days * REPLAY_FRAC))
    ranks = {int(d): r for r, d in enumerate(rng.choice(n_days, n_replay, replace=False))}
    for i in range(n_days):
        day = START_DATE + dt.timedelta(days=i)
        docs = {"": payload_doc(rng, day)}
        has_old = i in old
        if has_old:
            docs["old"] = payload_doc(rng, day - dt.timedelta(days=1))
        if i in ranks:
            docs["rev"] = payload_doc(rng, day)
        for tag, doc in docs.items():
            name = f"{i}.{tag}.json" if tag else f"{i}.json"
            with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
                json.dump(doc, f, ensure_ascii=False, separators=(", ", ": "))
        plan.append({"idx": i, "date": day.isoformat(), "has_old": has_old,
                     "replay": ranks.get(i, -1)})
    with open(os.path.join(out_dir, "days.tsv"), "w") as f:
        for p in plan:
            f.write(f"{p['idx']}\t{p['date']}\t{int(p['has_old'])}\t{p['replay']}\n")
    return plan


# --- query tables ---------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _write(out_dir, name, cols, schema):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words changed
            words = texts[rng.integers(i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 40)):
                words[j] = VOCAB[rng.integers(len(VOCAB))]
            words.append("dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    return texts


def tables(out_dir, sf, seed):
    """Write the ten query tables at scale factor `sf`."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def sch(*fields):
        return pa.schema(list(fields))

    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           sch(("r_regionkey", i32), ("r_name", s)))
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
                               "n_regionkey": nk % 5},
           sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))

    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]},
        sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
            ("c_acctbal", f64), ("c_mktsegment", s)))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)},
        sch(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
            ("p_size", i32), ("p_retailprice", f64)))
    ok = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]},
        sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)))
    n_li = 4 * n_ord
    flags = rng.integers(0, 6, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k // 2] for k in flags],
        "l_linestatus": [("F", "O")[k % 2] for k in flags],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)},
        sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
            ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
            ("l_linestatus", s), ("l_shipdate", ts)))
    n_ev = int(1000000 * sf)
    steps = rng.integers(1, int(2 * 30 * 86400e6 / n_ev), n_ev).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(steps),
        "user_id": rng.integers(0, max(15, int(15000 * sf)), n_ev),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        sch(("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
            ("value", f64), ("props", s)))
    n_doc = max(500, int(50000 * sf))
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        sch(("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)))
    n_emb = max(500, int(20000 * sf))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)},
        sch(("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)))


def query_order(names, seed):
    """The seeded order in which a query workload runs its queries."""
    rng = np.random.default_rng([seed, 3])
    return [names[i] for i in rng.permutation(len(names))]
