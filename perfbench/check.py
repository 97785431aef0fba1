"""Output checks. They run after the timed loop and count wrong operations.

* pipeline_backfill: the expected final row of every day is recomputed here
  from the generated hourly values (SQL null semantics, the latest-file rule:
  the older second doc is ignored, and replayed days take the revised
  payload). Each pass must also leave 168 silver rows and one gold row per
  day, every upsert must consume exactly one staged row and leave the stage
  table empty.
* dedup_pairs: every consumer query's output (written once more after the
  timed cycle) is compared with DuckDB running the query's oracle SQL, by
  the repository's own validator `tools/validate_oracle.py`, called
  unedited. A wrong query counts as failed on every run of it. The query
  tables are fixed, so DuckDB's answer to an oracle SQL is cached per
  (SQL, table bytes): some oracles take a minute in DuckDB.
"""
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import math
import os

import duckdb
import pandas as pd

HOURS = 168
REL_TOL = 1e-9  # sums and averages of doubles depend on addition order


def _doc(inputs, idx, tag=""):
    name = f"{idx}.{tag}.json" if tag else f"{idx}.json"
    with open(os.path.join(inputs, name), encoding="utf-8") as f:
        return json.load(f)


def expected_row(doc):
    """(min, max, avg temperature, precipitation sum, avg humidity) over
    the doc's hourly rows, ignoring nulls like SQL aggregates do."""
    h = doc["hourly"]
    temp = [v for v in h["temperature_2m"] if v is not None]
    rain = [v for v in h["precipitation"] if v is not None]
    hum = [v for v in h["relative_humidity_2m"] if v is not None]
    return (min(temp) if temp else None, max(temp) if temp else None,
            sum(temp) / len(temp) if temp else None, sum(rain) if rain else None,
            sum(hum) / len(hum) if hum else None)


def expected_rows(inputs):
    """date -> expected final row, for every generated day."""
    out = {}
    with open(os.path.join(inputs, "days.tsv")) as f:
        for line in f:
            idx, date, _, replay = line.rstrip("\n").split("\t")
            out[date] = expected_row(_doc(inputs, idx, "rev" if int(replay) >= 0 else ""))
    return out


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def pipeline(res, inputs):
    """Return (failed, attempted, notes)."""
    want = expected_rows(inputs)
    days = [o for o in res["ops"] if o["kind"] in ("day", "replay")]
    bad, notes = set(), []
    c = res["check"]
    for i, n in enumerate(c["stage_rows_after_upsert"]):
        if n != 0:
            bad.add(i)
            notes.append(f"stage table holds {n} rows after upsert of {days[i]['name']}")
    for i, n in enumerate(c["staged_rows"]):
        if n != 1:
            bad.add(i)
            notes.append(f"upsert of {days[i]['name']} consumed {n} staged rows")
    last_op = {(o["pass"], o["name"]): i for i, o in enumerate(days)}
    for p in c["passes"]:
        got = {f"{r[0]:04d}-{r[1]:02d}-{r[2]:02d}": tuple(r[3:]) for r in p["final"]}
        for date in p["dates"]:
            problems = []
            if got.get(date) is None:
                problems.append("no final row")
            elif not all(_same(x, y) for x, y in zip(got[date], want[date])):
                problems.append(f"final row {got[date]} != expected {want[date]}")
            if p["silver_rows"].get(date) != HOURS:
                problems.append(f"{p['silver_rows'].get(date)} silver rows")
            if p["gold_rows"].get(date) != 1:
                problems.append(f"{p['gold_rows'].get(date)} gold rows")
            if problems:
                bad.add(last_op[(p["pass"], date)])
                notes.append(f"pass {p['pass']} {date}: " + "; ".join(problems))
        for date in sorted(set(got) - set(p["dates"])):
            notes.append(f"pass {p['pass']}: unexpected final row for {date}")
            bad.update(i for (q, _), i in last_op.items() if q == p["pass"])
    bad.update(range(len(days), len(days) + len(res["errors"])))
    return len(bad), max(1, len(days)), notes


def _validator():
    spec = importlib.util.spec_from_file_location(
        "validate_oracle", os.path.join("tools", "validate_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _CachedDuck:
    """Stands in for the `duckdb` module inside the validator: views are
    created as usual, query results are read from / written to `cache`."""

    def __init__(self, cache, data):
        self.cache, self.con = cache, None
        h = hashlib.sha256()
        for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
            with open(p, "rb") as f:
                h.update(f.read())
        self.tables = h.hexdigest()

    def connect(self):
        self.con = duckdb.connect()
        return self

    def execute(self, sql):
        if sql.startswith("CREATE VIEW"):
            return self.con.execute(sql)
        key = hashlib.sha256((self.tables + sql).encode()).hexdigest()
        path = os.path.join(self.cache, key + ".pkl")
        if not os.path.exists(path):
            os.makedirs(self.cache, exist_ok=True)
            self.con.execute(sql).fetchdf().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        return _Frame(path)


class _Frame:
    def __init__(self, path):
        self.path = path

    def fetchdf(self):
        return pd.read_pickle(self.path)


def oracle_failures(data, dump, cache=None):
    """Names whose dumped output does not match DuckDB, with the
    validator's lines for them."""
    mod = _validator()
    if cache:
        mod.duckdb = _CachedDuck(cache, data)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data, dump)
    failing = {}
    for line in buf.getvalue().splitlines():
        word = line.split()[0] if line.split() else ""
        if word in ("FAIL", "MISSING", "ORACLE-ERR"):
            name = line.split()[2 if word == "FAIL" else 1].rstrip(":").split(".")[0]
            failing[name] = line
    return failing


def queries(res, data, dump, cache=None):
    """Return (failed, attempted, notes)."""
    ops = [o for o in res["ops"] if o["kind"] in ("query", "build")]
    wrong = oracle_failures(data, dump, cache)
    notes = list(wrong.values())
    for name in res["check"]["without_oracle"]:
        wrong[name] = "no oracle"
        notes.append(f"NO-ORACLE {name}")
    failed = sum(1 for o in ops if o["kind"] != "build" and o["name"] in wrong)
    for k, v in res["errors"].items():
        notes.append(f"ERROR {k}: {v}")
        name = k.split(":")[-1]
        if name not in wrong:
            failed += 1
    return failed, max(1, len(ops)), notes


def check(workload, res, inputs, data, dump, cache):
    if workload == "pipeline_backfill":
        return pipeline(res, inputs)
    return queries(res, data, dump, cache)
