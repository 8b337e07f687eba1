"""Output checks for the harness's result file.

Each op is judged here or by the harness (its `ok` flag); a failed check
counts in `failed` and in `error_rate`:

- adhoc_star's set-up: every rebuild's per-stage row counts against the
  engine's own `etl_pipeline` oracle SQL, and every backfill's end state
  against the `etl_backfill` oracle SQL, both run by DuckDB on the inputs.
- adhoc_star: every query's rows against the same SQL run by DuckDB on
  the same parquet (the warehouse the engine built, or the inputs);
  `describeTable` against the parquet schema.
- corpus_batch: each entry's order-independent digest must be the same
  in every pass of the run, and the same as in every earlier run with
  the same seed and input size (kept in `.bench_state/`).
"""
import datetime
import decimal
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WAREHOUSE = ["dim_customer", "dim_supplier", "dim_part", "dim_geo", "dim_dates",
             "dim_payments", "fact_orders"]


def source_db(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def warehouse_db(wh):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in WAREHOUSE:
        if t == "fact_orders":
            src = f"read_parquet('{wh}/{t}/*/*.parquet', hive_partitioning = true)"
        else:
            src = f"read_parquet('{wh}/{t}/*.parquet')"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    # non-float cells first: group keys are exact, so float noise in the
    # aggregates never reorders rows
    exact = tuple("" if v is None else str(v) for v in row if not isinstance(v, float))
    return exact, tuple(v for v in row if isinstance(v, float))


def same_rows(got, want, ordered):
    got = [tuple(norm(v) for v in r) for r in got]
    want = [tuple(norm(v) for v in r) for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(close(x, y) for x, y in zip(g, w)):
            return f"row {g} != {w}"
    return None


class Checker:
    def __init__(self, result, data, state_dir, scale):
        self.r = result
        self.data = data
        self.state_dir = state_dir
        self.scale = scale
        self._src = None
        self._wh = None
        self._cache = {}

    @property
    def src(self):
        if self._src is None:
            self._src = source_db(self.data)
        return self._src

    @property
    def wh(self):
        if self._wh is None:
            self._wh = warehouse_db(self.r["extra"]["warehouse"])
        return self._wh

    def query(self, con_name, sql):
        key = (con_name, sql)
        if key not in self._cache:
            con = self.src if con_name == "source" else self.wh
            self._cache[key] = con.execute(sql).fetchall()
        return self._cache[key]

    def verdicts(self):
        """(op, error or None) for every op that carries an outcome."""
        getattr(self, "_prepare_" + self.r["workload"], lambda: None)()
        out = []
        for op in self.r["ops"]:
            if op["kind"] == "pass":
                continue
            err = None if op["ok"] else (op["detail"] or "failed")
            if err is None:
                try:
                    err = self.check(op)
                except Exception as e:  # a checker crash is a failed check
                    err = f"check raised {type(e).__name__}: {e}"
            out.append((op, err))
        return out

    def check(self, op):
        c = op["check"]
        kind = op["kind"]
        if kind == "rebuild":
            want = {s: n for s, n, _ in self.query("source", self.r["extra"]["oracle_etl_pipeline"])}
            got = {s["stage"]: s["rows"] for s in c["stages"]}
            return None if got == want else f"stage rows {got} != {want}"
        if kind == "backfill":
            return same_rows(c["rows"], self.query("source", self.r["extra"]["oracle_etl_backfill"]), False)
        if c.get("engine") in ("warehouse", "source"):
            return same_rows(c["rows"], self.query(c["engine"], c["sql"]), c["ordered"])
        if c.get("engine") == "describe":
            want = self.query("source", f"DESCRIBE SELECT * FROM {c['table']}")
            got = [(r[0], r[2]) for r in c["rows"]]
            return None if got == [(w[0], i + 1) for i, w in enumerate(want)] else f"describe {got}"
        if kind == "entry":
            return self._digest_error(op)
        return None

    # corpus_batch: one digest per entry across passes and runs
    def _prepare_corpus_batch(self):
        os.makedirs(self.state_dir, exist_ok=True)
        path = os.path.join(self.state_dir, "corpus_digests.json")
        known = json.load(open(path)) if os.path.exists(path) else {}
        self._digests = {}
        for op in self.r["ops"]:
            if op["kind"] == "entry" and op["ok"]:
                self._digests.setdefault(op["key"], set()).add(op["check"]["digest"])
        self._known = {}
        for entry, ds in self._digests.items():
            key = f"{self.r['seed']}:{self.scale}:{entry}"
            if key not in known and len(ds) == 1:
                known[key] = next(iter(ds))
            self._known[entry] = known.get(key)
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=0, sort_keys=True)
        os.replace(tmp, path)

    def _digest_error(self, op):
        entry, d = op["key"], op["check"]["digest"]
        if len(self._digests[entry]) > 1:
            return f"{entry}: digests differ across passes {sorted(self._digests[entry])}"
        if self._known.get(entry) not in (None, d):
            return f"{entry}: digest {d} != earlier run's {self._known[entry]}"
        return None
