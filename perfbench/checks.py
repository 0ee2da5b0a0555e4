"""Answer checks. Run after the harness exits, so none of this is timed.

Exact answers come from DuckDB over the same parquet files, the engine the
repository's oracle check (`tools/check_oracle.py`) uses, and are cached per
(dataset fingerprint, seed) under `.bench_build/truth`. Each op is marked ok
or failed here; a failed op is never dropped from the run.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import threading
from concurrent.futures import ThreadPoolExecutor

from inputs import TWINS

# A model answer is wrong when any of its values is off by more than this
# factor (q-error), the most the program's own specs accept on a single
# aggregate. README.md ("Measured") gives the q-errors the runs measured.
QERROR_FAIL = 2.5
# An approximate corpus op is wrong when it finds less than this share of
# its exact twin's answer.
RECALL_FAIL = 0.5

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def qerror(est, exact):
    if est is None or exact is None:
        return math.inf
    est, exact = float(est), float(exact)
    if est == exact:
        return 1.0
    if est <= 0 or exact <= 0:
        return math.inf
    return max(est / exact, exact / est)


def normalize(v):
    """One value as both engines' answers are compared: timestamps as epoch
    micros, dates as epoch days, decimals and integral floats as numbers
    that compare equal the way check_oracle's `==` does."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, str) and v in ("NaN", "Infinity", "-Infinity"):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2 ** 53:
            return int(v)
        return v
    if isinstance(v, (list, tuple)):
        return [normalize(x) for x in v]
    if isinstance(v, bytes):
        return v.hex()
    return v


def canonical(columns, rows):
    """Columns sorted by name, rows kept in result order (check_oracle's rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], [[normalize(r[i]) for i in order] for r in rows]


def digest(columns, rows):
    cols, rs = canonical(columns, rows)
    return hashlib.sha256(json.dumps([cols, rs], separators=(",", ":")).encode()).hexdigest()


class Truth:
    """DuckDB over one dataset directory (loaded into memory on first use),
    with a per-key JSON cache."""

    def __init__(self, data_dir, cache_path):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.cache = json.load(open(cache_path)) if os.path.isfile(cache_path) else {}
        self.dirty = False
        self._con = None
        self._local = threading.local()

    def con(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self._con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{p}'")
        return self._con

    def query(self, sql):
        """(columns, rows) of the exact answer, on this thread's cursor."""
        if not hasattr(self._local, "cursor"):
            self._local.cursor = self.con().cursor()
        r = self._local.cursor.execute(sql)
        return [d[0] for d in r.description], r.fetchall()

    def fill(self, queries, convert):
        """Caches convert(columns, rows) of each {key: sql} not yet cached.
        Runs four queries at a time: DuckDB runs a small query on one core."""
        todo = [(k, q) for k, q in queries.items() if k not in self.cache]
        self.con()
        with ThreadPoolExecutor(4) as pool:
            for (k, _), v in zip(todo, pool.map(lambda kq: convert(*self.query(kq[1])), todo)):
                self.cache[k] = v
        self.dirty = self.dirty or bool(todo)

    def save(self):
        if self.dirty:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)


def fail(op, why):
    op["ok"] = False
    op.setdefault("why", why)


def check_aqp(ops, truth):
    """Model answers against the exact answer of the same SQL text."""
    truth.fill({op["sql"]: op["sql"] for op in ops if not op.get("error")},
               lambda cols, rows: [normalize(list(r)) for r in rows])
    for op in ops:
        op["ok"] = True
        if op.get("error"):
            fail(op, op["error"])
            continue
        if not op.get("folded"):
            fail(op, "fold declined: the query scanned data")
        want = truth.cache[op["sql"]]
        got = [normalize(r) for r in op["answer"]["rows"]]
        op["qerror"] = answer_qerror(got, want)
        if op["qerror"] > QERROR_FAIL:
            fail(op, f"q-error {op['qerror']:.3g} > {QERROR_FAIL}")


def answer_qerror(got, want):
    """Largest q-error over the aggregate (last) column, rows matched on the
    group key (the other columns); a missing or extra group is infinite."""
    def keyed(rows):
        return {json.dumps(r[:-1]): r[-1] for r in rows}
    g, w = keyed(got), keyed(want)
    if g.keys() != w.keys() or len(got) != len(want):
        return math.inf
    return max([qerror(g[k], w[k]) for k in w] or [1.0])


def check_named(ops, answers_dir, truth):
    """olap_exact / corpus_dedup. The first answer of each op is compared
    with the exact answer (DuckDB on the op's oracle SQL) or, for an
    approximate op, graded by recall against its exact twin; every later
    execution must equal the first. Returns per-op recall and layer facts."""
    oracle_path = os.path.join(answers_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.isfile(oracle_path) else {}
    verdict, recall, extra = {}, {}, {}
    names = sorted({op["name"] for op in ops if op.get("first")})
    truth.fill({"oracle:" + n: oracle[n] for n in names if n in oracle},
               lambda cols, rows: {"digest": digest(cols, rows), "rows": len(rows)})
    truth.fill({"twin:" + TWINS[n]: oracle[TWINS[n]] for n in names if n in TWINS},
               lambda cols, rows: sorted(key_of(cols, r) for r in rows))
    for name in names:
        with open(os.path.join(answers_dir, f"{name}.json")) as f:
            ans = json.load(f)
        if name in oracle:
            want = truth.cache["oracle:" + name]
            got = digest(ans["columns"], ans["rows"])
            verdict[name] = None if got == want["digest"] else \
                f"answer differs from the exact answer ({len(ans['rows'])} vs {want['rows']} rows)"
        elif name in TWINS:
            twin = TWINS[name]
            want = set(truth.cache["twin:" + twin])
            got = {key_of(ans["columns"], r) for r in ans["rows"]}
            recall[name] = len(want & got) / len(want) if want else 1.0
            verdict[name] = None if recall[name] >= RECALL_FAIL else \
                f"recall {recall[name]:.3f} < {RECALL_FAIL} against {twin}"
        else:
            verdict[name] = None  # no exact form: checked for repeatability only
        if name == "dedup_lsh_stats":
            cols = ans["columns"]
            cand = sum(r[cols.index("candidate_pairs")] for r in ans["rows"])
            pairs = sum(r[cols.index("all_pairs")] for r in ans["rows"])
            extra["lsh_candidate_ratio"] = cand / pairs if pairs else 0.0
    for op in ops:
        op["ok"] = True
        if op.get("error"):
            fail(op, op["error"])
        elif op.get("same_as_first") is False:
            fail(op, "answer differs from this op's first answer in the run")
        elif verdict.get(op["name"]):
            fail(op, verdict[op["name"]])
    return recall, extra


def key_of(columns, row):
    """Identity of one result row of a pair or top-k op: its id columns."""
    ids = [c for c in ("a_id", "b_id", "vec_id", "doc_id") if c in columns]
    return json.dumps([row[columns.index(c)] for c in ids])
