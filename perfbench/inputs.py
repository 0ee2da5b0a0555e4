"""Seeded inputs of each workload. The program sees only what these return.

`stream` is the ordered list of items the harness consumes; it only stops
between `unit`-sized groups. aqp_fold runs a fixed number of whole rounds
of its query classes, with the order and the constants drawn from the seed.
olap_exact and corpus_dedup run whole passes over their op set
(corpus_dedup two at a time) in one fixed order; their seed chooses the
data instead (see run.py). A permuted order makes each op's latency depend
on its place in the pass: early ops pay the JVM's compile warm-up and the
corpus ops share memoized intermediate frames, so one op's latency moved by
up to 3x between seeds.
"""
import datetime
import math
import os
import random
import re

OLAP_OPS = [f"tpch_q{i}" for i in range(1, 23)] + [f"ssb_q{i}" for i in range(1, 5)]
# approximate corpus ops and the exact op whose answer (DuckDB on its
# oracle SQL) they are graded against
TWINS = {"dedup_cosine_lsh": "dedup_cosine", "sim_topk_ivfpq": "sim_topk"}
CORPUS_OPS = ["quality_filter", "dedup_near", "dedup_simhash", "fingerprint_winnow",
              "decontaminate", "dedup_cosine_lsh", "dedup_lsh_stats", "sim_topk_ivfpq",
              "corpus_pipeline"]

DIM_TABLES = ["region", "nation", "supplier", "customer", "part"]
FACT_TABLES = ["orders", "lineitem"]
STAR_TABLES = DIM_TABLES + FACT_TABLES

# aqp_fold query classes: the committed query lines, see aqp_templates.sql
TEMPLATES_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "aqp_templates.sql")

# Value domain of every column a template compares with a constant:
# (low, high, decimals), dates as ISO strings. FIXTURES.md gives these
# ranges; p_retailprice, s_acctbal, l_extendedprice and o_totalprice are
# the measured ranges of the sf0.1 fixture, which gen_data.py draws from.
DOMAINS = {
    "l_quantity": (1, 50, 2), "l_discount": (0.0, 0.10, 4), "l_tax": (0.0, 0.08, 4),
    "l_extendedprice": (900.0, 105_000.0, 2), "o_totalprice": (1000.0, 500_000.0, 2),
    "c_acctbal": (-999.99, 9999.99, 2), "s_acctbal": (-999.99, 9999.99, 2),
    "p_size": (1, 50, 2), "p_retailprice": (900.0, 999.9, 2),
    "l_shipdate": ("1995-01-02", "2001-11-04", None), "o_orderdate": ("1995-01-01", "2001-08-01", None),
}
_COL = r"(?:\b[a-z]\.)?(?P<col>" + "|".join(DOMAINS) + r")\b"
_LIT = r"(?:DATE\s+)?(?:'\d{4}-\d{2}-\d{2}'|-?\d+(?:\.\d+)?)"
# one literal compared with a column: `col op lit`, or the two of `col BETWEEN lit AND lit`
_CMP_RE = re.compile(_COL + r"\s*(?:<=|>=|<>|!=|<|>|=)\s*(?P<a>" + _LIT + ")")
_BETWEEN_RE = re.compile(_COL + r"\s+BETWEEN\s+(?P<a>" + _LIT + r")\s+AND\s+(?P<b>" + _LIT + ")")
# the range predicate a line without constants gets, on its first table
_ADDED = {"lineitem": ("l_quantity", "<"), "orders": ("o_totalprice", "<"), "customer": ("c_acctbal", ">")}
# constants are drawn in the middle of the domain, at least GAP apart on one
# column, so every predicate keeps a tenth or more of its column's rows
BAND, GAP = (0.1, 0.9), 0.1


def templates():
    """The query classes, one committed line each, in file order."""
    with open(TEMPLATES_PATH) as f:
        return [l.strip().rstrip(";") for l in f if l.strip() and not l.startswith("--")]


def _day(iso):
    return datetime.date.fromisoformat(iso).toordinal()


def _value(col, pos):
    lo, hi, dec = DOMAINS[col]
    if dec is None:
        return "'" + datetime.date.fromordinal(round(_day(lo) + pos * (_day(hi) - _day(lo)))).isoformat() + "'"
    return repr(round(lo + pos * (hi - lo), dec))


def _literal_order(text):
    text = text.split()[-1].strip("'")
    return _day(text) if "-" in text[1:] else float(text)


def _positions(rng, k):
    while True:
        ps = sorted(rng.uniform(*BAND) for _ in range(k))
        if all(b - a >= GAP for a, b in zip(ps, ps[1:])):
            return ps


def instantiate(template, rng):
    """The template with every numeric and date constant compared with a
    column redrawn inside that column's domain. Several constants on one
    column keep their committed order (`x >= a AND x < b` stays a range).
    A template without such a constant gets one range predicate on its
    first table, so no text repeats."""
    spans = []  # (start, end, col, committed literal)
    for m in _BETWEEN_RE.finditer(template):
        spans += [(m.start(g), m.end(g), m["col"], m[g]) for g in ("a", "b")]
    taken = [(s, e) for s, e, _, _ in spans]
    for m in _CMP_RE.finditer(template):
        if not any(s <= m.start("a") < e for s, e in taken):
            spans.append((m.start("a"), m.end("a"), m["col"], m["a"]))
    if not spans:
        table = re.search(r"\bFROM\s+(\w+)", template).group(1)
        col, op = _ADDED[table]
        pred = f"{col} {op} {_value(col, rng.uniform(*BAND))}"
        if " WHERE " in template:
            return template.replace(" WHERE ", f" WHERE {pred} AND ", 1)
        return template.replace(" GROUP BY ", f" WHERE {pred} GROUP BY ", 1)
    values = {}
    for col in sorted({c for _, _, c, _ in spans}):
        mine = sorted((sp for sp in spans if sp[2] == col), key=lambda sp: (_literal_order(sp[3]), sp[0]))
        for sp, pos in zip(mine, _positions(rng, len(mine))):
            keep = sp[3][:sp[3].index("'")] if "'" in sp[3] else ""  # a DATE keyword
            values[sp[0]] = keep + _value(col, pos)
    out, last = [], 0
    for s, e, _, _ in sorted(spans):
        out += [template[last:s], values[s]]
        last = e
    return "".join(out) + template[last:]


def aqp_queries(seed, rounds, exclude=()):
    """`rounds` rounds of distinct queries, none in `exclude`. A round holds
    every class once, in a seeded order, so each class keeps its share of
    the committed lines and every whole round has the same class mix."""
    rng = random.Random(f"aqp_fold/{seed}")
    tpl = templates()
    out, seen = [], set(exclude)
    for _ in range(rounds):
        for t in rng.sample(tpl, len(tpl)):
            sql = instantiate(t, rng)
            while sql in seen:
                sql = instantiate(t, rng)
            seen.add(sql)
            out.append(sql)
    return out


# set-up runs this many rounds (drawn from their own seed) before timing:
# a round takes about 2 s first and 1.3 s from the fifth round on, as the
# JVM compiles the fold path, and then shrinks only slowly. With one
# warm-up round the timed rounds fell on the steep part, at a point that
# differed from run to run, and median latency spread by 0.17 to 0.28
# over ten seeds.
AQP_WARMUP_ROUNDS = 4


# aqp_fold's timed phase runs this many rounds per second asked, whatever
# their speed: 101 queries, which take 1 to 1.8 s on 4 cores. A time limit
# would end one run after 4 rounds and the next after 5, so the class mix
# the figures are taken over would change from run to run; a fixed run
# length keeps it the same.
AQP_ROUNDS_PER_SECOND = 1.0


def aqp_warmup():
    return aqp_queries("warmup", AQP_WARMUP_ROUNDS)


def make(workload, seed, seconds):
    """The harness input for one run, minus the paths run.py fills in.

    `tables` are read and cached during set-up (`schema.Tables`); aqp_fold
    warms none itself, its set-up training reads and caches every table."""
    if workload == "aqp_fold":
        warm = aqp_warmup()
        # a fixed run length: the whole stream is one unit
        stream = aqp_queries(seed, math.ceil(AQP_ROUNDS_PER_SECOND * seconds), exclude=warm)
        return {"tables": [], "views": STAR_TABLES, "warmup": warm, "unit": len(stream),
                "round": len(templates()), "stream": stream,
                "update_rows": 1000}
    if workload == "olap_exact":
        return {"tables": DIM_TABLES, "warmup": ["tpch_q6"], "unit": len(OLAP_OPS),
                "round": len(OLAP_OPS),
                "stream": OLAP_OPS * (4 + int(seconds))}
    if workload == "corpus_dedup":
        # two passes per unit: one pass gives only 9 samples, too few for
        # a tail with ten samples beyond it
        return {"tables": ["documents", "embeddings"], "warmup": ["quality_filter"],
                "unit": 2 * len(CORPUS_OPS), "round": 2 * len(CORPUS_OPS),
                "stream": CORPUS_OPS * 2 * (2 + int(seconds))}
    raise ValueError(f"unknown workload {workload}")
