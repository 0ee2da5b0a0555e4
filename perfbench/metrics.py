"""Metric definitions: the end-to-end set every run reports, and the
per-layer set the traced run reports (0 where a layer does no work)."""
import math
import re
import statistics

from inputs import CORPUS_OPS

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"), ("cpu_ms_per_op", "ms"), ("heap_retained_mb", "MB"),
]

# (name, unit); the traced.* entries repeat end-to-end metrics measured with
# tracing on, so tracing overhead = traced.<m> - <m> of an untraced run
PER_LAYER = [
    ("session.start_ms", "ms"),
    ("schema.warm_ms", "ms"), ("schema.cached_mb", "MB"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("plans.fold_ratio", "ratio"),
    ("rspn.state_ms", "ms"), ("rspn.estimate_ms", "ms"), ("rspn.expect_evals", "count"),
    ("rspn.train_ms", "ms"), ("rspn.train_driver_ms", "ms"), ("rspn.train_jobs", "count"),
    ("rspn.save_ms", "ms"), ("rspn.load_ms", "ms"), ("rspn.model_nodes", "count"),
    ("rspn.update_us_per_row", "us"), ("rspn.compile_ms", "ms"),
    ("exact.build_ms", "ms"),
    ("exec.ms", "ms"), ("exec.driver_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_wait_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.input_bytes", "bytes"), ("exec.input_rows", "count"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
] + [(f"ext.{op}.ms", "ms") for op in CORPUS_OPS] + [
    ("ext.lsh_candidate_ratio", "ratio"), ("ext.recall", "ratio"),
    ("qerror_p50", "ratio"), ("qerror_p95", "ratio"), ("model_bytes", "bytes"),
    ("train_s", "s"), ("failed_frac", "ratio"),
] + [(f"traced.{n}", u) for n, u in END_TO_END]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest order statistic with at least ten samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending that is
    the (n-10)-th smallest, at percentile 100*(n-10)/n. Below 11 samples no
    such percentile exists and the smallest sample is returned at
    percentile 0, so a short run can never read better than its fastest op.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return s[0], 0.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def quantile(xs, q):
    s = sorted(x for x in xs if x is not None)
    if not s:
        return 0.0
    return s[min(len(s) - 1, int(math.ceil(q * len(s))) - 1)]


def rounds(out, ops):
    """The ops of each whole round of the timed phase."""
    n = out["round"]
    return [ops[i * n:(i + 1) * n] for i in range(len(out["round_end_ms"]))]


def round_rates(out, ops):
    """Correct ops per second of each whole round of the timed phase, from
    the round end times the harness records."""
    ends = [0.0] + out["round_end_ms"]
    return [sum(1 for o in r if o["ok"]) / ((ends[i + 1] - ends[i]) / 1000.0)
            for i, r in enumerate(rounds(out, ops))]


def round_tail(out, ops):
    """The tail of each round (see `tail`), the median over the rounds.
    Every aqp_fold round holds each query class once; over a whole run the
    eleventh slowest query fell where a few slow classes give way to many
    faster ones, and which side it fell on changed from run to run."""
    return median([tail([o["ms"] for o in r])[0] for r in rounds(out, ops)])


def end_to_end(out, ops):
    """The bounded metrics of one run. `ops` carry the checker's ok flags.
    ops_per_s and the tail are medians over the run's rounds, so one round
    slowed by a collection or a compile burst does not move them."""
    attempted = len(ops)
    lat = [o["ms"] for o in ops]
    return {
        "setup_s": out["setup_s"],
        "ops_per_s": median(round_rates(out, ops)),
        "latency_p50_ms": median(lat),
        "latency_tail_ms": round_tail(out, ops),
        "cpu_ms_per_op": out["cpu_ms"] / max(attempted, 1),
        "heap_retained_mb": out["heap_retained_mb"],
    }


def accuracy(out, ops, recall):
    """Accuracy and model-footprint figures; 0 where they do not apply."""
    qs = [o["qerror"] for o in ops if "qerror" in o]
    return {
        "qerror_p50": min(quantile(qs, 0.5), 1e9),
        "qerror_p95": min(quantile(qs, 0.95), 1e9),
        "model_bytes": out["layers"].get("model_bytes", 0.0),
        "train_s": out["setup"].get("train_ms", 0.0) / 1000.0,
        "failed_frac": sum(1 for o in ops if not o["ok"]) / max(len(ops), 1),
        "ext.recall": statistics.mean(recall.values()) if recall else 0.0,
    }


def per_layer(workload, out, ops, e2e, acc, extra):
    L = out["layers"]
    setup = out["setup"]

    def med(field, which=ops):
        return median([o[field] for o in which if field in o])

    def mean(field):
        return statistics.mean([o.get(field, 0.0) for o in ops]) if ops else 0.0

    df_ops = [o for o in ops if "exec_ms" in o]
    m = {
        "session.start_ms": setup.get("session_ms", 0.0),
        "schema.warm_ms": setup.get("warm_ms", 0.0),
        "schema.cached_mb": L.get("schema.cached_mb", 0.0),
        "plans.analysis_ms": med("analysis_ms"),
        "plans.optimization_ms": med("optimization_ms"),
        "plans.planning_ms": med("planning_ms"),
        "plans.fold_ratio": sum(1 for o in ops if o.get("folded")) / max(len(ops), 1),
        "rspn.expect_evals": mean("expect_evals") if workload == "aqp_fold" else 0.0,
        "exact.build_ms": med("build_ms") if workload == "olap_exact" else 0.0,
        "exec.ms": med("exec_ms", df_ops),
        "exec.driver_ms": med("exec_driver_ms", df_ops),
    }
    m["rspn.train_ms"] = setup.get("train_ms", 0.0)
    for k in ["state_ms", "estimate_ms", "train_driver_ms", "train_jobs", "save_ms",
              "load_ms", "model_nodes", "update_us_per_row", "compile_ms"]:
        m[f"rspn.{k}"] = L.get(f"rspn.{k}", 0.0)
    for k in ["jobs", "stages", "tasks", "task_wait_ms", "task_cpu_ms", "gc_ms", "input_bytes",
              "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        m[f"exec.{k}"] = statistics.mean([o.get(k, 0.0) for o in df_ops]) if df_ops else 0.0
    for op in CORPUS_OPS:
        m[f"ext.{op}.ms"] = median([o["ms"] for o in ops if o["name"] == op]) \
            if workload == "corpus_dedup" else 0.0
    m["ext.lsh_candidate_ratio"] = extra.get("lsh_candidate_ratio", 0.0)
    m.update(acc)
    for n, _ in END_TO_END:
        m[f"traced.{n}"] = e2e[n]
    return m


def validate(benchmark):
    """Structural checks of BENCHMARK.json against the metric lists here."""
    errors = []
    names = set()
    for group in ("workloads", "end_to_end", "per_layer"):
        for entry in benchmark[group]:
            n = entry["name"]
            if not NAME_RE.match(n):
                errors.append(f"bad name {n!r}")
            if n in names:
                errors.append(f"name used twice: {n}")
            names.add(n)
            if "unit" in entry and not UNIT_RE.match(entry["unit"]):
                errors.append(f"bad unit {entry['unit']!r} of {n}")
    if [(e["name"], e["unit"]) for e in benchmark["end_to_end"]] != END_TO_END:
        errors.append("end_to_end differs from metrics.END_TO_END")
    if [(e["name"], e["unit"]) for e in benchmark["per_layer"]] != PER_LAYER:
        errors.append("per_layer differs from metrics.PER_LAYER")
    return errors
