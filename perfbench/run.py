"""The repository benchmark: one closed-loop client over one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from source
(perfbench/build.py), generates the dataset (perfbench/gen_data.py) and the
workload's seeded inputs (perfbench/inputs.py), runs the harness JVM, checks
every answer (perfbench/checks.py) and prints, as its last line, one JSON
object: the end-to-end metrics, or with --trace 1 the per-layer metrics.
Everything it writes goes under .bench_build/ in the current directory.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_data  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["aqp_fold", "olap_exact", "corpus_dedup"]
# (scale, tables, data seed) of each workload's dataset; the tables' schemas
# and value ranges match the program's fixtures. aqp_fold's data is fixed
# (its seed chooses the queries) and holds the star schema alone, so set-up
# trains only the models of the star schema; the other two generate their
# data from the run's seed and run a fixed op order (see inputs.py).
DATASETS = {
    "aqp_fold": (0.1, inputs.STAR_TABLES, 42),
    "olap_exact": (0.1, inputs.STAR_TABLES, None),
    "corpus_dedup": (0.02, ["documents", "embeddings"], None),
}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170
# Collector of each workload's JVM. aqp_fold is one client thread, which
# G1's concurrent cycles (most started by humongous allocations) disturb:
# its median latency spread by 0.15 to 0.18 over sets of five to ten seeds
# under G1, and by 0.07 to 0.11 over three sets of ten under the parallel
# collector (0.18 over a fourth, while the VM's speed drifted). olap_exact
# runs four-task Spark jobs, which took 13% longer under the parallel
# collector than under G1.
GC = {"aqp_fold": "-XX:+UseParallelGC", "olap_exact": "-XX:+UseG1GC", "corpus_dedup": "-XX:+UseG1GC"}


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """The tier-1 test recipe's heap (half the RAM, 2 to 8 GB), capped at 4 GB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return max(2, min(4, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def fingerprint(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()[:16]


def dataset(d, scale, seed, tables):
    """Generates dataset directory `d` unless present; returns its
    fingerprint. Written aside and renamed, so an interrupted run never
    leaves half a directory behind."""
    fp_file = d + ".fingerprint"
    if not os.path.isfile(fp_file):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, scale, seed, tables)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        with open(fp_file, "w") as f:
            f.write(fingerprint(d))
    return open(fp_file).read().strip()


def cache_threshold(data_dir):
    """Bytes between the largest dimension and the smallest fact table, so
    the facts stream from parquet and the dimensions stay cached."""
    def size(t):
        return os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
    dims = max(size(t) for t in inputs.DIM_TABLES)
    facts = min(size(t) for t in inputs.FACT_TABLES)
    return (dims + facts) // 2


def run_jvm(jar, jars, runs, env_extra, log_path, cds_flag, gc="-XX:+UseG1GC"):
    """One harness JVM over `runs`, a list of (input path, output path)."""
    # no perf-data file and a temp dir in the run's directory: the run
    # writes nothing outside the current directory
    cmd = ["java", cds_flag, gc, "-XX:-UsePerfData", f"-Xmx{heap_gb()}g", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.dirname(log_path)}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}{os.pathsep}{os.path.join(jars, '*')}", "graft.perfbench.Main"]
    cmd += [p for run in runs for p in run]
    env = dict(os.environ, **env_extra)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    if rc != 0 or not all(os.path.isfile(out) for _, out in runs):
        tail = open(log_path).read()[-3000:]
        raise RuntimeError(f"harness JVM failed (exit {rc}); log tail:\n{tail}")


def prepare(bench, workload, seed, seconds, trace, work, scale=None):
    """Dataset and seeded input of one run in directory `work`, at the
    workload's scale unless `scale` is given. Returns (input path, data dir,
    dataset fingerprint, scale, extra environment)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    own_scale, tables, data_seed = DATASETS[workload]
    scale = scale or own_scale
    if data_seed is None:
        data_seed, data_dir = seed, os.path.join(work, "data")
    else:
        data_dir = os.path.join(bench, "data", "-".join([f"sf{scale}", f"seed{data_seed}"] + tables))
    fp = dataset(data_dir, scale, data_seed, tables)
    inp = inputs.make(workload, seed, seconds)
    inp.update({"workload": workload, "data_dir": data_dir, "work_dir": work,
                "seed": seed, "seconds": seconds, "trace": bool(trace), "cores": cores()})
    inp_path = os.path.join(work, "input.json")
    with open(inp_path, "w") as f:
        json.dump(inp, f)
    env = {}
    if workload == "olap_exact":
        env["SPARK_GRAFT_CACHE_MAX_BYTES"] = str(cache_threshold(data_dir))
    return inp_path, data_dir, fp, scale, env


def make_archive(bench, jar, jars):
    """After each build, one untimed JVM runs every workload once and writes
    the class-data-sharing archive of the classes they loaded at exit: seed
    0 on sf0.01 data (the classes a run loads do not depend on the data
    size), one warm-up item and each distinct op or query class once.
    Every measured run maps this archive, so no measured run pays the
    unarchived start-up and the order of runs does not matter."""
    if os.path.isfile(build.CDS_ARCHIVE):
        return
    work = os.path.join(bench, "runs", "archive")
    shutil.rmtree(work, ignore_errors=True)
    runs, env = [], {}
    for w in WORKLOADS:
        inp_path, _, _, _, e = prepare(bench, w, 0, 1, 0, os.path.join(work, w), scale=0.01)
        with open(inp_path) as f:
            inp = json.load(f)
        once = inp["stream"][:len(inputs.templates())] if w == "aqp_fold" else sorted(set(inp["stream"]))
        inp.update(warmup=inp["warmup"][:1], stream=once, unit=len(once), round=len(once))
        with open(inp_path, "w") as f:
            json.dump(inp, f)
        runs.append((inp_path, os.path.join(work, w, "output.json")))
        env.update(e)
    tmp = build.CDS_ARCHIVE + ".tmp"
    run_jvm(jar, jars, runs, env, os.path.join(work, "harness.log"), f"-XX:ArchiveClassesAtExit={tmp}")
    if not os.path.isfile(tmp):
        raise RuntimeError(f"no class-data-sharing archive written; log: {work}/harness.log")
    os.replace(tmp, build.CDS_ARCHIVE)
    shutil.rmtree(work)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    bench = os.path.join(os.getcwd(), ".bench_build")
    try:
        jar, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    try:
        make_archive(bench, jar, jars)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    work = os.path.join(bench, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    inp_path, data_dir, fp, scale, env = prepare(bench, a.workload, a.seed, a.seconds, a.trace, work)
    out_path = os.path.join(work, "output.json")
    data_bytes = sum(os.path.getsize(os.path.join(data_dir, f)) for f in os.listdir(data_dir))
    try:
        run_jvm(jar, jars, [(inp_path, out_path)], env, os.path.join(work, "harness.log"),
                f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}", GC[a.workload])
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    out = json.load(open(out_path))
    ops = out["ops"]

    truth_dir = os.path.join(bench, "truth")
    os.makedirs(truth_dir, exist_ok=True)
    recall, extra = {}, {}
    if a.workload == "aqp_fold":
        truth = checks.Truth(data_dir, os.path.join(truth_dir, f"aqp_fold-{fp}-seed{a.seed}.json"))
        checks.check_aqp(ops, truth)
    else:
        truth = checks.Truth(data_dir, os.path.join(truth_dir, f"oracle-{fp}.json"))
        recall, extra = checks.check_named(ops, os.path.join(work, "answers"), truth)
    truth.save()

    e2e = metrics.end_to_end(out, ops)
    acc = metrics.accuracy(out, ops, recall)
    failed = [o for o in ops if not o["ok"]]
    _, pct, n = metrics.tail([o["ms"] for o in metrics.rounds(out, ops)[0]])
    n_rounds = len(out["round_end_ms"])
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: closed loop, 1 client, "
          f"{len(ops)} ops in {out['timed_s']:.2f} s, {len(failed)} failed; local[{cores()}], "
          f"heap {heap_gb()} GB; dataset {fp}: sf{scale}, {data_bytes} parquet bytes"
          + (f", cache threshold {env['SPARK_GRAFT_CACHE_MAX_BYTES']} bytes" if env else ""))
    print(f"  latency_tail_ms = {metrics.round_tail(out, ops):.3f} (p{pct:.1f} of {n} samples, "
          f"median of {n_rounds} rounds)")
    for k, v in acc.items():
        print(f"  {k} = {v:.6g}")
    if failed:
        names = sorted({o["sql"] if o["name"] == "query" else o["name"] for o in failed})
        print(f"  failed ops ({len(failed)}): " + "; ".join(names[:20]))
        print(f"  first failure: {failed[0].get('why')}")
    with open(os.path.join(work, "checked.json"), "w") as f:
        json.dump(ops, f)
    if data_dir.startswith(work):
        shutil.rmtree(data_dir)  # per-seed data: regenerated if the seed runs again

    if a.trace:
        values = metrics.per_layer(a.workload, out, ops, e2e, acc, extra)
        units = dict(metrics.PER_LAYER)
    else:
        values, units = e2e, dict(metrics.END_TO_END)
    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
