#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness with sbt (see
README.md); later runs reuse the build.  Each run prepares its seeded inputs
from the data sets in perfbench/data, starts one JVM that drives the engine
(perfbench/harness), checks every output, and prints the metrics.  The last
stdout line is a JSON object with the keys correct, attempted, failed and
metrics.  Everything the run writes stays under `.perfbench/` in the
repository root.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("board_sf0.1", "cdc_stream")
# the tables the workloads read: copies of the project's sf0.1 and sf0.001
# test data
TABLES = ["lineitem", "events", "embeddings"]
CDC_BATCHES = 3
JVM_OPTS = ["-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def log(msg):
    print(msg, flush=True)


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)
    sys.exit(2)


# ------------------------------------------------------------------ build

def build_inputs():
    """Files whose content decides the build: the program and the harness."""
    paths = [os.path.join(ROOT, "build.sbt")]
    for base in ("src/main", "project", "perfbench/harness"):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = [x for x in dirs if x != "target" and
                       not (x == "project" and os.path.basename(d) == "project")]
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def build():
    """Compiles the program and the harness (sbt, offline) once per source
    state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no program sources next to the benchmark (build.sbt, src/main)")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
            if os.path.isfile(repos) else "")
    env["SBT_OPTS"] += " -XX:-UsePerfData"
    log("perfbench: building program and harness (sbt)")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export harness/Runtime/fullClasspath"],
                           cwd=os.path.join(BENCH, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=800)
        lf.write(r.stdout)
    cps = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cps:
        fail("build failed, see " + os.path.join(out, "sbt.log"))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cps[-1]


def java(classpath, main, args, log_path, timeout, env=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath, main] + args
    with open(log_path, "w") as lf:
        return subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=timeout,
                              env=dict(os.environ, **(env or {}))).returncode


# ------------------------------------------------------------------ inputs

def data_dir(name):
    return os.path.join(BENCH, "data", name)


def table_file(d, t):
    return os.path.join(d, t + ".parquet")


def sha256(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def cdc_batches(events_file, out, seed):
    """Events in (ts, event_id) order, cut into CDC_BATCHES micro-batches of
    nearly equal size; the seed moves each inner boundary by up to 10% of
    a batch."""
    table = pq.read_table(events_file).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n, rng = table.num_rows, random.Random(seed)
    size = n / CDC_BATCHES
    cuts = [0] + [int(size * i + rng.uniform(-0.1, 0.1) * size)
                  for i in range(1, CDC_BATCHES)] + [n]
    os.makedirs(out, exist_ok=True)
    files = []
    for i in range(CDC_BATCHES):
        part = table.slice(cuts[i], cuts[i + 1] - cuts[i])
        f = os.path.join(out, "batch-%04d-%d.parquet" % (i, part.num_rows))
        pq.write_table(part, f)
        files.append(f)
    return files


# ------------------------------------------------------------------ checks

def load_local_verify():
    """The repository's oracle comparison rules (tools/local_verify.py)."""
    spec = importlib.util.spec_from_file_location(
        "local_verify", os.path.join(ROOT, "tools", "local_verify.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canonical(cols, rows, lv):
    """Column names in order, and the rows with their values in that column
    order, normalized as the oracle comparison normalizes them."""
    order = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), [tuple(lv.norm(r[i]) for i in order) for r in rows]


def check_outputs(result, dataset):
    """Compares each batch query's output, written by the check pass, with
    its DuckDB oracle by the rules of tools/local_verify.py. Returns
    {query name: failure or None}."""
    lv = load_local_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet(%r)"
                    % (t, table_file(data_dir(dataset), t)))
    oracle, verdict = result["oracle_sql"], {}
    for o in result["ops"]:
        if o["output"] is None:
            continue
        name, files = o["name"], sorted(glob.glob(os.path.join(o["output"], "*.parquet")))
        if o["error"]:
            verdict[name] = "error: " + o["error"]
            continue
        if name not in oracle:
            verdict[name] = "no oracle SQL"
            continue
        if not files:
            verdict[name] = "no output"
            continue
        rows = con.execute(oracle[name]).fetchall()
        wc, w = canonical([x[0] for x in con.description], rows, lv)
        got = con.execute("SELECT * FROM read_parquet(%r)" % files).fetchall()
        gc, g = canonical([x[0] for x in con.description], got, lv)
        if gc != wc:
            verdict[name] = "columns %s vs oracle %s" % (gc, wc)
        elif len(g) != len(w):
            verdict[name] = "rows %d vs oracle %d" % (len(g), len(w))
        elif g == w:  # on normalized rows, == is local_verify's eq
            verdict[name] = None
        else:
            bad = next(i for i, (a, b) in enumerate(zip(g, w))
                       if not all(lv.eq(x, y) for x, y in zip(a, b)))
            verdict[name] = "row %d differs from oracle" % bad
    return verdict


def check_streams(result, run):
    """After each timed pass of cdc_stream, each stream's final state must
    equal the batch operator over the same rows, which the harness wrote to
    `expected/` (the equalities StreamingSpec asserts): the two multisets of
    rows are equal, EXCEPT ALL both ways. The scd2 state is its history
    plus its current snapshot, whose rows are open (valid_to NULL).
    Returns {"p<pass>/<stream>": failure or None}."""
    con = duckdb.connect()

    def files(d):
        return sorted(glob.glob(os.path.join(d, "*.parquet")))

    def scan(fs, cols):
        return "SELECT %s FROM read_parquet(%r)" % (cols, fs)

    scd2 = "user_id, event_id, valid_from, valid_to, state_value, version"
    changelog = "key, eventId, ts, op, oldValue, newValue"
    verdict = {}
    for p in result["passes"]:
        if p["kind"] in ("warmup", "check"):
            continue
        root = os.path.join(run, "cdc", "p%d" % p["pass"])
        for stream, cols in (("scd2", scd2), ("changelog", changelog)):
            want = files(os.path.join(run, "expected", stream))
            if stream == "scd2":
                cur = files(os.path.join(root, "scd2", "current"))
                hist = files(os.path.join(root, "scd2", "history"))
                got = cur and " UNION ALL ".join(
                    ([scan(hist, scd2)] if hist else []) +
                    [scan(cur, scd2.replace("valid_to", "NULL::BIGINT AS valid_to"))])
            else:
                got = files(os.path.join(root, "changelog", "out"))
                got = got and scan(got, cols)
            name = "p%d/%s" % (p["pass"], stream)
            if not want or not got:
                verdict[name] = "no output" if want else "no expected rows"
                continue
            try:
                missing, extra = con.execute(
                    "WITH got AS (%s), want AS (%s) SELECT"
                    " (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),"
                    " (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
                    % (got, scan(want, cols))).fetchone()
            except duckdb.Error as e:
                verdict[name] = "unreadable output: %s" % str(e).splitlines()[0]
                continue
            verdict[name] = ("%d rows missing, %d extra vs the batch operator"
                             % (missing, extra) if missing or extra else None)
    return verdict


# ------------------------------------------------------------------ metrics

def units():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def quantile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test options
    ap.add_argument("--data", default="sf0.1", choices=("sf0.001", "sf0.1"),
                    help="data set to run on")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add two operations that fail")
    a = ap.parse_args()

    dataset = a.data
    classpath = build()
    t_start = time.time()  # the build is one-off
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)

    log("perfbench: workload=%s seed=%d seconds=%g trace=%d data=%s cores=%d"
        % (a.workload, a.seed, a.seconds, a.trace, dataset, os.cpu_count()))
    for t in TABLES:
        log("input %s/%s sha256=%s" % (dataset, t, sha256([table_file(data_dir(dataset), t)])))
    if a.workload == "cdc_stream":
        for f in cdc_batches(table_file(data_dir(dataset), "events"),
                             os.path.join(run, "batches", "events"), a.seed):
            log("input batches/events/%s sha256=%s" % (os.path.basename(f), sha256([f])))

    out = os.path.join(run, "result.json")
    args = ["--workload", a.workload, "--data", data_dir(dataset),
            "--warmup-data", data_dir("sf0.001"), "--work", run, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.inject_failure:
        args.append("--inject-failure")
    t_jvm = time.time()
    try:
        rc = java(classpath, "perfbench.Main", args + ["--out", out],
                  os.path.join(run, "harness.log"),
                  RUN_LIMIT_S - (t_jvm - t_start))
    except subprocess.TimeoutExpired:
        fail("harness timed out, see .perfbench/run/harness.log")
    if rc != 0 or not os.path.isfile(out):
        fail("harness failed (exit %d), see .perfbench/run/harness.log" % rc)
    result = json.load(open(out))
    log("conf " + " ".join("%s=%s" % kv for kv in result["conf"].items()))

    t_check = time.time()
    if a.workload == "cdc_stream":
        verdict = check_streams(result, run)
    else:
        verdict = check_outputs(result, dataset)
    warm = sum(p["wall_s"] for p in result["passes"] if p["kind"] in ("warmup", "check"))
    log("timing: preparation %.1f s, harness %.1f s (set-up %.1f s, warm-up passes %.1f s),"
        " check %.1f s" % (t_jvm - t_start, t_check - t_jvm, result["setup_s"], warm,
                          time.time() - t_check))
    for p in result["passes"]:
        log("pass p%d %-8s wall %.3f s, JIT compilation %.3f s, %d codegen compilations"
            % (p["pass"], p["kind"], p["wall_s"], p["jit_s"], p["codegens"]))
    for name, why in sorted(verdict.items()):
        log("check %s %s" % (name, "FAIL " + why if why else "ok"))
    # each operation's best latency over the untraced timed passes, as
    # graft.Bench keeps each query's minimum of its passes: a pass slowed
    # by the host does not move it
    best, samples, failed = {}, {}, 0  # name -> latency (all ops; sample ops)
    kind = {p["pass"]: p["kind"] for p in result["passes"]}
    timed = [p for p, k in kind.items() if k not in ("warmup", "check")]
    attempted = 0  # operations of the timed passes; the warm-up is set-up
    for o in result["ops"]:
        if kind[o["pass"]] == "warmup":
            why = o["error"]
        elif a.workload == "cdc_stream":
            stream = "p%d/%s" % (o["pass"], o["name"].split(":")[0])
            # a stream whose final state is wrong fails every batch of it
            why = o["error"] or verdict.get(stream, "output not checked")
        else:
            # a query whose checked output is wrong fails every operation
            why = o["error"] or verdict.get(o["name"], "output not checked")
        if o["sample"] and o["pass"] in timed:
            attempted += 1
            failed += why is not None
        if kind[o["pass"]] == "untraced":
            n, t = o["name"], o["latency_s"]
            best[n] = min(best.get(n, t), t)
            if o["sample"] and why is None:  # a failed operation has no latency
                samples[n] = min(samples.get(n, t), t)
        log("op p%d %-8s %-28s %9.4f s %3d codegen %s"
            % (o["pass"], kind[o["pass"]], o["name"], o["latency_s"], o["codegens"],
               "FAIL " + why if why else "ok"))
    walls = {k: [p["wall_s"] for p in result["passes"] if p["kind"] == k]
             for k in ("untraced", "traced")}
    if not samples:
        fail("no operation succeeded")
    log("samples: %d operations, each its best of %d untraced passes; %d operations"
        " attempted in %d timed passes" % (len(samples), len(walls["untraced"]), attempted,
                                           len(timed)))

    e2e_units, layer_units = units()
    if a.trace:
        metrics = dict(result["layers"])
        # after the warm-up the passes run traced, untraced, traced: the
        # mean traced pass minus the untraced pass between them
        metrics["trace.overhead_s"] = statistics.mean(walls["traced"]) - walls["untraced"][0]
        chosen = layer_units
        log("spans: " + os.path.join(run, "spans.json"))
    else:
        # a pass made of every operation at its best, and the latency
        # percentiles over the operations' best latencies
        metrics = {
            "setup_s": result["setup_s"],
            "wall_s": sum(best.values()),
            "op_p50_s": statistics.median(samples.values()),
            "op_p90_s": quantile(list(samples.values()), 0.9),
            "retained_heap_mb": result["retained_heap_mb"],
        }
        chosen = e2e_units
    missing = set(chosen) - set(metrics)
    if missing:
        fail("metrics missing from the run: %s" % sorted(missing))
    report = {k: {"value": metrics[k], "unit": u} for k, u in chosen.items()}
    for k, m in report.items():
        log("metric %s %r %s" % (k, m["value"], m["unit"]))
    log("failed_frac %d/%d" % (failed, attempted))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": report}))


if __name__ == "__main__":
    main()
