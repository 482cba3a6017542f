#!/usr/bin/env python3
"""Self-test of the benchmark on the sf0.001 data set.

Usage (from the repository root): python3 perfbench/selftest.py

Runs every workload untraced and traced, then the board with two injected
failing operations, and checks that
  - the result line parses and has exactly the keys of the contract;
  - every metric of BENCHMARK.json prints by name with its unit;
  - every child span nests inside its parent;
  - the injected failures are counted in `failed`, not dropped.
Exits 0 when all checks pass.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
problems = []


def expect(ok, what):
    print("%s %s" % ("ok  " if ok else "FAIL", what), flush=True)
    if not ok:
        problems.append(what)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--data", "sf0.001"]
    r = subprocess.run(cmd + list(extra), cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    tag = "%s trace=%d %s" % (workload, trace, " ".join(extra))
    expect(r.returncode == 0 and lines, "%s exits 0 with output" % tag)
    if r.returncode != 0 or not lines:
        print(r.stderr[-3000:])
        return None, []
    try:
        result = json.loads(lines[-1])
    except ValueError:
        expect(False, "%s last line parses as JSON" % tag)
        return None, lines
    expect(set(result) == {"correct", "attempted", "failed", "metrics"},
           "%s result has exactly the contract's keys" % tag)
    expect(isinstance(result["attempted"], int) and result["attempted"] >= 1 and
           isinstance(result["failed"], int), "%s attempted/failed are counts" % tag)
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    expect(set(result["metrics"]) == {m["name"] for m in wanted},
           "%s reports exactly the %s metrics" % (tag, "per_layer" if trace else "end_to_end"))
    for m in wanted:
        got = result["metrics"].get(m["name"], {})
        printed = any(l.startswith("metric %s " % m["name"]) and l.endswith(" " + m["unit"])
                      for l in lines)
        expect(got.get("unit") == m["unit"] and isinstance(got.get("value"), (int, float))
               and printed, "%s prints %s with unit %s" % (tag, m["name"], m["unit"]))
    return result, lines


def spans_nest():
    spans = json.load(open(os.path.join(ROOT, ".perfbench", "run", "spans.json")))
    by_id = {s["id"]: s for s in spans}
    children = [s for s in spans if s["parent"] >= 0]
    bad = [s for s in children if s["parent"] not in by_id
           or s["start_us"] < by_id[s["parent"]]["start_us"]
           or s["end_us"] > by_id[s["parent"]]["end_us"]
           or s["op"] != by_id[s["parent"]]["op"]]
    return len(children) > 0 and not bad, len(children), bad[:3]


def main():
    for w in SPEC["workloads"]:
        result, _ = run(w["name"], 0)
        if result:
            expect(result["correct"] and result["failed"] == 0,
                   "%s untraced: all outputs correct" % w["name"])
        result, _ = run(w["name"], 1)
        if result:
            expect(result["correct"], "%s traced: all outputs correct" % w["name"])
            ok, n, bad = spans_nest()
            expect(ok, "%s traced: %d child spans nest in their parents %s"
                   % (w["name"], n, bad or ""))
    clean, _ = run("board_sf0.1", 0)
    injected, _ = run("board_sf0.1", 0, "--inject-failure")
    if clean and injected:
        # two injected operations per timed pass, each counted as failed
        added = injected["attempted"] - clean["attempted"]
        expect(added > 0 and added % 2 == 0 and injected["failed"] == added and
               not injected["correct"],
               "injected failures are counted: failed=%d attempted=%d (clean %d)"
               % (injected["failed"], injected["attempted"], clean["attempted"]))
    print("== %s ==" % ("all checks pass" if not problems else "%d failed" % len(problems)))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
