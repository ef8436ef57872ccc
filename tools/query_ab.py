#!/usr/bin/env python3
"""Paired, interleaved, cold-JVM A/B of single queries across two trees.

Usage:

    python3 tools/query_ab.py --base <parent tree> --change <change tree> \\
        --queries q311,q317_graph_ann_append,... [--pairs 10] [--sf <dir>] \\
        [--cpus N] [--out ab.json]

Each tree must be compiled (`sbt compile`): a run starts graft.Bench in a
fresh JVM on that tree's target/scala-2.13/classes (through
tools/run_main.sh and GRAFT_CLASSES) with SPARK_GRAFT_ONLY set to the
chosen queries, so every run times exactly those queries after Bench's
own warm-up. A query is named in full or by its qNNN prefix, resolved
against the change tree's SparkEntry.scala. Pair i runs both sides, base
first on even pairs and change first on odd ones. --sf defaults to
Bench's own default (sf0.1); --cpus to this host's core count.

Per query it reports each side's median and quartiles of the seconds,
the ratio of the medians (change / base), the base's spread (IQR /
median, null when the median is 0), the pairs the change side won (ties
count for neither) and the verdict of perfbench/ab.py, whose rule this
tool imports rather than restates, with a bound of 0.10 (lower seconds
are better):

  gain        change wins >= 9/10 of the pairs and the median gap exceeds
              the base's interquartile range;
  regression  change median > 1.10 x base median, spread within 0.10;
  unresolved  fewer than 10 pairs; or the base spread is wider than 0.10,
              unless every change run beats every base run;
  no change   otherwise.

A run in which a query failed (Bench records -1, kept as null under
"runs") drops that query's pair. The JSON written to --out is strict (no
NaN or Infinity).
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "perfbench"))
sys.dont_write_bytecode = True  # leave perfbench/ as checked out
import ab  # noqa: E402  (perfbench/ab.py: the quartile and verdict rule)

BOUND = 0.10  # a query may slow by at most 10% (and spread no wider)


def resolve(tree, names):
    """Full query names for `names` (full names or qNNN prefixes)."""
    src = os.path.join(tree, "src", "main", "scala", "graft", "SparkEntry.scala")
    with open(src, encoding="utf-8") as fh:
        known = sorted(set(re.findall(r'"(q[0-9]+_[A-Za-z0-9_]+)" ->', fh.read())))
    out = []
    for n in names:
        hits = [k for k in known if k == n or k.startswith(n + "_")]
        if len(hits) != 1:
            sys.exit(f"query {n!r} matches {hits or 'nothing'} in {src}")
        out.append(hits[0])
    return out


def run(tree, queries, sf, cpus):
    """One cold Bench JVM on `tree`; returns {query: seconds or None}."""
    env = dict(os.environ,
               GRAFT_CLASSES=os.path.join(tree, "target", "scala-2.13", "classes"),
               SPARK_GRAFT_ONLY=",".join(queries),
               SPARK_GRAFT_CPUS=str(cpus))
    if sf:
        env["SPARK_GRAFT_SF_DIR"] = sf
    cwd = tempfile.mkdtemp(prefix="query-ab-")  # Bench writes target/bench.json here
    try:
        p = subprocess.run([os.path.join(HERE, "run_main.sh"), "graft.Bench"],
                           cwd=cwd, env=env, capture_output=True, text=True)
    finally:
        shutil.rmtree(cwd, ignore_errors=True)
    line = next((l for l in p.stdout.splitlines() if l.startswith('{"metric"')), None)
    if line is None:
        sys.exit(f"no Bench line from {tree} (exit {p.returncode}):\n{p.stderr[-2000:]}")
    secs = json.loads(line)["queries"]
    return {q: (secs[q] if secs.get(q, -1.0) >= 0 else None) for q in queries}


def summarize(name, base, change):
    """ab.py's verdict on one query's paired seconds, as strict JSON."""
    spec = {"end_to_end": [{"name": name, "better": "lower", "bound": BOUND}]}
    v = ab.verdict(name, base, change, spec, len(base))
    (q1_b, med_b, q3_b), (q1_c, med_c, q3_c) = v["base"], v["head"]
    return {"pairs": len(base),
            "base_median": med_b, "base_q1": q1_b, "base_q3": q3_b,
            "change_median": med_c, "change_q1": q1_c, "change_q3": q3_c,
            "ratio": med_c / med_b if med_b > 0 else None,
            "base_spread": None if math.isinf(v["base_spread"]) else v["base_spread"],
            "change_wins": sum(c < b for b, c in zip(base, change)),
            "verdict": v["verdict"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--pairs", type=int, default=ab.MIN_PAIRS)
    ap.add_argument("--sf")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--out")
    a = ap.parse_args()
    queries = resolve(a.change, [q for q in a.queries.split(",") if q])
    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            tree = a.base if side == "base" else a.change
            runs[side].append(run(tree, queries, a.sf, a.cpus))
            print(f"pair {i + 1}/{a.pairs} {side}: " + " ".join(
                f"{q.split('_')[0]}={runs[side][-1][q]}" for q in queries),
                file=sys.stderr, flush=True)
    result = {"pairs": a.pairs, "bound": BOUND, "cpus": a.cpus,
              "sf": a.sf or "Bench default", "queries": {}}
    totals_b, totals_c = [], []
    for i in range(a.pairs):
        b, c = runs["base"][i], runs["change"][i]
        if all(b[q] is not None and c[q] is not None for q in queries):
            totals_b.append(sum(b.values()))
            totals_c.append(sum(c.values()))
    for q in queries:
        pairs = [(b[q], c[q]) for b, c in zip(runs["base"], runs["change"])
                 if b[q] is not None and c[q] is not None]
        failed = a.pairs - len(pairs)
        result["queries"][q] = (summarize(q, [p[0] for p in pairs],
                                          [p[1] for p in pairs])
                                if pairs else {"pairs": 0, "verdict": "unresolved"})
        result["queries"][q]["failed_pairs"] = failed
    if totals_b:
        result["total"] = summarize("total", totals_b, totals_c)
    result["runs"] = runs  # every run's seconds, in pair order
    text = json.dumps(result, indent=2, allow_nan=False)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    print("\n| query | base median [q1, q3] s | change median [q1, q3] s "
          "| ratio | base spread | change wins | verdict |")
    print("|---|---|---|---|---|---|---|")
    rows = list(result["queries"].items()) + (
        [("total", result["total"])] if "total" in result else [])
    for q, r in rows:
        if r["pairs"] == 0:
            print(f"| {q} | – | – | – | – | – | {r['verdict']} |")
            continue
        spread = "n/a" if r["base_spread"] is None else f"{r['base_spread']:.2f}"
        ratio = "n/a" if r["ratio"] is None else f"{r['ratio']:.2f}"
        print(f"| {q} | {r['base_median']:.2f} [{r['base_q1']:.2f}, {r['base_q3']:.2f}] "
              f"| {r['change_median']:.2f} [{r['change_q1']:.2f}, {r['change_q3']:.2f}] "
              f"| {ratio} | {spread} | {r['change_wins']}/{r['pairs']} | {r['verdict']} |")


if __name__ == "__main__":
    main()
