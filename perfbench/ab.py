#!/usr/bin/env python3
"""Paired, interleaved, cold-JVM A/B of two checkouts on the benchmark.

Usage:

    python3 perfbench/ab.py --base <parent checkout> --head <change checkout> \
        [--workload <name> ...] [--pairs 10] [--out ab.json]

Without --workload it compares the workloads BENCHMARK.json lists;
corpus_curation can be named explicitly.

Both checkouts must carry the same benchmark code (perfbench/); each
builds its own engine on its first run. Every run measures for the
run_seconds BENCHMARK.json gives. Pair i runs both sides with seed
i + 1, base first on even pairs and head first on odd ones, one fresh JVM
per run. For every end-to-end metric x workload it reports each side's
median and quartiles, the share of pairs the head wins (ties count for
neither), and a verdict:

  gain        head wins >= 9/10 of the pairs and the median gap exceeds
              the base's interquartile spread;
  regression  head's median is worse than the base's by more than the
              metric's bound (BENCHMARK.json), and the spread is within it;
  unresolved  fewer than 10 pairs ran; or the base's spread (IQR / median)
              is wider than the bound, unless every head run beats every
              base run;
  no change   otherwise, or every run of both sides reads the same.

Every run must report correct output; a failed run is listed and its
pair is dropped from the comparison.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

WORKLOADS = ("opinion_star_load", "corpus_curation", "table_cdc_mixed")
MIN_PAIRS = 10


def bench_hash(tree):
    """Hash of the benchmark's own files, build outputs excluded."""
    h = hashlib.sha256()
    base = os.path.join(tree, "perfbench")
    for d, dirs, fs in os.walk(base):
        rel = os.path.relpath(d, base).split(os.sep)
        if {"target", "__pycache__", ".bsp"} & set(rel) or rel[:2] == ["project", "project"]:
            continue
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, tree).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def direction(name, spec):
    """+1 when higher is better, -1 when lower is."""
    for m in spec.get("end_to_end", []):
        if m["name"] == name:
            return 1 if m["better"] == "higher" else -1
    higher = ("rows_per_s", "recall", "precision")
    return 1 if any(h in name for h in higher) else -1


def bound(name, spec):
    for m in spec.get("end_to_end", []):
        if m["name"] == name:
            return m["bound"]
    return max((m["bound"] for m in spec.get("end_to_end", [])), default=0.25)


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(tree, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    detail, result = None, None
    for line in p.stdout.splitlines():
        if line.startswith("PERFBENCH_DETAIL "):
            detail = json.loads(line[len("PERFBENCH_DETAIL "):])
    lines = p.stdout.strip().splitlines()
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = p.returncode == 0 and result is not None and result.get("correct") and detail
    # tail percentiles, sample counts and storage counts ride beside the
    # end-to-end metrics on the detail line; they are context, not metrics
    metrics = {k: v["value"] for k, v in detail["end_to_end"].items()
               if not (k.endswith("_pct") or k.endswith(".samples") or k.startswith("storage."))
               } if ok else None
    return metrics, (detail or {}).get("host_probe_ms")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(name, base, head, spec, pairs):
    sign = direction(name, spec)
    b_q1, b_med, b_q3 = quartiles(base)
    h_q1, h_med, h_q3 = quartiles(head)
    wins = sum(1 for b, h in zip(base, head) if (h - b) * sign > 0)
    spread = (b_q3 - b_q1) / abs(b_med) if b_med else float("inf")
    lim = bound(name, spec)
    worse = (b_med - h_med) * sign / abs(b_med) if b_med else 0.0
    all_better = min(h * sign for h in head) > max(b * sign for b in base)
    if len(set(base) | set(head)) == 1:
        v = "no change"
    elif pairs < MIN_PAIRS:
        v = "unresolved"
    elif wins >= 0.9 * pairs and abs(h_med - b_med) > (b_q3 - b_q1) and (h_med - b_med) * sign > 0:
        v = "gain"
    elif spread > lim and not all_better:
        v = "unresolved"
    elif worse > lim:
        v = "regression"
    else:
        v = "no change"
    return {"base": [b_q1, b_med, b_q3], "head": [h_q1, h_med, h_q3],
            "head_win_share": wins / pairs if pairs else 0.0, "base_spread": spread,
            "bound": lim, "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--out")
    a = ap.parse_args()
    base, head = os.path.abspath(a.base), os.path.abspath(a.head)
    if bench_hash(base) != bench_hash(head):
        sys.exit("ab: the two checkouts carry different benchmark code (perfbench/)")
    with open(os.path.join(head, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    if a.pairs < MIN_PAIRS:
        print(f"ab: {a.pairs} pairs < {MIN_PAIRS}: every verdict is reported as unresolved",
              file=sys.stderr)
    report = {"pairs": a.pairs, "seconds": seconds, "workloads": {}, "failed_runs": []}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        sides = {"base": [], "head": []}
        probes = {"base": [], "head": []}
        for i in range(a.pairs):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {}
            for side in order:
                m, hp = run(base if side == "base" else head, w, i + 1, seconds)
                got[side] = m
                probes[side].append(hp)
                print(f"ab: {w} pair {i + 1} {side}: {'ok' if m else 'FAILED'}", file=sys.stderr)
            if got["base"] is None or got["head"] is None:
                report["failed_runs"].append({"workload": w, "pair": i + 1,
                                              "base_ok": got["base"] is not None,
                                              "head_ok": got["head"] is not None})
                continue
            sides["base"].append(got["base"])
            sides["head"].append(got["head"])
        n = len(sides["base"])
        rows = {}
        names = sorted(set().union(*[set(m) for m in sides["base"] + sides["head"]])) if n else []
        for name in names:
            b = [m[name] for m in sides["base"] if m.get(name) is not None]
            h = [m[name] for m in sides["head"] if m.get(name) is not None]
            if len(b) == n and len(h) == n and n:
                rows[name] = verdict(name, b, h, spec, n)
        report["workloads"][w] = {"pairs_compared": n, "metrics": rows, "host_probe_ms": probes}
        for name, r in rows.items():
            print(f"{w:18s} {name:24s} base {r['base'][1]:.6g} [{r['base'][0]:.6g}, {r['base'][2]:.6g}]"
                  f"  head {r['head'][1]:.6g} [{r['head'][0]:.6g}, {r['head'][2]:.6g}]"
                  f"  wins {r['head_win_share']:.2f}  {r['verdict']}")
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
