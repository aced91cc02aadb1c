#!/usr/bin/env python3
"""Paired A/B of two commits on the benchmark, run-for-run alternating.

    python3 tools/perf_ab.py --parent <ref> --change <ref> \\
        --workload <name|all|a,b> [--seeds 11-20] [--seconds 12] \\
        [--json out.json]

Run from the repository root. It exports both refs with `git archive` into
a temporary directory outside the checkout (deleted at the end), then for
each seed runs the unchanged `perfbench/run.py --trace 0` once on each
side. The side that goes first alternates from pair to pair, so a slow
host stretch lands on both sides alike. Each copy compiles its own build
on its first run. For every workload and end-to-end metric of
`BENCHMARK.json` it prints both sides' median and quartiles, how many pairs
the change won, and whether the change's median stays within the metric's
bound: (change - parent) / parent, signed so that worse is positive, must
not exceed `bound`. A metric also gets "gain" when the change won at least
9 of 10 pairs and the medians differ by more than the parent's
interquartile range. Wrong outputs and failed operations are counted per
side. Each pair is also printed on its own line with every run's host CPU
steal (from perfbench's stderr report), so a pair taken during a host
stall shows as one. Nothing in the checkout is written: the tool only reads
`BENCHMARK.json` and runs `perfbench/` inside the exported copies.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile


def seeds_of(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def export(ref: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", ref], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(copy: str, workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=copy, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    steal = re.findall(r"host CPU steal during the run ([0-9.]+)%", p.stderr)
    if not lines:
        sys.stderr.write(p.stderr[-2000:])
        out = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    else:
        out = json.loads(lines[-1])
    out["steal_pct"] = float(steal[-1]) if steal else None
    return out


def steal_str(r: dict) -> str:
    return "n/a" if r["steal_pct"] is None else f"{r['steal_pct']:.1f}%"


def quartiles(xs: list) -> tuple:
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return statistics.median(xs), q1, q3


def summarize(metrics: list, pairs: list) -> dict:
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                for p, c in pairs
                if name in p["metrics"] and name in c["metrics"]]
        if not both:
            continue
        par, chg = [b[0] for b in both], [b[1] for b in both]
        pm, pq1, pq3 = quartiles(par)
        cm, cq1, cq3 = quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
        out[name] = {
            "unit": m["unit"], "better": m["better"], "bound": m["bound"],
            "parent": {"median": pm, "q1": pq1, "q3": pq3, "values": par},
            "change": {"median": cm, "q1": cq1, "q3": cq3, "values": chg},
            "pairs": len(both), "change_wins": wins, "worse_by": worse,
            "within_bound": worse <= m["bound"],
            "gain": wins * 10 >= 9 * len(both) and abs(cm - pm) > pq3 - pq1,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--json", default=None)
    a = ap.parse_args()
    tmp = tempfile.mkdtemp(prefix="perf_ab_")
    report = {"parent": a.parent, "change": a.change, "workloads": {}}
    try:
        sides = {s: os.path.join(tmp, s) for s in ("parent", "change")}
        export(a.parent, sides["parent"])
        export(a.change, sides["change"])
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        seconds = a.seconds or bench["run_seconds"]
        names = [w["name"] for w in bench["workloads"]] \
            if a.workload == "all" else a.workload.split(",")
        for w in names:
            pairs, tally = [], {s: [0, 0, 0] for s in sides}
            seeds = seeds_of(a.seeds)
            for k, seed in enumerate(seeds):
                order = ("parent", "change") if k % 2 == 0 \
                    else ("change", "parent")
                res = {}
                for side in order:
                    r = run_once(sides[side], w, seed, seconds)
                    res[side] = r
                    t = tally[side]
                    t[0] += not r["correct"]
                    t[1] += r["failed"]
                    t[2] += r["attempted"]
                    print(f"[perf_ab] {w} seed={seed} {side}: correct="
                          f"{r['correct']} steal={steal_str(r)} " + " ".join(
                              f"{m}={v['value']:.4g}"
                              for m, v in r["metrics"].items()),
                          file=sys.stderr, flush=True)
                pairs.append((res["parent"], res["change"]))
            rows = summarize(bench["end_to_end"], pairs)
            report["workloads"][w] = {
                "metrics": rows,
                "pairs": [{"seed": sd, "parent": p, "change": c}
                          for sd, (p, c) in zip(seeds, pairs)],
                "wrong_runs": {s: t[0] for s, t in tally.items()},
                "failed_ops": {s: f"{t[1]}/{t[2]}" for s, t in tally.items()}}
            print(f"== {w}  ({len(pairs)} pairs, {seconds:g} s; wrong runs "
                  f"parent {tally['parent'][0]} change {tally['change'][0]}; "
                  f"failed ops parent {tally['parent'][1]}/"
                  f"{tally['parent'][2]} change {tally['change'][1]}/"
                  f"{tally['change'][2]})")
            for name, r in rows.items():
                p, c = r["parent"], r["change"]
                print(f"  {name:18s} {r['unit']:4s} parent {p['median']:.4g} "
                      f"[{p['q1']:.4g}, {p['q3']:.4g}]  change "
                      f"{c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]  "
                      f"wins {r['change_wins']}/{r['pairs']}  worse_by "
                      f"{r['worse_by']:+.3f} (bound {r['bound']}: "
                      f"{'ok' if r['within_bound'] else 'EXCEEDED'})"
                      f"{'  gain' if r['gain'] else ''}")
            for sd, (p, c) in zip(seeds, pairs):
                print(f"  pair seed={sd}: " + "  ".join(
                    f"{name} {p['metrics'][name]['value']:.4g} -> "
                    f"{c['metrics'][name]['value']:.4g}"
                    for name in rows
                    if name in p["metrics"] and name in c["metrics"]) +
                    f"  steal parent {steal_str(p)} change {steal_str(c)}")
            sys.stdout.flush()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    bad = any(n for w in report["workloads"].values()
              for n in w["wrong_runs"].values())
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
