#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for the benchmark.

    python3 perfbench/report.py [--runs 10] [--sets 2] [--traced 3] \\
        [--seconds 8] [--workloads taxi_olap,snapshot_dml,dataprep_ops] \\
        [--json out.json]

Run from the repository root, on one commit. For every workload it makes
`--sets` sets of `--runs` untraced runs (seed i of run i, the same seeds
in every set) and `--traced` traced runs, then prints

  * per set: each end-to-end metric's median, first and third quartile
    (`statistics.quantiles(values, n=4)`) and spread = (q3 - q1) / median;
  * between sets: (median of set k - median of set 1) / median of set 1;
  * tracing overhead: (median traced - median untraced) / median untraced,
    and the medians of the per-layer metrics of the traced runs.

`--json` also writes all of it, plus each workload's named metrics
(load_s, commit_p50_ms, ...), as one JSON file. No build settings are
needed beyond what run.py uses: it compiles against the Spark jars itself.
"""
import argparse
import json
import statistics
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ in the checkout

import run


def quartiles(xs: list) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"), "n": len(xs)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--seconds", type=float,
                    default=json.load(open("BENCHMARK.json"))["run_seconds"])
    ap.add_argument("--workloads", default=",".join(sorted(run.WORKLOADS)))
    ap.add_argument("--json", default=None)
    a = ap.parse_args()
    run.build()
    report = {"seconds": a.seconds, "runs": a.runs, "workloads": {}}
    failures = 0
    for w in a.workloads.split(","):
        sets, named, traced = [], [], []
        for s in range(a.sets):
            rows = []
            for i in range(a.runs):
                r = run.run_workload(w, i + 1, a.seconds, 0,
                                     deadline=time.time() + 165)
                failures += r["failed"]
                rows.append(r["e2e"])
                named.append({k: v[0] for k, v in r["named"].items()})
            sets.append(rows)
        for i in range(a.traced):
            r = run.run_workload(w, i + 1, a.seconds, 1,
                                 deadline=time.time() + 165)
            failures += r["failed"]
            traced.append(r)
        out = {"sets": [], "drift": {}, "overhead": {}, "layers": {},
               "named": {}}
        for rows in sets:
            out["sets"].append({m: quartiles([x[m] for x in rows])
                                for m, _ in run.END_TO_END})
        for m, _ in run.END_TO_END:
            base = out["sets"][0][m]["median"]
            out["drift"][m] = [(st[m]["median"] - base) / base
                               for st in out["sets"][1:]]
            if traced:
                tm = statistics.median(t["e2e"][m] for t in traced)
                out["overhead"][m] = (tm - base) / base
        for k in sorted({k for n in named for k in n}):
            out["named"][k] = quartiles([n[k] for n in named if k in n]) \
                if sum(k in n for n in named) >= 2 else None
        for m, _ in run.PER_LAYER:
            vals = [t["layers"].get(m, 0.0) for t in traced]
            if vals and any(vals):
                out["layers"][m] = statistics.median(vals)
        report["workloads"][w] = out
        print(f"== {w}")
        for m, unit in run.END_TO_END:
            cells = "  ".join(
                f"set{k + 1} {st[m]['median']:.4g} "
                f"[{st[m]['q1']:.4g}, {st[m]['q3']:.4g}] "
                f"spread {st[m]['spread']:.3f}"
                for k, st in enumerate(out["sets"]))
            drift = " ".join(f"{d:+.3f}" for d in out["drift"][m])
            ov = out["overhead"].get(m)
            print(f"  {m:18s} {unit:4s} {cells}  drift {drift or '-'}  "
                  f"trace overhead {ov:+.3f}" if ov is not None else
                  f"  {m:18s} {unit:4s} {cells}  drift {drift or '-'}")
        sys.stdout.flush()
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    print(f"wrong outputs: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
