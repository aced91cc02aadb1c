#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop workloads, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the repository root. The first run compiles `src/main/scala` and
the harness in `perfbench/src` against the Spark jars into `.bench_build/`
(reused while the sources are unchanged). Each run then

  1. generates the workload's inputs from the seed (gen.py) under a scratch
     root of its own, `.bench_work/`, which it deletes at the end;
  2. runs the workload in one JVM (`perfbench.Main`) at local[nproc]:
     set-up (repeated, median reported), warm-up, then whole iterations
     for about `--seconds`;
  3. checks every output (oracle.py) and prints one JSON line:
     `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
     metrics are the end-to-end ones, with `--trace 1` the per-layer ones
     (spans and Spark listeners on).

A human-readable report, including the workload's named end-to-end
metrics (load_s, query_p50_ms, commit_p50_ms, ...) and failed_ratio, goes
to stderr. The exit code is 0 only when every output was correct.
`--workload all` runs the three workloads in turn and prints all named
metrics together.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(ROOT, ".bench_work")


def spark_jars() -> str:
    """The Spark jars: $SPARK_HOME/jars, else those beside the first
    `bin/spark-submit` on the PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark installation: set SPARK_HOME")


SPARK_JARS = spark_jars()

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# one lane per family: MinHash dedup (text-normalizing and band-key
# native expressions), PQ search (native argmin), micro-batch streaming
LANES = ["dedup_minhash", "ann_pq", "stream_hourly_stats"]

QUERY_KINDS = {"q1", "q2", "q3", "q4", "sql_q1", "sql_q2", "sql_q3",
               "sql_q4", "range"}

# workload → (input tables, set-up repetitions, primary operation kind)
WORKLOADS = {
    "taxi_olap": ("taxi", 3, lambda k: k in QUERY_KINDS),
    "snapshot_dml": ("snapshot", 3, lambda k: k == "commit_cycle"),
    "dataprep_ops": ("ops", 3, lambda k: k == "pass"),
}
# operations the JVM reports as sums of others, not attempted on their own
DERIVED_OPS = {"pass", "commit_cycle"}

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"),
              ("iterations_per_s", "1/s")]

# per-layer metrics of a traced run: (name, unit). Every traced run
# reports all of them; a layer a workload does not reach reads 0.
PER_LAYER = (
    [("etl.csv_export.ms", "ms"), ("etl.csv_export.shuffle_bytes", "bytes"),
     ("etl.csv_export.csv_bytes", "bytes"), ("etl.mergetree_write.ms", "ms"),
     ("etl.mergetree_write.parse_stage_ms", "ms"),
     ("etl.mergetree_write.sort_write_stage_ms", "ms"),
     ("etl.mergetree_write.shuffle_bytes", "bytes"),
     ("etl.mergetree_write.files", "count"),
     ("etl.table_open.ms", "ms"), ("etl.table_open.jobs", "count"),
     ("sql.parse.ms", "ms"), ("sql.analysis.ms", "ms"),
     ("sql.optimization.ms", "ms"), ("sql.planning.ms", "ms"),
     ("sql.exec.ms", "ms"), ("sql.exec.jobs", "count"),
     ("olap.q1.ms", "ms"), ("olap.q2.ms", "ms"), ("olap.q3.ms", "ms"),
     ("olap.q4.ms", "ms"), ("olap.range.files_read", "count"),
     ("olap.range.bytes_read", "bytes"),
     ("snap.update.ms", "ms"), ("snap.delete.ms", "ms"),
     ("snap.insert.ms", "ms"), ("snap.merge.ms", "ms"),
     ("snap.jobs_per_commit", "count"),
     ("snap.bytes_written_per_commit", "bytes"),
     ("snap.manifest_entries", "count"), ("snap.dv_entries", "count"),
     ("snap.manifest_bytes", "bytes"), ("snap.read.plan_ms", "ms"),
     ("snap.read.exec_ms", "ms"), ("snap.read_amp", "ratio"),
     ("snap.rewrite.ms", "ms"), ("snap.rewrite.bytes", "bytes")]
    + [(f"ops.{lane}.{m}", u) for lane in LANES
       for m, u in (("ms", "ms"), ("jobs", "count"),
                    ("shuffle_bytes", "bytes"), ("driver_gap_ms", "ms"))]
    + [("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.spill_bytes", "bytes"), ("spark.task_skew", "ratio"),
       ("spark.cpu_util", "ratio"), ("spark.driver_gap_ms", "ms")])


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def sources() -> list:
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
CLASSPATH = ":".join([JAR, os.path.join(SPARK_JARS, "*")])
# the JVM's default /tmp/hsperfdata_* file would land outside the checkout
NO_PERF_FILE = "-XX:-UsePerfData"
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def java(work: str, args: list, archive_flag: str) -> list:
    """The command line of a `perfbench.Main` JVM whose temp files stay
    under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:+UseG1GC", NO_PERF_FILE, archive_flag]
            + ADD_OPENS +
            [f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile="
             + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-cp", CLASSPATH, "perfbench.Main"]
            + args)


def build() -> None:
    """Compile the engine and the harness into one jar, then dump a class
    data archive of everything the three workloads load, so each run's
    JVM starts from it. Skipped while the sources are unchanged."""
    main_src = os.path.join(ROOT, "src/main/scala")
    if not os.path.isdir(main_src):
        raise RuntimeError(f"no engine sources at {main_src}: run from the "
                           "repository root")
    srcs = sources()
    h = hashlib.sha256(CLASSPATH.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    t = time.time()
    steps = [
        ["java", NO_PERF_FILE, "-Xss8m", "-Xmx2g",
         "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
         "@" + argfile],
        ["jar", f"-J{NO_PERF_FILE}", "--create", "--file", JAR, "-C", classes, ".",
         "-C", os.path.join(ROOT, "src/main/resources"), "."]]
    for cmd in steps:
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0:
            log(r.stdout[-4000:])
            raise RuntimeError(f"{cmd[0]} failed")
    log(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t:.1f}s")
    t = time.time()
    work = os.path.join(SCRATCH, f"train-{os.getpid()}")
    try:
        args = ["train", work]
        for w, (kind, _, _) in WORKLOADS.items():
            in_dir = os.path.join(work, "in", w)
            gen.make_tables(in_dir, 0, kind)
            plan = os.path.join(work, f"{w}.json")
            with open(plan, "w") as fh:
                json.dump(make_plan(w, 0), fh)
            args += [w, in_dir, plan]
        r = subprocess.run(java(work, args, f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=600, cwd=work)
        if r.returncode != 0 or not os.path.exists(ARCHIVE):
            log(r.stderr[-4000:])
            raise RuntimeError("class archive dump failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"[perfbench] dumped the class archive in {time.time() - t:.1f}s")


# ---- one workload run ------------------------------------------------------

def cpu_ticks() -> tuple:
    """(total, steal) jiffies from /proc/stat, or (0, 0) where absent."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v), (v[7] if len(v) > 7 else 0)
    except OSError:
        return 0, 0


def free_gb() -> float:
    st = os.statvfs(ROOT)
    return st.f_bavail * st.f_frsize / 1e9


def make_plan(workload: str, seed: int) -> dict:
    if workload == "taxi_olap":
        return {"iterations": gen.taxi_plan(seed, 200,
                                            gen.SIZES["taxi"]["months"])}
    if workload == "snapshot_dml":
        return {"cycles": gen.dml_plan(seed, 100),
                "delete_mod": gen.DELETE_MOD}
    return {"lanes": gen.ops_plan(seed, LANES)}


def run_jvm(workload: str, in_dir: str, work: str, plan_path: str,
            seconds: float, trace: int, reps: int, out: str,
            timeout: float) -> None:
    cmd = java(work, [workload, in_dir, work, plan_path, str(seconds),
                      str(trace), str(reps), out],
               f"-XX:SharedArchiveFile={ARCHIVE}")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=timeout, cwd=work)
    if r.returncode != 0 or not os.path.exists(out):
        log(r.stderr[-6000:])
        raise RuntimeError(f"JVM exited with {r.returncode}")


def quantile(xs: list, q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def tail(xs: list):
    """The highest whole percentile with at least ten samples above it,
    and the value there; None when there are fewer than 20 samples."""
    n = len(xs)
    ps = [p for p in range(50, 100) if n * (100 - p) / 100.0 >= 10]
    if not ps:
        return None
    return ps[-1], quantile(xs, ps[-1] / 100.0)


def check(workload: str, res: dict, in_dir: str, plan: dict) -> tuple:
    """Count operations whose output was wrong; return (failed, notes)."""
    c = res["checks"]
    ops = res["ops"]
    failed, notes = 0, []
    if workload == "taxi_olap":
        con = oracle.taxi_con(in_dir)
        want = oracle.load_expected(con)
        for got, n in c.get("month_summaries", {}).items():
            if not oracle.same_rows(json.loads(got), want):
                failed += n
                notes.append(f"{n} load(s): table content differs from "
                             "the DuckDB replay")
        for key, by in c.get("results", {}).items():
            want = oracle.olap_expected(con, key)
            for got, n in by.items():
                if not oracle.same_rows(json.loads(got), want):
                    failed += n
                    notes.append(f"{n} x {key}: result differs from DuckDB")
        con.close()
    elif workload == "snapshot_dml":
        n = c.get("commits_run", 0)
        done = [op for cycle in plan["cycles"] for op in cycle][:n]
        want = oracle.dml_expected(in_dir, done)
        if not oracle.same_rows(c.get("final_read", []), want, tol=1e-3):
            failed += n
            notes.append(f"final content after {n} commits differs from "
                         "the DuckDB replay")
        if c.get("history_size") != c.get("commits_counted", -1) + 1:
            failed += n
            notes.append(f"history has {c.get('history_size')} snapshots, "
                         f"expected {c.get('commits_counted', -1) + 1}: "
                         "commits landed elsewhere")
    elif workload == "dataprep_ops":
        for lane in c.get("unstable", []):
            runs = sum(1 for o in ops if o["kind"] == f"lane:{lane}")
            failed += runs
            notes.append(f"{lane}: output hash changed between passes")
        missing = [l for l in LANES if l not in c.get("digests", {})]
        if missing:
            failed += len(missing)
            notes.append(f"lanes without output: {missing}")
    return failed, notes


def named_metrics(workload: str, res: dict, setup_s: float,
                  counts: dict) -> dict:
    """The workload's named end-to-end metrics: name → (value, unit, n)."""
    ops = [o for o in res["ops"] if o["ok"]]
    by = lambda pred: [o["ms"] for o in ops if pred(o["kind"])]
    out = {"setup_s": (setup_s, "s", len(res["setup_reps_s"])),
           "peak_heap_mb": (res["peak_heap_mb"], "MB",
                            len(res["iteration_s"]))}
    info = res.get("info", {})
    if workload == "taxi_olap":
        # the loads are the set-ups: the first in a cold JVM
        loads = info["load_ms"]
        load_s = statistics.median(loads) / 1000
        rows = counts["lineitem"]
        out["load_s"] = (load_s, "s", len(loads))
        out["load_rows_per_s"] = (rows / load_s, "rows/s", len(loads))
        out["table_bytes_per_row"] = (info["table_bytes"] / rows, "B/row",
                                      len(loads))
        qs = by(lambda k: k in QUERY_KINDS)
        rng = by(lambda k: k == "range")
        out["query_p50_ms"] = (statistics.median(qs), "ms", len(qs))
        t = tail(qs)
        if t:
            out["query_tail_ms"] = (t[1], f"ms@p{t[0]}", len(qs))
        # query time only: set-up loads and the GC between iterations excluded
        out["queries_per_s"] = (len(qs) / (sum(qs) / 1000), "1/s", len(qs))
        if rng:
            out["range_query_p50_ms"] = (statistics.median(rng), "ms",
                                         len(rng))
    elif workload == "snapshot_dml":
        cs = by(lambda k: k.startswith("commit:"))
        cycles = by(lambda k: k == "commit_cycle")
        reads = by(lambda k: k == "read")
        maint = by(lambda k: k == "maintenance")
        out["commit_p50_ms"] = (statistics.median(cs), "ms", len(cs))
        out["commit_cycle_p50_ms"] = (statistics.median(cycles), "ms",
                                      len(cycles))
        t = tail(cs)
        if t:
            out["commit_tail_ms"] = (t[1], f"ms@p{t[0]}", len(cs))
        out["snapshot_read_p50_ms"] = (statistics.median(reads), "ms",
                                       len(reads))
        if maint:
            out["maintenance_s"] = (statistics.median(maint) / 1000, "s",
                                    len(maint))
        if info.get("live_rows", 0) > 0:
            out["stored_bytes_per_live_row"] = (
                info["stored_bytes"] / info["live_rows"], "B/row", 1)
    elif workload == "dataprep_ops":
        ps = by(lambda k: k == "pass")
        out["ops_pass_s"] = (statistics.median(ps) / 1000, "s", len(ps))
    return out


def run_workload(workload: str, seed: int, seconds: float, trace: int,
                 deadline: float) -> dict:
    kind, reps, primary = WORKLOADS[workload]
    work = os.path.join(SCRATCH, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log(f"[perfbench] {workload} seed={seed} trace={trace} "
        f"free disk before: {free_gb():.2f} GB")
    ticks0 = cpu_ticks()
    try:
        in_dir = os.path.join(work, "in")
        counts = gen.make_tables(in_dir, seed, kind)
        plan = make_plan(workload, seed)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        out = os.path.join(work, "result.json")
        run_jvm(workload, in_dir, work, plan_path, seconds, trace, reps,
                out, timeout=max(10.0, deadline - time.time()))
        with open(out) as fh:
            res = json.load(fh)
        failed, notes = check(workload, res, in_dir, plan)
        disk_used = sum(os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(work) for f in fs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = [o for o in res["ops"] if o["kind"] not in DERIVED_OPS]
    failed += sum(1 for o in ops if not o["ok"])
    notes += res["errors"]
    attempted = max(len(ops), 1)
    prim = [o["ms"] for o in res["ops"] if o["ok"] and primary(o["kind"])]
    setup_s = res["session_s"] + statistics.median(res["setup_reps_s"])
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(prim) if prim else float("nan"),
        "iterations_per_s": len(res["iteration_s"]) / sum(res["iteration_s"]),
    }
    named = named_metrics(workload, res, setup_s, counts) if prim else {}
    named["failed_ratio"] = (failed / attempted, "ratio", attempted)
    log(f"[perfbench] {workload}: inputs {counts}; session "
        f"{res['session_s']:.2f}s, set-up reps "
        f"{[round(x, 2) for x in res['setup_reps_s']]}, warm-up "
        f"{res['warmup_s']:.2f}s, measured {res['wall_s']:.2f}s, "
        f"{len(prim)} primary ops (ms): {[round(x) for x in prim]}")
    for name, (v, unit, n) in named.items():
        log(f"[perfbench]   {name:28s} {v:14.4f} {unit:10s} n={n}")
    kinds = sorted({o["kind"] for o in ops})
    for k in kinds:
        log(f"[perfbench]   op {k:24s} ms "
            f"{[round(o['ms']) for o in ops if o['kind'] == k][:12]}")
    for note in notes:
        log(f"[perfbench]   WRONG: {note}")
    ticks1 = cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    log(f"[perfbench] scratch peak {disk_used / 1e6:.1f} MB (deleted); "
        f"free disk after: {free_gb():.2f} GB; host CPU steal during the "
        f"run {100 * steal:.1f}%")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "e2e": e2e, "named": named, "layers": res.get("layers", {})}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        build()
    except Exception as e:  # noqa: BLE001
        log(f"[perfbench] build failed: {e}")
        return 2
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    try:
        for w in names:
            # a built run must end within 180 s
            results[w] = run_workload(w, a.seed, a.seconds, a.trace,
                                      deadline=time.time() + 165)
    except Exception as e:  # noqa: BLE001
        log(f"[perfbench] run failed: {e}")
        return 3
    finally:
        if os.path.isdir(SCRATCH) and not os.listdir(SCRATCH):
            os.rmdir(SCRATCH)
    correct = all(r["correct"] for r in results.values())
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    if a.workload == "all":
        common = ("setup_s", "peak_heap_mb", "failed_ratio")
        metrics = {f"{name}.{w}" if name in common else name:
                   {"value": v, "unit": unit, "n": n}
                   for w, r in results.items()
                   for name, (v, unit, n) in r["named"].items()}
    elif a.trace:
        layers = results[a.workload]["layers"]
        metrics = {m: {"value": float(layers.get(m, 0.0)), "unit": u}
                   for m, u in PER_LAYER}
    else:
        e2e = results[a.workload]["e2e"]
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
