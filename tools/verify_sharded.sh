#!/bin/bash
# Sharded correctness gate: run graft.Verify as N isolated parallel JVMs
# (each with its own java.io.tmpdir and spark warehouse so lanes that
# materialize shared scratch state can never collide across shards),
# then merge the per-shard error artifacts into the verify_errors.json
# the single-JVM gate writes. Produces the SAME outDir artifact as
#   sbt "runMain graft.Verify SFDIR OUTDIR"
# in roughly 1/N the wall time (lanes are independent; in-JVM worker
# pools were measured SLOWER — concurrent heavy jobs thrash one local
# master, while separate masters each keep parallelism = their cores).
#
# Usage: tools/verify_sharded.sh SFDIR OUTDIR [NSHARDS] [CPUS_PER_SHARD]
set -euo pipefail
SFDIR=${1:?usage: verify_sharded.sh SFDIR OUTDIR [NSHARDS] [CPUS]}
OUTDIR=${2:?usage: verify_sharded.sh SFDIR OUTDIR [NSHARDS] [CPUS]}
NSHARDS=${3:-4}
CPUS=${4:-8}
cd "$(dirname "$0")/.."

# Build once; export the runtime classpath for direct java launches
# (cached — sbt startup would otherwise serialize the shards again).
sbt -batch compile >/dev/null
CP_FILE=target/graft_runtime_classpath.txt
# regenerate when missing OR when the build definition changed since
# the cache was written (build.sbt OR anything under project/ — an sbt/
# plugin bump must reach the shard JVMs, not only the sbt-launched gate)
STALE=0
if [ ! -s "$CP_FILE" ]; then STALE=1
else
  # project/target is sbt's own scratch (always fresh) — watch only the
  # build definition files
  for f in build.sbt project/*.sbt project/build.properties; do
    [ -e "$f" ] && [ "$f" -nt "$CP_FILE" ] && STALE=1
  done
fi
if [ "$STALE" = 1 ]; then
  sbt -batch -error "export Runtime/fullClasspath" 2>/dev/null \
    | grep "target/scala-2.13/classes" | tail -1 > "$CP_FILE".tmp
  grep -q "classes:" "$CP_FILE".tmp  # refuse a mangled export
  mv "$CP_FILE".tmp "$CP_FILE"
fi
CP=$(cat "$CP_FILE")

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

mkdir -p "$OUTDIR"
# sweep stale per-shard artifacts from previous runs FIRST: a shard JVM
# that dies before writing its file would otherwise let an old artifact
# (possibly from a different shard count) be merged into
# verify_errors.json, misstating which lanes failed this run
rm -f "$OUTDIR"/verify_errors_shard_*.json
PIDS=()
for i in $(seq 0 $((NSHARDS - 1))); do
  SHARD_TMP=$(mktemp -d -t "graft_verify_shard_${i}_XXXX")
  # shellcheck disable=SC2086
  SPARK_GRAFT_CPUS=$CPUS java $ADD_OPENS \
    -Xmx8g \
    -Djava.io.tmpdir="$SHARD_TMP" \
    -Dspark.sql.warehouse.dir="$SHARD_TMP/warehouse" \
    -Dderby.system.home="$SHARD_TMP/derby" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.Verify "$SFDIR" "$OUTDIR" "shard=$i/$NSHARDS" \
    > "$OUTDIR/shard_$i.log" 2>&1 &
  PIDS+=($!)
done

FAIL=0
for pid in "${PIDS[@]}"; do
  wait "$pid" || FAIL=1
done

# merge per-shard error artifacts into the canonical file; exits 1
# when any lane failed
python3 - "$OUTDIR" "$NSHARDS" <<'PY' || FAIL=1
import json, sys, glob, os
out, n = sys.argv[1], int(sys.argv[2])
merged = {}
for f in sorted(glob.glob(os.path.join(out, "verify_errors_shard_*_of_%d.json" % n))):
    with open(f) as fh:
        merged.update(json.load(fh))
with open(os.path.join(out, "verify_errors.json"), "w") as fh:
    json.dump(merged, fh)
if merged:
    print("[verify_sharded] %d lane(s) FAILED: %s"
          % (len(merged), ", ".join(sorted(merged))), file=sys.stderr)
    sys.exit(1)
PY

# provenance gate: every README.md:<n> citation in src/ + SURVEY.md must
# point at the construct it attributes (tools/check_citations.py; exit
# 2 = the reference README is absent, so the check could not run)
CITE=0
python3 "$(dirname "$0")/check_citations.py" || CITE=$?

if [ "$FAIL" = 0 ]; then echo "[verify_sharded] lanes: PASS"
else echo "[verify_sharded] lanes: FAIL (a shard exited non-zero or a lane failed)"
fi
case "$CITE" in
  0) echo "[verify_sharded] citations: PASS" ;;
  2) echo "[verify_sharded] citations: NOT RUN (reference README absent)" ;;
  *) echo "[verify_sharded] citations: FAIL" ;;
esac
# exit 1: a lane or a citation failed; 2: lanes passed but the citation
# check could not run; 0: both passed
if [ "$FAIL" != 0 ] || { [ "$CITE" != 0 ] && [ "$CITE" != 2 ]; }; then
  exit 1
fi
[ "$CITE" = 2 ] && exit 2
exit 0
