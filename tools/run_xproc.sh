#!/usr/bin/env bash
# Cross-process evidence run for the shared bucketed dedup layout
# (r12 VERDICT "Next round" item 2). Sequences real JVMs through
# graft.scale.XprocBench roles and assembles XPROC_r{N}.json:
#
#   cell A       — fresh cache: process A serves (must BUILD: builds=1)
#   cell B       — same cache, new JVM: process B serves (builds=0, same
#                  generation and hash as A, serve-pass wall)
#   cell CONC    — fresh cache: two processes start the same cold build
#                  CONCURRENTLY; the cross-process file lock serializes
#                  them (exactly one build across both, identical hashes)
#   cell TAKEDOWN— process T deletes a doc; process C then serves with
#                  exactly one rebuild and zero victim pairs
#
# Usage: tools/run_xproc.sh [round] (default 13). Requires compiled
# classes under target/scala-2.13/classes (sbt compile).
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:-13}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
CPUS="${SPARK_GRAFT_CPUS:-8}"
WORK="$(mktemp -d /tmp/graft-xproc.XXXXXX)"
# the work dir (corpus, two caches, per-cell logs) is removed once the
# report is written with every check passing; otherwise it is kept and
# named, so the cell logs stay available for diagnosis
PASSED=0
trap 'if [ "$PASSED" = 1 ]; then rm -rf "$WORK"; else echo "[xproc] run did not pass; work dir kept: $WORK" >&2; fi' EXIT
CORPUS="$WORK/corpus"
OUT="XPROC_r${ROUND}.json"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JAVA_OPTS="-Xmx12g --add-exports=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dderby.stream.error.file=$WORK/derby.log"

run() { # role corpus out [extra env...]
  local role="$1" out="$2"; shift 2
  env "$@" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_SF_DIR="$SF_DIR" \
    java $JAVA_OPTS -cp "$CP" graft.scale.XprocBench \
    "$role" "$CORPUS" "$out" >"$out.log" 2>&1
}

echo "[xproc] staging corpus from $SF_DIR under $CORPUS" >&2
mkdir -p "$CORPUS"
run stage "$WORK/stage.json"

CACHE1="$WORK/cache1"; mkdir -p "$CACHE1"
echo "[xproc] cell A: cold build in process A" >&2
run serve "$WORK/a.json" GRAFT_ANN_CACHE_DIR="$CACHE1"
echo "[xproc] cell B: fresh JVM serves the shared layout" >&2
run serve "$WORK/b.json" GRAFT_ANN_CACHE_DIR="$CACHE1"

CACHE2="$WORK/cache2"; mkdir -p "$CACHE2"
echo "[xproc] cell CONC: two JVMs race one cold build" >&2
env GRAFT_ANN_CACHE_DIR="$CACHE2" SPARK_GRAFT_CPUS="$CPUS" \
  java $JAVA_OPTS -cp "$CP" graft.scale.XprocBench \
  serve "$CORPUS" "$WORK/c1.json" >"$WORK/c1.json.log" 2>&1 &
P1=$!
env GRAFT_ANN_CACHE_DIR="$CACHE2" SPARK_GRAFT_CPUS="$CPUS" \
  java $JAVA_OPTS -cp "$CP" graft.scale.XprocBench \
  serve "$CORPUS" "$WORK/c2.json" >"$WORK/c2.json.log" 2>&1 &
P2=$!
wait $P1 $P2

echo "[xproc] cell TAKEDOWN: delete one doc, then serve in a new JVM" >&2
run takedown "$WORK/t.json" GRAFT_ANN_CACHE_DIR="$CACHE1"
VICTIM=$(python3 -c "import json;print(json.load(open('$WORK/t.json'))['victim'])")
run serve "$WORK/d.json" GRAFT_ANN_CACHE_DIR="$CACHE1" \
  SPARK_GRAFT_XPROC_VICTIM="$VICTIM"

python3 - "$WORK" "$OUT" <<'EOF'
import json, sys
work, out = sys.argv[1], sys.argv[2]
cells = {k: json.load(open(f"{work}/{f}")) for k, f in [
    ("stage", "stage.json"), ("a", "a.json"), ("b", "b.json"),
    ("conc1", "c1.json"), ("conc2", "c2.json"),
    ("takedown", "t.json"), ("post_takedown", "d.json")]}
checks = {
    "a_builds_once": cells["a"]["builds"] == 1,
    "b_serves_without_build": cells["b"]["builds"] == 0,
    "b_serves_a_generation": cells["b"]["gen"] == cells["a"]["gen"],
    "b_hash_matches_a": cells["b"]["hash"] == cells["a"]["hash"],
    "concurrent_build_serialized_to_one":
        cells["conc1"]["builds"] + cells["conc2"]["builds"] == 1,
    "concurrent_hashes_identical":
        cells["conc1"]["hash"] == cells["conc2"]["hash"] and
        cells["conc1"]["gen"] == cells["conc2"]["gen"],
    "takedown_forces_exactly_one_rebuild":
        cells["post_takedown"]["builds"] == 1,
    "victim_unreachable_after_takedown":
        cells["post_takedown"].get("victim_pairs") == 0,
    "rebuild_changed_generation":
        cells["post_takedown"]["gen"] != cells["a"]["gen"],
}
doc = {"cells": cells, "checks": checks, "all_pass": all(checks.values())}
json.dump(doc, open(out, "w"), indent=1)
print(f"[xproc] wrote {out}; all_pass={doc['all_pass']}")
for k, v in checks.items():
    print(f"  {'OK ' if v else 'FAIL'} {k}")
EOF
if grep -q '"all_pass": true' "$OUT"; then PASSED=1; fi
