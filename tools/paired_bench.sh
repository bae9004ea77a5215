#!/bin/bash
# Same-day PAIRED A/B bench between two commits (r17, verdict task 5).
#
# The r15->r16 handoff showed why cross-session bench totals mislead: the
# builder's 69.70 s and the driver's 89.35 s measured the SAME code on the
# same box hours apart (box-state drift), and a round of headline deltas
# chased it. Round-over-round claims should instead cite a PAIRED record:
# both commits benched in one sitting.
#
# Arm schedule: A1 -> B1 -> B2 -> A2 (ABBA). Both sides sit at the same
# mean position in the sitting (arms 1+4 vs 2+3), so a LINEAR within-
# sitting box trend hits them equally; the old A1 -> B1 -> A2 -> B2 order
# put the new side later on average and favoured it on a box that speeds
# up through the sitting (paired_session_sf0.1.json: A2 faster than A1 on
# 112/137 queries). min-vs-min does not cancel a trend — a curved one can
# still favour either side — so each side also carries its own same-code
# drift band, and a delta inside it is noise.
#
# Usage: tools/paired_bench.sh <old-ref> <queries-csv> <sf-dir> <out.json> [runs]
#   old-ref      git rev the NEW head is compared against (e.g. last
#                round-close commit)
#   queries-csv  SPARK_GRAFT_ONLY value: the round's plan-changed queries
#   sf-dir       bench input dir
#   out.json     paired record path (repo-relative)
#   runs         forked rounds per arm (default 3)
#
# The old rev builds in a throwaway clone under $TMPDIR (default /tmp; its
# own sbt target, no worktree metadata in the repo's .git); each arm is a
# normal forked-rounds Bench subset run, serialized so no two Spark
# workloads contend. Arm records and logs go to the same $TMPDIR, and
# each arm's engine configuration beside its record (<arm>_env.json: the
# commit, nproc, SPARK_GRAFT_CPUS/SPARK_GRAFT_MASTER as set, the bench
# JVM's -Xmx, sbt's own -Xmx, /proc/loadavg at the start and end of the
# arm), which paired_report.py copies into the paired record.
set -e
OLD_REF="$1"; QUERIES="$2"; SF_DIR="$3"; OUT="$4"; RUNS="${5:-3}"
REPO=$(cd "$(dirname "$0")/.." && pwd)
TMP="${TMPDIR:-/tmp}"
WT="$TMP/graft_paired_old"
cd "$REPO"
OLD_SHA=$(git rev-parse "$OLD_REF")
# the new arm benches the working tree, so a tree with uncommitted changes
# is not HEAD: say so in the stamp
NEW_SHA=$(git rev-parse HEAD)
[ -z "$(git status --porcelain)" ] || NEW_SHA="$NEW_SHA-dirty"

rm -rf "$WT"
git clone --quiet --no-checkout "$REPO" "$WT"
git -C "$WT" checkout --quiet --detach "$OLD_SHA"
# remove the clone however the script ends, an arm dying under set -e too
trap 'rm -rf "$WT"' EXIT

# the last -Xmx in a JVM option string, or the given default
xmx_of() { # options default
  local x
  x=$(printf '%s\n' "$1" | grep -o -- '-Xmx[^ ]*' | tail -1)
  echo "${x:-$2}"
}

run_arm() { # dir record logfile sha
  local load0
  load0=$(cat /proc/loadavg)
  (cd "$1" &&
    SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_RUNS="$RUNS" \
    SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_RECORD="$2" \
    sbt -batch "runMain graft.Bench" > "$3" 2>&1)
  # build.sbt gives the forked bench JVM -Xmx$SPARK_DRIVER_MEM (default 16g)
  python3 - "${2%.json}_env.json" <<PY
import json, sys
json.dump({"sha": "$4", "nproc": $(nproc),
           "spark_graft_cpus": "${SPARK_GRAFT_CPUS:-}" or None,
           "spark_graft_master": "${SPARK_GRAFT_MASTER:-}" or None,
           "bench_jvm_xmx": "-Xmx${SPARK_DRIVER_MEM:-16g}",
           "sbt_xmx": "$(xmx_of "${SBT_OPTS:-} ${JAVA_OPTS:-}" "sbt default")",
           "loadavg_start": "$load0", "loadavg_end": "$(cat /proc/loadavg)"},
          open(sys.argv[1], "w"), indent=1)
PY
  # retain the arm's diag (spill/shuffle/CPU per round) — Bench overwrites
  # bench_diag_only.json per run and the clone is removed at the end, so
  # without this copy a surprising arm delta cannot be attributed post-hoc
  cp "$1"/bench_diag_only.json "${2%.json}_diag.json" 2>/dev/null || true
}

echo "== paired bench: old=$OLD_SHA new=$NEW_SHA queries=$QUERIES =="
echo "== arm A1 (old) =="; run_arm "$WT"   "$TMP"/paired_old1.json "$TMP"/paired_old1.log "$OLD_SHA"
echo "== arm B1 (new) =="; run_arm "$REPO" "$TMP"/paired_new1.json "$TMP"/paired_new1.log "$NEW_SHA"
echo "== arm B2 (new) =="; run_arm "$REPO" "$TMP"/paired_new2.json "$TMP"/paired_new2.log "$NEW_SHA"
echo "== arm A2 (old) =="; run_arm "$WT"   "$TMP"/paired_old2.json "$TMP"/paired_old2.log "$OLD_SHA"

python3 "$REPO/tools/paired_report.py" "$OUT" \
  "$OLD_SHA" "$NEW_SHA" \
  "$TMP"/paired_old1.json "$TMP"/paired_new1.json \
  "$TMP"/paired_new2.json "$TMP"/paired_old2.json

rm -f "$REPO"/bench_diag_only.json 2>/dev/null || true
echo "paired record written to $OUT"
