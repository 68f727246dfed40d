#!/usr/bin/env bash
# Same-session INTERLEAVED A/B bench: this box's throughput drifts up to
# ~1.6x within an hour (round-8 measured 49->70s on untouched queries), so
# a single prev-then-cur pair cannot separate a code regression from
# environmental drift. This runs a previous commit (HEAD by default) and
# the current working tree ALTERNATING (A,B,A,B), takes the per-query MIN of
# each side's two runs (the noise-robust statistic on a contended box),
# and reports the like-for-like ratio over the shared query set — drift
# that rises or falls across the session lands on both sides
# symmetrically instead of all on whichever side ran last.
#
# Writes BENCH_PREV.json at the repo root: both sides' per-query minima
# and the interleaved ratio. It is this tool's own attribution artifact;
# graft.Bench never reads it and always reports its live run.
#
# Usage: tools/bench_ab.sh [prev-commit [query ...]]
#   prev-commit defaults to HEAD, so with no argument the working tree is
#   measured against its own last commit. Any further arguments are
#   passed to graft.Bench as its query list (e.g. only the adtl gates);
#   without them both sides run the full suite.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
PREV="$(git rev-parse --verify "${1:-HEAD}^{commit}")"
shift $(( $# > 0 ? 1 : 0 ))
BENCH="runMain graft.Bench${*:+ $*}"

# the previous commit as a `git archive` copy (no worktree registered in
# the repository), removed on exit
WT="$(mktemp -d "${TMPDIR:-/tmp}/graft_prev.XXXXXX")"
trap 'rm -rf "$WT"' EXIT
git archive "$PREV" | tar -x -C "$WT"
# Run BOTH sides on the CURRENT measurement harness: it is the stopwatch,
# not the code under test. Round 12 switched it from count() (which let
# Catalyst prune projection-only queries to metadata scans and eliminate
# row-preserving left joins — under-measuring narrow operators since
# round 1) to a noop-sink write; comparing a count-basis prev against a
# noop-basis cur manufactures phantom 20-140x "regressions" on exactly
# the queries count() never really ran. Every harness file is copied:
# Bench.scala alone would not compile against a previous TaskTimes or
# Harness, and the other mains must compile against the copied ones.
for f in Bench Harness TaskTimes ScaleBench StageAudit Verify ExplainAudit; do
  cp "src/main/scala/graft/$f.scala" "$WT/src/main/scala/graft/$f.scala"
done

# Prefer the bench_full line (full per-query map; emitted since round
# 11 — the driver-facing last line is compact and carries only the 20
# slowest); fall back to the last metric line for pre-round-11 commits.
pick_line() {
  local all
  all=$(grep -o '{"metric".*}')
  if echo "$all" | grep -q '"metric":"bench_full"'; then
    echo "$all" | grep '"metric":"bench_full"' | tail -1
  else
    echo "$all" | tail -1
  fi
}
run_prev() {
  (cd "$WT" && SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "$BENCH" 2>&1 | pick_line)
}
run_cur() {
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "$BENCH" 2>&1 | pick_line
}

echo "== interleaved A/B vs $(git rev-parse --short "$PREV"): prev, cur, prev, cur"
A1=$(run_prev); echo "A1(prev) $A1"
B1=$(run_cur);  echo "B1(cur)  $B1"
A2=$(run_prev); echo "A2(prev) $A2"
B2=$(run_cur);  echo "B2(cur)  $B2"

# cur-side provenance: whether src/main or build.sbt had uncommitted
# edits when the cur side ran (its minima then measure no commit).
CUR_DIRTY=false
if [ -n "$(git status --porcelain -- src/main build.sbt)" ]; then
  CUR_DIRTY=true
fi
A1="$A1" A2="$A2" B1="$B1" B2="$B2" \
  PREV_SHA="$(git rev-parse --short "$PREV")" SF_DIR="$SF_DIR" CPUS="$CPUS" \
  CUR_SHA="$(git rev-parse HEAD)" CUR_DIRTY="$CUR_DIRTY" \
  python3 <<'EOF'
import json, os, datetime
a1, a2 = (json.loads(os.environ[k])["queries"] for k in ("A1", "A2"))
b1, b2 = (json.loads(os.environ[k])["queries"] for k in ("B1", "B2"))
amin = {q: min(a1[q], a2[q]) for q in a1 if q in a2}
bmin = {q: min(b1[q], b2[q]) for q in b1 if q in b2}
shared = sorted(set(amin) & set(bmin))
at = sum(amin[q] for q in shared)
bt = sum(bmin[q] for q in shared)
doc = {
    "commit": os.environ["PREV_SHA"],
    "cur_commit": os.environ["CUR_SHA"],
    "cur_dirty": os.environ["CUR_DIRTY"] == "true",
    "total": round(sum(amin.values()), 3),
    "sf": os.environ["SF_DIR"],
    # the core count both sides ran at
    "cpus": int(os.environ["CPUS"]),
    "at": datetime.datetime.now(datetime.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ"),
    "method": "interleaved A,B,A,B; per-query min of each side's two runs",
    "queries": {q: round(v, 4) for q, v in sorted(amin.items())},
    "cur_queries": {q: round(v, 4) for q, v in sorted(bmin.items())},
    "like_for_like": {
        "n_shared": len(shared),
        "prev_sec": round(at, 3),
        "cur_sec": round(bt, 3),
        "ratio": round(bt / at, 4) if at else None,
    },
}
with open("BENCH_PREV.json", "w") as f:
    json.dump(doc, f, indent=1)
    f.write("\n")
worst = sorted(((bmin[q] / amin[q] if amin[q] > 0 else 0.0, q)
                for q in shared), reverse=True)[:8]
print(f"== like-for-like over {len(shared)} shared queries: "
      f"prev {at:.1f}s cur {bt:.1f}s ratio {bt/at:.3f}")
print("== worst per-query ratios: "
      + ", ".join(f"{q}={r:.2f}" for r, q in worst))
EOF
echo "== BENCH_PREV.json written"
