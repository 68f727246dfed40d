#!/usr/bin/env bash
# Plan diff of the working tree against a commit: the formatted physical
# plan of every gate, printed by graft.ExplainAudit over its data
# directory (SPARK_GRAFT_SF_DIR, sf0.001 by default), on both sides.
#
# Usage: TMPDIR=/path/to/scratch tools/plan_diff.sh <rev>
#
# <rev> is exported with `git archive` into a fresh directory under
# ${TMPDIR:-/tmp} and gets the working tree's ExplainAudit.scala, so both
# sides print the same gates with one auditor. Each side's output is
# masked of what is not plan content: expression ids (`#123`) and the
# temp root of the gates that write through a directory, which differ
# between two runs of one program, and two things that differ between
# programs with the same plans: lambda variable numbers (`lambda x_12`,
# from a JVM-wide counter that every lambda built earlier in the run
# moves) and the source line of an RDD's call site (`Foo.scala:123`,
# which any edit above it moves). The script prints every gate
# whose masked plan differs, with its first differing lines, and exits 1
# if there is one, 0 if there is none, 2 if a side fails to print. The
# raw and masked outputs stay in the scratch directory it names; the
# exported source is removed on exit.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -ne 1 ]; then
  echo "usage: $0 <rev>" >&2
  exit 2
fi
REV="$(git rev-parse --verify "$1^{commit}")"
OUT="$(mktemp -d "${TMPDIR:-/tmp}/plan_diff.XXXXXX")"
SRC="$OUT/rev"
trap 'rm -rf "$SRC"' EXIT
mkdir -p "$SRC"
git archive "$REV" | tar -x -C "$SRC"
cp src/main/scala/graft/ExplainAudit.scala "$SRC/src/main/scala/graft/ExplainAudit.scala"
echo "rev ${REV:0:12} in $SRC; outputs in $OUT" >&2

# audit <dir> <name>: every gate's plan, stdout only (sbt's own log lines
# dropped)
audit() {
  (cd "$1" && sbt -batch 'runMain graft.ExplainAudit' 2>"$OUT/$2.log") \
    | grep -Ev '^\[(info|warn|error|success)\]' >"$OUT/$2.txt"
}
for side in rev change; do
  dir="$SRC"; [ "$side" = change ] && dir=.
  audit "$dir" "$side" || { echo "ExplainAudit failed ($side): see $OUT/$side.log" >&2; exit 2; }
done

python3 - "$OUT" <<'EOF'
import re, sys
out = sys.argv[1]

def gates(name):
    text = open(f"{out}/{name}.txt").read()
    text = re.sub(r"#\d+", "#<id>", text)
    text = re.sub(r"\blambda (\w+?)_\d+", r"lambda \1_<n>", text)
    text = re.sub(r"(\w+\.scala):\d+", r"\1:<line>", text)
    # a gate's temp directory: under the per-JVM root `graft-<digits>`, or
    # (before that root) a `graft-<name><digits>` directory of its own
    text = re.sub(r"/graft[-_][a-z]*\d+", "/graft-<tmp>", text)
    open(f"{out}/{name}.masked.txt", "w").write(text)
    parts = re.split(r"^========== (\S+) ==========$", text, flags=re.M)
    return dict(zip(parts[1::2], parts[2::2]))

rev, change = gates("rev"), gates("change")
differ = sorted(g for g in set(rev) | set(change) if rev.get(g) != change.get(g))
for g in differ:
    a = (rev.get(g) or "<absent>\n").splitlines()
    b = (change.get(g) or "<absent>\n").splitlines()
    i = next((k for k, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    print(f"== {g}: differs from line {i + 1}")
    for x in a[i:i + 3]:
        print(f"  - {x[:200]}")
    for y in b[i:i + 3]:
        print(f"  + {y[:200]}")
print(f"== {len(differ)} of {len(set(rev) | set(change))} gates differ "
      f"({len(rev)} printed at rev, {len(change)} in the working tree)")
sys.exit(1 if differ else 0)
EOF
