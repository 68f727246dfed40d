#!/usr/bin/env bash
# Interleaved parent/change A/B of the benchmark of record (perfbench).
#
# Usage: tools/perfbench_ab.sh <parent-rev> <workload> <seed>...
#
# The parent is <parent-rev> exported with `git archive` into a fresh
# directory under ${TMPDIR:-/tmp}; the change is the working tree. Each
# side is built once by a short untimed run (seed 0, --seconds 1). Then,
# for every seed, each side runs
#   python3 perfbench/run.py --workload <workload> --seed <n> --seconds 30
# in its own checkout, one pair per seed, alternating which side runs
# first (the change first on odd-numbered pairs). Every result line is
# kept in the scratch directory. The script prints each pair, then per
# end-to-end metric of BENCHMARK.json: wins (ties count for neither
# side), each side's median and quartiles, and the parent's IQR — the
# comparison a claimed gain must pass: >= 9/10 of pairs won and a median
# difference above the parent's IQR. After the pairs, each side makes one
# traced run (--trace 1) on the first seed, and the script prints their
# per-layer metrics side by side (exec.jobs, adtl.parse.build_s,
# adtl.sink.write_s, catalyst.*, exec.task_s) and each table's median
# sink-write span, so an end-to-end move can be traced to the layer it
# came from. For operator_gates, the change reads the parent's generated
# gate input (see below). The benchmark is only called, never edited.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
PARENT="$(git rev-parse --verify "$1^{commit}")"
WORKLOAD="$2"
shift 2
CHANGE_DIR="$(pwd)"
AB="$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")"
PARENT_DIR="$AB/parent"
mkdir -p "$PARENT_DIR"
git archive "$PARENT" | tar -x -C "$PARENT_DIR"
echo "parent ${PARENT:0:12} in $PARENT_DIR; results in $AB" >&2

# run <side> <seed> <seconds> [trace]: one benchmark run, its result line
# saved (a traced run's under a -trace name, with its spans file beside it)
run() {
  local dir out trace="${4:-0}" name="$1-$WORKLOAD-$2"
  dir="$PARENT_DIR"; [ "$1" = change ] && dir="$CHANGE_DIR"
  [ "$trace" = 1 ] && name="$name-trace"
  out="$AB/$name.json"
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
      --seconds "$3" --trace "$trace" 2>"$AB/$name.log" | tail -n 1 >"$out") || true
  if [ "$trace" = 1 ]; then
    cp "$dir/.bench_build/perfbench/spans-$WORKLOAD-$2.json" "$AB/$name.spans.json" \
      2>/dev/null || true
  fi
  echo "$name: $(head -c 300 "$out")" >&2
}

run parent 0 1
run change 0 1
# operator_gates reads one input generated per build; two generations
# hold the same rows but can differ in parquet metadata (each column
# chunk's encodings order), which moved gate latency by 10-25% between
# copies. Both sides read the parent's copy, so the pairs compare programs.
GATES=.bench_build/perfbench/gatedata
if [ -d "$PARENT_DIR/$GATES" ]; then
  rm -rf "${CHANGE_DIR:?}/$GATES"
  cp -a "$PARENT_DIR/$GATES" "$CHANGE_DIR/$GATES"
fi
i=0
for seed in "$@"; do
  i=$((i + 1))
  if [ $((i % 2)) -eq 1 ]; then run change "$seed" 30; run parent "$seed" 30
  else run parent "$seed" 30; run change "$seed" 30; fi
done
run parent "$1" 30 1
run change "$1" 30 1

python3 - "$AB" "$WORKLOAD" "$@" <<'EOF'
import json, statistics, sys
ab, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
spec = json.load(open("BENCHMARK.json"))

def result(side, seed, suffix=""):
    try:
        r = json.loads(open("%s/%s-%s-%s%s.json" % (ab, side, workload, seed, suffix)).read())
    except (OSError, ValueError):
        return None
    return r if r.get("correct") and not r.get("failed") else None

def quart(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]

pairs = [(s, result("parent", s), result("change", s)) for s in seeds]
bad = [s for s, p, c in pairs if p is None or c is None]
if bad:
    print("failed or incorrect runs (pairs left out): seeds " + " ".join(bad))
pairs = [(s, p, c) for s, p, c in pairs if p is not None and c is not None]
print("%d pairs, workload %s" % (len(pairs), workload))
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    ps = [p["metrics"][name]["value"] for _, p, _ in pairs if name in p["metrics"]]
    cs = [c["metrics"][name]["value"] for _, _, c in pairs if name in c["metrics"]]
    if not ps or len(ps) != len(cs):
        continue
    print("\n%s (%s, %s is better, bound %s)" % (name, m["unit"], m["better"], m["bound"]))
    for (s, _, _), pv, cv in zip(pairs, ps, cs):
        print("  seed %-5s parent %12.6g  change %12.6g  change/parent %.3f"
              % (s, pv, cv, cv / pv if pv else float("nan")))
    wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
    losses = sum((c > p) if lower else (c < p) for p, c in zip(ps, cs))
    (pq1, pm, pq3), (cq1, cm, cq3) = quart(ps), quart(cs)
    print("  change wins %d/%d, parent wins %d/%d" % (wins, len(ps), losses, len(ps)))
    print("  parent median %.6g  quartiles %.6g-%.6g  IQR %.6g" % (pm, pq1, pq3, pq3 - pq1))
    print("  change median %.6g  quartiles %.6g-%.6g" % (cm, cq1, cq3))
    print("  median change/parent %.3f; |median difference| %.6g %s parent IQR"
          % (cm / pm if pm else float("nan"), abs(cm - pm),
             ">" if abs(cm - pm) > pq3 - pq1 else "<="))

# per-layer metrics of the traced run on the first seed, side by side
traced = [result(side, seeds[0], "-trace") for side in ("parent", "change")]
print("\nper layer, traced run on seed %s" % seeds[0])
if None in traced:
    print("  failed or incorrect traced run")
else:
    pm, cm = traced[0]["metrics"], traced[1]["metrics"]
    layers = [n for n in pm if n in cm and (n.startswith("catalyst.") or n in
              ("exec.jobs", "adtl.parse.build_s", "adtl.sink.write_s", "exec.task_s"))]
    for n in sorted(layers):
        pv, cv = pm[n]["value"], cm[n]["value"]
        print("  %-28s parent %12.6g  change %12.6g  change/parent %.3f"
              % (n, pv, cv, cv / pv if pv else float("nan")))

    def sink_ms(side):
        try:
            spans = json.load(open("%s/%s-%s-%s-trace.spans.json" % (ab, side, workload, seeds[0])))
        except (OSError, ValueError):
            return {}
        by = {}
        for sp in spans:
            if sp["name"] == "adtl.sink":
                by.setdefault(sp["unit"], []).append((sp["end_ns"] - sp["start_ns"]) / 1e6)
        return {t: statistics.median(v) for t, v in by.items()}

    ps, cs = sink_ms("parent"), sink_ms("change")
    for t in sorted(set(ps) & set(cs)):
        print("  %-28s parent %12.1f  change %12.1f  change/parent %.3f"
              % ("adtl.sink[%s] median ms" % t, ps[t], cs[t],
                 cs[t] / ps[t] if ps[t] else float("nan")))
EOF
