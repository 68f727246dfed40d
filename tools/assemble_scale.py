#!/usr/bin/env python3
"""Assemble BENCH_r{N}_sf1.json / BENCH_r{N}_sf10.json from ScaleBench
JSON lines (copies=1, copies=K, optional --skew run).

Usage:
  assemble_scale.py sf1  <c1.json> <cK.json> <skew.json> <out.json> <harness-note> <skew-note>
  assemble_scale.py sf10 <c1.json> <cK.json> <out.json> <harness-note>

Each input file holds one ScaleBench JSON line. The sf1 form embeds the
skew run as a `skew_run` block; per-query notes are kept minimal and
factual (rows ratios speak for themselves). A query that failed (listed
under "failed", or with rows -1 in lines from before that key) or that
has no time in one of the runs is entered as {"pass": false, "failed":
true}, and its time is left out of the totals.
"""
import json
import sys


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith('{"metric"'):
                return json.loads(line)
    raise SystemExit(f"no ScaleBench JSON line in {path}")


def metric_version(run):
    # version 2 (round 8+): per-stage max/median over stages whose slowest
    # task >= 200ms, empty=1.0. Version 1 (pre-round-8): query-global
    # max/median, empty=0.0. The two are NOT comparable; refuse to mix.
    return run.get("straggler_metric_version", 1)


def failed(run):
    """Queries the run attempted that did not pass: those listed under
    "failed", and, in artifacts from before that key, the rows == -1
    sentinel (a failed query used to be timed with rows -1)."""
    return set(run.get("failed", [])) | {
        q for q, r in run.get("rows", {}).items() if r < 0}


def attempted(run):
    return sorted(set(run["queries"]) | set(run.get("failed", [])))


def per_query(c1, big, copies):
    # every query the big run attempted: one that failed in either run,
    # or has no time in either, never reads as a scaling pass (the silent
    # hole found in round 11 when a transient failure at 100x produced
    # sec_big=0.05 / rows_big=-1 / pass=true)
    out = {}
    bad = failed(c1) | failed(big)
    for q in attempted(big):
        if q in bad or q not in c1["queries"] or q not in big["queries"]:
            out[q] = {"pass": False, "failed": True}
            continue
        sec_1x, sec_big = c1["queries"][q], big["queries"][q]
        rows_1x = c1["rows"][q]
        rows_big = big["rows"][q]
        ratio = sec_big / sec_1x if sec_1x > 0 else float("inf")
        out[q] = {
            "sec_1x": round(sec_1x, 3),
            "sec_big": round(sec_big, 3),
            "rows_1x": rows_1x,
            "rows_big": rows_big,
            "rows_ratio": round(rows_big / rows_1x, 4) if rows_1x else None,
            "time_ratio_at_big_data": round(ratio, 2),
            "vs_linear_extrapolation": round(ratio / copies, 3),
            "task_max_over_median_big": float(big["task_max_over_median"][q]),
            "pass": ratio <= 2 * copies,
        }
        if "task_max_sec" in big:
            out[q]["task_max_sec_big"] = float(big["task_max_sec"][q])
        if "worst_stage" in big and big["worst_stage"].get(q):
            out[q]["worst_stage_big"] = big["worst_stage"][q]
        # names the stage OWNING the longest task (round 12+): the
        # ratio-based worst_stage can be a different, micro-task stage
        if "max_task_stage" in big and big["max_task_stage"].get(q):
            out[q]["max_task_stage_big"] = big["max_task_stage"][q]
    return out


def passed_secs(run):
    bad = failed(run)
    return sum(v for q, v in run["queries"].items() if q not in bad)


def main():
    mode = sys.argv[1]
    if mode == "sf1":
        c1, big, skew = load(sys.argv[2]), load(sys.argv[3]), load(sys.argv[4])
        out_path, note, skew_note = sys.argv[5], sys.argv[6], sys.argv[7]
        versions = {metric_version(r) for r in (c1, big, skew)}
        if versions != {2}:
            raise SystemExit(
                f"straggler metric version mismatch: {versions} — "
                "refusing to assemble across metric definitions")
        copies = big["copies"]
        queries = per_query(c1, big, copies)
        skew_queries = {}
        skew_bad = failed(skew)
        for q in attempted(skew):
            if q in skew_bad:
                skew_queries[q] = {"pass": False, "failed": True}
                continue
            sec = skew["queries"][q]
            entry = {
                "sec_skew": round(sec, 3),
                "rows_skew": skew["rows"][q],
                "task_max_over_median": float(skew["task_max_over_median"][q]),
            }
            if "task_max_sec" in skew:
                entry["task_max_sec"] = float(skew["task_max_sec"][q])
            if "worst_stage" in skew and skew["worst_stage"].get(q):
                entry["worst_stage"] = skew["worst_stage"][q]
            if "max_task_stage" in skew and skew["max_task_stage"].get(q):
                entry["max_task_stage"] = skew["max_task_stage"][q]
            if q in queries and not queries[q].get("failed"):
                # skewed docs volume is ~1.9x the uniform 10x run
                lin = queries[q]["sec_1x"] * copies * 1.9
                entry["linear_expectation_sec"] = round(lin, 3)
                entry["vs_linear_expectation"] = round(sec / lin, 2)
                entry["pass"] = sec <= 2 * lin
            else:
                entry["pass"] = True
            skew_queries[q] = entry
        doc = {
            "harness": note,
            "cpus": 32,
            "copies": copies,
            "straggler_metric_version": 2,
            "gate": "no query > 2x its linear extrapolation "
                    f"({copies}x the copies=1 time)",
            "queries": queries,
            "total_1x": round(passed_secs(c1), 3),
            "total_10x": round(passed_secs(big), 3),
            "skew_run": {
                "harness": skew_note,
                "gate": "total <= 2x the linear expectation from the uniform "
                        "10x run scaled by the 1.9x data factor; "
                        "task_max_over_median reported as the straggler bound",
                "queries": skew_queries,
            },
        }
    elif mode == "sf10":
        c1, big = load(sys.argv[2]), load(sys.argv[3])
        out_path, note = sys.argv[4], sys.argv[5]
        versions = {metric_version(r) for r in (c1, big)}
        if versions != {2}:
            raise SystemExit(
                f"straggler metric version mismatch: {versions} — "
                "refusing to assemble across metric definitions")
        copies = big["copies"]
        doc = {
            "harness": note,
            "cpus": 32,
            "copies": copies,
            "straggler_metric_version": 2,
            "gate": "no query > 2x its linear extrapolation "
                    f"({copies}x the copies=1 time)",
            "queries": per_query(c1, big, copies),
        }
    else:
        raise SystemExit(f"unknown mode {mode}")
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}")
    for q, e in doc["queries"].items():
        if e.get("failed"):
            print(f"  {q}: FAILED, pass=False")
        else:
            print(f"  {q}: {e['vs_linear_extrapolation']}x of linear, "
                  f"pass={e['pass']}")


if __name__ == "__main__":
    main()
