#!/usr/bin/env python3
"""Merge the arms of tools/paired_bench.sh into one paired record.

Usage:
  paired_report.py out.json old_sha new_sha A1.json B1.json B2.json A2.json
  paired_report.py out.json old_sha new_sha A1.json B.json A2.json

Arm records are given in the order they ran. With four arms (A1 -> B1 ->
B2 -> A2, the schedule paired_bench.sh runs) both sides sit at the same
mean position in the sitting, so a linear within-sitting box trend hits
them equally; a curved trend can still favour one side, which is what the
drift bands below are for. Records made before this schedule ran A1 ->
B1 -> A2 -> B2, which put the new side later on average. Per query, on
the suite's standard MIN-WALL basis:

  - `ratio` — min(B1, B2) / min(A1, A2): the headline point estimate.
  - `drift_old` / `drift_new` — each side's same-code relative gap
    between its two arms. Any |ratio - 1| inside max(drift_old,
    drift_new) is noise by the record's own evidence; only deltas
    clearing it are attributable to the code change.

With three arms (the legacy maiden-run layout A1 -> B -> A2) the lone B
arm is compared both against min(A1, A2) (`ratio_vs_best_old`,
conservative for improvement claims) and against the adjacent A1
(`ratio_adjacent`, drift-minimizing), since a monotone trend biases the
former — see paired_r17's maiden analysis.

Cross-round medians per arm are retained alongside the mins so a reader
can check round-structure effects. Each arm's engine configuration
(`<arm>_env.json` beside its record, written by paired_bench.sh: commit,
nproc, SPARK_GRAFT_CPUS/MASTER, bench JVM and sbt -Xmx, host load at the
start and end of the arm) goes into `arms`; an arm without one says so.
Where an arm's per-round diag (`<arm>_diag.json`, also copied by
paired_bench.sh) carries them, each query gets that arm's min `build_ms`
(time until the query function returned) and max `build_jobs` (jobs
started before it returned) over its rounds, keyed by arm; an arm whose
bench predates the two fields reads null.
"""
import json
import os
import sys


def arm_env(path):
    env = os.path.splitext(path)[0] + "_env.json"
    if not os.path.exists(env):
        return {"note": "no engine configuration recorded for this arm"}
    with open(env) as f:
        return json.load(f)


def arm_diag(path):
    diag = os.path.splitext(path)[0] + "_diag.json"
    if not os.path.exists(diag):
        return {}
    with open(diag) as f:
        return json.load(f).get("rounds_per_query", {})


def build_field(diag, q, field, pick):
    vals = [c[field] for c in diag.get(q, []) if c.get(field, -1) >= 0]
    return pick(vals) if vals else None


def mins(rec):
    # min-wall per query; fall back to medians for legacy records
    return rec.get("queries_min") or rec["queries"]


def main() -> None:
    out, old_sha, new_sha = sys.argv[1:4]
    arm_paths = sys.argv[4:]
    arms = [json.load(open(p)) for p in arm_paths]
    diags = [arm_diag(p) for p in arm_paths]
    four = len(arms) == 4
    if four:
        old_arms, new_arms = [arms[0], arms[3]], [arms[1], arms[2]]
        arm_order = ["old_a1", "new_b1", "new_b2", "old_a2"]
    else:
        old_arms, new_arms = [arms[0], arms[2]], [arms[1]]
        arm_order = ["old_a1", "new", "old_a2"]

    queries = {}
    all_qs = sorted({q for a in arms for q in a.get("queries", {})})
    for q in all_qs:
        # a query that THREW in an arm still posts a (near-zero, partial)
        # wall into queries_min with the failure recorded only in `errors`
        # (the same hazard merge_scaling.py guards) — never let such a wall
        # masquerade as a measurement, let alone an attributable ratio
        err_arms = [name for name, a in zip(arm_order, arms)
                    if q in a.get("errors", {})]
        if err_arms:
            queries[q] = {"note": f"query errored in arm(s) {err_arms} — "
                                  "no ratio; see the arm records' errors"}
            continue
        if any(q not in mins(a) for a in old_arms):
            news_only = [mins(a)[q] for a in new_arms if q in mins(a)]
            queries[q] = {"new_min": min(news_only) if news_only else None,
                          "note": "query absent at old ref"}
            continue
        if any(q not in mins(a) for a in new_arms):
            queries[q] = {"note": "query absent from a new arm's record — "
                                  "no ratio"}
            continue
        olds = [mins(a)[q] for a in old_arms]
        news = [mins(a)[q] for a in new_arms]
        best_old, best_new = min(olds), min(news)
        entry = {
            "old_min_arms": olds,
            "new_min_arms": news,
            "old_median_arms": [a["queries"].get(q) for a in old_arms],
            "new_median_arms": [a["queries"].get(q) for a in new_arms],
            "drift_old": (round(abs(olds[0] - olds[1]) / min(olds), 4)
                          if min(olds) else None),
        }
        if four:
            entry["ratio"] = round(best_new / best_old, 4) if best_old else None
            entry["drift_new"] = (round(abs(news[0] - news[1]) / min(news), 4)
                                  if min(news) else None)
        else:
            entry["ratio_vs_best_old"] = (round(best_new / best_old, 4)
                                          if best_old else None)
            entry["ratio_adjacent"] = (round(best_new / olds[0], 4)
                                       if olds[0] else None)
        build_ms = {name: build_field(d, q, "build_ms", min)
                    for name, d in zip(arm_order, diags)}
        if any(v is not None for v in build_ms.values()):
            entry["build_ms_arms"] = build_ms
            entry["build_jobs_arms"] = {name: build_field(d, q, "build_jobs", max)
                                        for name, d in zip(arm_order, diags)}
        queries[q] = entry
    with_r = [r for r in queries.values() if "drift_old" in r]
    a2_faster = sum(1 for r in with_r
                    if r["old_min_arms"][1] < r["old_min_arms"][0])
    rec = {
        "metric": "paired_same_day_bench",
        "old_sha": old_sha,
        "new_sha": new_sha,
        "sf": arms[1].get("sf"),
        "runs_per_arm": arms[1].get("runs"),
        "arm_order": arm_order,
        "arms": {name: arm_env(p) for name, p in zip(arm_order, arm_paths)},
        "basis": "cold-cache",
        "basis_detail": (
            "interleaved arms in one sitting on one box, min-wall per arm; "
            + ("ratio = min(B1,B2)/min(A1,A2) over arms run A1 B1 B2 A2, "
               "so a linear box trend hits both sides equally; "
               "drift_old/drift_new are each side's same-code arm gap, and "
               "only |ratio-1| clearing max(drift) is attributable to the "
               "code change"
               if four else
               "ratio_vs_best_old = new/min(A1,A2) (conservative for "
               "improvement claims), ratio_adjacent = new/A1 "
               "(drift-minimizing point estimate), drift_old the same-code "
               "A1-vs-A2 gap that bounds attributable deltas")
        ),
        "box_trend": (
            f"A2 faster than A1 on {a2_faster}/{len(with_r)} queries — "
            + ("box state trended WITHIN the sitting"
               + ("" if four else "; prefer ratio_adjacent")
               if with_r and a2_faster >= 0.8 * len(with_r)
               else "no monotone within-sitting trend")
        ),
        "queries": queries,
    }
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    for q, r in queries.items():
        if "drift_old" not in r:
            nm = r.get("new_min")
            print(f"{q}: new {nm:.3f}s ({r['note']})" if nm is not None
                  else f"{q}: {r['note']}")
        elif four:
            print(f"{q}: old_min {min(r['old_min_arms']):.3f}s "
                  f"new_min {min(r['new_min_arms']):.3f}s ratio {r['ratio']} "
                  f"(drift old {r['drift_old']} new {r['drift_new']})")
        else:
            print(f"{q}: old_min {min(r['old_min_arms']):.3f}s "
                  f"new_min {min(r['new_min_arms']):.3f}s "
                  f"vs_best {r['ratio_vs_best_old']} "
                  f"adj {r['ratio_adjacent']} (drift {r['drift_old']})")
    print(rec["box_trend"])


if __name__ == "__main__":
    main()
