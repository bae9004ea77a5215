#!/usr/bin/env python3
"""Compose shufflesweep100.json from the per-partition-count bench records
of a shuffle-partition sweep (one Bench subset run per pinned
SPARK_GRAFT_SHUFFLE_PARTITIONS value): the char family at the 100x
slice with spark.sql.shuffle.partitions PINNED (AQE coalescing off) at each
swept count, 3 forked rounds per point under the ForkedRounds disturbance
guard — whose per-point outcome (discards, totals, residual flag) is
carried INTO the composed record (r15, verdict item 4).

Per query per count: min wall across the forked rounds, plus that round's
spill and shuffle-write bytes from the diag record — per-partition working
set = shuffle_write / partitions, so the smallest count whose spill reads
zero locates the no-spill knee, and shuffle_write/knee is the
bytes-per-partition threshold SCALE.md's sizing rule quotes.

Usage: shuffle_sweep_report.py <out.json> <P> <P> ...
Reads /tmp/m_shufsweep_<P>.json and /tmp/m_shufsweep_diag_<P>.json.
"""
import json
import sys

out_path = sys.argv[1]
parts = [int(p) for p in sys.argv[2:]]

queries = {}
guard = {}  # per swept P: the ForkedRounds disturbance-guard outcome
runs_by_p = {}
for P in parts:
    rec = json.load(open(f"/tmp/m_shufsweep_{P}.json"))
    diag = json.load(open(f"/tmp/m_shufsweep_diag_{P}.json"))
    runs_by_p[P] = rec.get("runs")
    # each swept point runs under the SAME ForkedRounds driver as the
    # bench, so a transient child death (the r14 P=64 OOM lived only in
    # SCALE.md prose) is visible IN the record: discarded rounds, their
    # totals, and any residual-broken flag are carried per point
    guard[str(P)] = {
        "rounds_discarded": rec.get("rounds_discarded", 0),
        "discarded_totals": rec.get("discarded_totals", []),
        "residual_broken_round": rec.get("residual_broken_round", False),
        "round_totals": rec.get("round_totals", []),
    }
    for name, wall_min in rec["queries_min"].items():
        rounds = diag["rounds_per_query"].get(name, [])
        # the diag row of the MIN-wall round — the round the wall number is
        # from, so spill/shuffle attribution matches the quoted time. A
        # failed round's diag row carries wall:-1.0 (all fields -1), so only
        # wall > 0 rows qualify — min() over the raw list would pick the
        # failed round and the attribution would no longer match wall_min.
        ok = [r for r in rounds if r.get("wall", -1) > 0]
        best = min(ok, key=lambda r: r["wall"]) if ok else {}
        queries.setdefault(name, {})[str(P)] = {
            "wall_min": round(wall_min, 3),
            "wall_median": round(rec["queries"][name], 3),
            "spill_disk": best.get("spill_disk", -1),
            "spill_mem": best.get("spill_mem", -1),
            "shuffle_write": best.get("shuffle_write", -1),
            # executor task-metric CPU/GC of the min-wall round: the spill
            # cost is partly CPU (repeated spill-merge cycles), so the rule's
            # CPU claim must be quotable from THIS committed record
            "task_cpu_ms": best.get("task_cpu_ms", -1),
            "task_gc_ms": best.get("task_gc_ms", -1),
            "bytes_per_partition": (
                best.get("shuffle_write", 0) // P if best else -1),
        }

rows = {}
for name, by_p in queries.items():
    knee = None
    for P in sorted(by_p, key=int):
        c = by_p[P]
        if c["spill_disk"] == 0 and c["spill_mem"] == 0 and knee is None:
            knee = int(P)
    rows[name] = {
        "by_partitions": by_p,
        "no_spill_knee_partitions": knee,
        "knee_bytes_per_partition": (
            by_p[str(knee)]["bytes_per_partition"] if knee else None),
    }

# a record missing 'runs' contributes None — sort-key it rather than let
# a None-vs-int comparison crash before the friendly refusal fires
distinct_runs = sorted({v for v in runs_by_p.values()},
                       key=lambda v: (v is None, v))
if len(distinct_runs) != 1 or distinct_runs[0] is None:
    sys.exit(f"swept points disagree on (or lack) runs ({runs_by_p}) — "
             "re-run the stragglers before composing one record")

summary = {
    "metric": "shuffle_partition_sweep_100x",
    "sf": "/tmp/graft_scale/x100",
    "partitions_swept": parts,
    # machine-readable token first (spread_report-style tooling classifies
    # on it); the sweep-specific footing lives in basis_detail
    "basis": "cold-cache",
    "basis_detail": ("spark.sql.shuffle.partitions pinned per point, AQE "
                     "partition coalescing disabled (Bench.buildSession), "
                     f"local[32], {distinct_runs[0]} forked rounds under the "
                     "ForkedRounds disturbance guard, min-wall round quoted"),
    "runs_per_point": distinct_runs[0],
    "guard_per_point": guard,
    "queries": rows,
}
json.dump(summary, open(out_path, "w"), indent=1)
for name, r in sorted(rows.items()):
    line = " ".join(
        f"P{P}:{r['by_partitions'][P]['wall_min']:.1f}s/"
        f"{r['by_partitions'][P]['spill_disk'] // (1 << 20)}MBspill"
        for P in sorted(r["by_partitions"], key=int))
    print(f"{name:25s} knee={r['no_spill_knee_partitions']} {line}")
