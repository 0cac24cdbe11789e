#!/usr/bin/env python3
"""Format a graft.Bench JSON line as the BASELINE.md measured table
(two query columns side by side), and optionally refresh the
machine-readable gate file the Bench/StageBench gates actually read.

Usage: baseline_table.py <bench.json> [--json-out baseline_rows.json]

When the input carries graft.Bench's per-query `layers`, it also prints
the sweep's split (total planning, job union, driver gap and task time)
and the 20 queries with the largest driver gap.

With --json-out, the target file's "queries" map is REPLACED by this
bench run's per-query numbers (other keys, e.g. stage_budgets, are
preserved). Re-baselines must go through this tool so the markdown
table and the gate JSON are cut from the same measurement — round 13
regex-scraped the markdown at gate time and mis-armed 70/238 queries
(see graft.BenchGate's scaladoc for the post-mortem)."""
import json, math, re, sys

d = json.load(open(sys.argv[1]))
# numeric query order: q11b sorts with q11, not into the q1xx block
q = sorted(d["queries"].items(),
           key=lambda kv: (int(re.match(r"q(\d+)", kv[0]).group(1)),
                           kv[0]))
half = math.ceil(len(q) / 2)
left, right = q[:half], q[half:]
print("| query | sec | query | sec |")
print("|---|---|---|---|")
for i in range(half):
    l = f"| {left[i][0]} | {left[i][1]:.2f} |"
    r = (f" {right[i][0]} | {right[i][1]:.2f} |"
         if i < len(right) else "  |  |")
    print(l + r)
print()
print(f"total: {d['value']:.1f} s over {len(q)} queries")

# the sweep's split, from the per-query layers graft.Bench writes to
# target/bench.json (wall = plan + job union + driver gap per query)
layers = d.get("layers", {})
if layers:
    def total(key):
        return sum(v[key] for v in layers.values())
    print()
    print("| wall_s | plan_s | job union_s | driver_gap_s | task_s | jobs |")
    print("|---|---|---|---|---|---|")
    print(f"| {total('wall_s'):.1f} | {total('plan_s'):.1f} "
          f"| {total('union_s'):.1f} | {total('driver_gap_s'):.1f} "
          f"| {total('task_s'):.1f} | {total('jobs'):.0f} |")
    print()
    print("top 20 by driver gap:")
    print()
    print("| query | wall_s | plan_s | driver_gap_s | task_s | jobs | stages |")
    print("|---|---|---|---|---|---|---|")
    for k, v in sorted(layers.items(),
                       key=lambda kv: -kv[1]["driver_gap_s"])[:20]:
        print(f"| {k} | {v['wall_s']:.2f} | {v['plan_s']:.2f} "
              f"| {v['driver_gap_s']:.2f} | {v['task_s']:.2f} "
              f"| {v['jobs']} | {v['stages']} |")

if "--json-out" in sys.argv:
    path = sys.argv[sys.argv.index("--json-out") + 1]
    try:
        out = json.load(open(path))
    except FileNotFoundError:
        out = {}
    # A FILTERED bench run (SPARK_GRAFT_BENCH_FILTER / an ml_* run)
    # must not silently wipe the other ~237 gate rows and disarm the
    # sweep-outlier gate (round-14 advice). Refuse shrinking re-cuts
    # unless forced.
    if (len(d["queries"]) < len(out.get("queries", {}))
            and "--force" not in sys.argv):
        sys.exit(f"refusing: input has {len(d['queries'])} query rows "
                 f"but {path} holds {len(out['queries'])} — a filtered "
                 "run would wipe the other gate rows (pass --force to "
                 "override)")
    out["queries"] = {k: round(v, 3) for k, v in sorted(d["queries"].items())}
    json.dump(out, open(path, "w"), indent=1)
    print(f"(wrote {len(d['queries'])} gate rows to {path})",
          file=sys.stderr)
