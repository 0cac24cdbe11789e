"""Run-to-run spread of the end-to-end metrics: runs `run.py` once per
seed on each workload and prints, per metric, the median over the runs
and the inter-quartile distance as a share of it (the steadiness check
a metric's bound is set against).

    python3 perfbench/spread.py --workloads translate search \
        --seeds 1-10 [--seconds 5] [--out FILE.json]
"""

import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--out")
    a = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    report = {}
    for w in a.workloads:
        values, details = {}, []
        for s in a.seeds:
            r = subprocess.run(
                [sys.executable, run, "--workload", w, "--seed", str(s),
                 "--seconds", a.seconds, "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if r.returncode != 0:
                sys.exit("%s seed %d failed (exit %d)" % (w, s, r.returncode))
            res = json.loads(r.stdout.strip().splitlines()[-1])
            details.append(json.loads(r.stderr.strip().splitlines()[-1]))
            if not res["correct"]:
                sys.exit("%s seed %d: incorrect output" % (w, s))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        report[w] = {k: {"median": stats.median(v), "spread": stats.spread(v),
                         "values": v} for k, v in values.items()}
        report[w]["runs"] = details
        for k, v in sorted(values.items()):
            v = report[w][k]
            print("%-10s %-18s median %-14.6g spread %.4f" % (
                w, k, v["median"], v["spread"]))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
