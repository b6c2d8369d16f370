#!/usr/bin/env python3
"""Run one workload on several seeds and print, for each end-to-end metric,
its median and its spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median, next to the
bound BENCHMARK.json gives it.

    python3 perfbench/spread.py --workload serve_ingest --seeds 1-10
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.exit("seed %d: exit %d\n%s" % (s, p.returncode, p.stdout[-2000:]))
        r = json.loads(last)
        runs.append(r)
        # the host's speed during the run, from the report's context line
        calib = re.search(r"calibration_ms=(\S+)", p.stdout)
        print("seed %d: %s calibration_ms=%s" % (s, {k: v["value"] for k, v in r["metrics"].items()},
                                                 calib.group(1) if calib else "?"), flush=True)
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-12s median %-14.6g spread %.4f  bound %.2f  (third of bound %.4f)"
              % (m["name"], med, spread, m["bound"], m["bound"] / 3))


if __name__ == "__main__":
    main()
