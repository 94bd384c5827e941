#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median and
spread (interquartile range as a share of the median), next to its bound.

    python3 flowbench/spread.py --workload corpus_run --seeds 1-10 [--series 2] [--trace 1]

With --series 2 the seeds run twice, one series after the other, and each
end-to-end metric's second median is compared with the first (the share by
which it got worse, against the metric's bound). The host probe an untraced
run prints on stderr (`calib_end_s`) is reported beside them, so drift of the
host shows apart from drift of the benchmark.
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
CALIB = re.compile(r"host calib_end_s=([0-9.]+)")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def summary(vs):
    med = statistics.median(vs)
    q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
    return med, (q[2] - q[0]) / med if med else 0.0


def series(bench, a, bounds):
    values = {}
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            return None
        res = json.loads(lines[-1])
        calib = CALIB.search(r.stderr)
        if calib:
            values.setdefault("calib_end_s", []).append(float(calib.group(1)))
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items() if k in bounds or a.trace == "1")
            + (f" calib_end_s={calib.group(1)}" if calib else ""), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med, spread = summary(vs)
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
        print(f"{k:40s} median={med:.4g} spread={spread:.3f} bound={b}{flag}", flush=True)
    return values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--series", type=int, default=1)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for i in range(a.series):
        print(f"== {a.workload} series {i + 1}", flush=True)
        v = series(bench, a, bounds)
        if v is None:
            return 1
        runs.append(v)
    for k in runs[0] if len(runs) > 1 else []:
        m = [statistics.median(r[k]) for r in runs]
        worse = (m[-1] - m[0]) / m[0] if m[0] else 0.0
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if worse <= b else "  WORSE")
        print(f"{k:40s} medians " + " ".join(f"{x:.4g}" for x in m)
              + f" second/first-1={worse:+.3f} bound={b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
