"""Steadiness check: two independent sets of runs of one checkout, plus a
held-out seed and the tracing overhead.

    python3 perfbench/steady.py [--workloads ingest_rw curate] [--runs 10]

Each run is a fresh ``run.py`` process, run from the checkout root. Per
workload there are two sets of ``--runs`` plain runs (seeds 1, 2, ... and
1001, 1002, ...), three plain runs on the held-out seed 424242, which
was never used while the benchmark was written, and one traced run. For
every end-to-end metric it prints each set's median and spread (the
distance between the first and third quartile as a share of the
median), how far the second set's median moved from the first, how far
the held-out runs' median is from the first set's median, and the
traced/untraced ratio (the tracing overhead). A metric is steady when,
against its bound from ``BENCHMARK.json``, both spreads, the move of the
median in either direction and the held-out median's distance are all
within the bound. The summary is written to ``.perfbench_out/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import common

HERE = os.path.dirname(os.path.abspath(__file__))
SET_SEEDS = (1, 1001)
HELDOUT_SEED = 424242
# a median, so that one run caught by a burst of host load does not
# decide whether the held-out seed agrees
HELDOUT_RUNS = 3


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=common.ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(metric: dict, before: float, after: float) -> float:
    """How much ``after`` is worse than ``before``, as a share of ``before``
    (negative when it is better)."""
    if not before:
        return 0.0
    change = (after - before) / before
    return change if metric["better"] == "lower" else -change


def host_info() -> dict:
    import platform

    import pyspark

    return {"nproc": common.ncpus(), "spark": pyspark.__version__,
            "python": platform.python_version(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": f"local[{common.ncpus()}]"}


def main() -> int:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    summary, ok = {"host": host_info(), "run_seconds": seconds}, True
    details = {}
    for w in args.workloads:
        sets, details[w] = [], []
        for s, first in enumerate(SET_SEEDS):
            vals: dict[str, list[float]] = {m: [] for m in metrics}
            for seed in range(first, first + args.runs):
                out = one_run(w, seed, seconds, 0)
                r = out["result"]
                details[w].append(out["detail"])
                ok &= r["correct"]
                for m in metrics:
                    vals[m].append(r["metrics"][m]["value"])
                print(f"{w} set{s + 1} seed {seed}: correct={r['correct']} "
                      + " ".join(f"{m}={v[-1]:.4g}" for m, v in vals.items())
                      + f" wall={out['detail']['detail']['run_wall_s']:.1f}", flush=True)
            sets.append(vals)
        held = [one_run(w, HELDOUT_SEED, seconds, 0)["result"] for _ in range(HELDOUT_RUNS)]
        ok &= all(h["correct"] for h in held)
        traced = one_run(w, SET_SEEDS[0], seconds, 1)
        rows = {}
        for m, spec in metrics.items():
            meds = [statistics.median(v[m]) for v in sets]
            spreads = [spread(v[m]) for v in sets]
            drift = worse_by(spec, meds[0], meds[1])
            bound = spec["bound"]
            heldout = [h["metrics"][m]["value"] for h in held]
            row = {"medians": meds, "spreads": spreads, "bound": bound,
                   "second_median_worse_by": drift, "heldout": heldout,
                   "heldout_off_by": abs(statistics.median(heldout) - meds[0]) / meds[0],
                   "traced_over_untraced": traced["detail"]["e2e"][m] / meds[0]}
            row["ok"] = (max(spreads) <= bound and abs(drift) <= bound
                         and row["heldout_off_by"] <= bound)
            ok &= row["ok"]
            row["values"] = [v[m] for v in sets]
            rows[m] = row
            print(f"{w:10s} {m:18s} medians={['%.4g' % x for x in meds]} "
                  f"spreads={['%.3f' % x for x in spreads]} bound={bound} "
                  f"drift={drift:+.3f} heldout_off={row['heldout_off_by']:.3f}"
                  f" traced/untraced={row['traced_over_untraced']:.3f}"
                  + ("" if row["ok"] else "  <-- outside bound"), flush=True)
        summary[w] = rows
    os.makedirs(common.REPORT_DIR, exist_ok=True)
    with open(os.path.join(common.REPORT_DIR, "steady.json"), "w") as f:
        json.dump(summary, f, indent=1)
    with open(os.path.join(common.REPORT_DIR, "steady_runs.json"), "w") as f:
        json.dump(details, f)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
