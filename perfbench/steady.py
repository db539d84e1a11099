"""Steadiness mode: run workloads repeatedly, one seed per run, and report
each metric's median, quartiles and spread (quartile distance over the
median), the figures the bounds in ``BENCHMARK.json`` are set from.

    python3 perfbench/steady.py --workloads cdc_mixed analytics \\
        --seeds 1-10 --seconds 10 > report.json

Runs are sequential, each in its own process, from the checkout root.
Besides the result-line metrics it summarises each workload's named
metrics from the detail line (``commit_p50_s``, ``asof_p50_s``,
``dedup_docs_per_s`` ...), printed with their units on standard error;
with ``--seeds 1`` and all four workloads it is the one command that
prints every named end-to-end metric:

    python3 perfbench/steady.py --seeds 1 --seconds 10 --workloads \\
        bulk_ingest cdc_mixed temporal_analytics corpus_dedup
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

from run import NAMED_LATENCY, tail

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "n": len(values)}


def pooled_tails(runs: list[dict]) -> dict:
    """Tail latency per named step family over the step times of all
    runs: a single run has too few commits or heavy queries for any
    percentile above the median to keep ten samples beyond it."""
    out = {}
    for name, kinds in NAMED_LATENCY:
        xs = [x for r in runs for k in kinds
              for x in r["detail"]["samples_s"].get(k, [])]
        qt = tail(xs) if xs else None
        if qt:
            out[f"{name}_tail_s"] = {"value": qt[1], "unit": "s",
                                     "q": round(qt[0], 4), "n": len(xs)}
    return out


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["detail"] = json.loads(lines[-2])
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    report = {}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            r = run_once(w, s, args.seconds)
            runs.append(r)
            print(f"{w} seed={s} wall={r['wall_s']:.1f}s "
                  f"correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
        names = runs[0]["metrics"]
        report[w] = {
            "failed": sum(r["failed"] for r in runs),
            "wall_s": summary([r["wall_s"] for r in runs]),
            "metrics": {k: summary([r["metrics"][k]["value"] for r in runs])
                        for k in names},
            # a per-run tail is absent from runs with too few samples
            "named": {k: {**summary([r["detail"]["named"][k]["value"]
                                     for r in runs
                                     if k in r["detail"]["named"]]),
                          "unit": unit}
                      for k, unit in sorted({
                          (k, v["unit"]) for r in runs
                          for k, v in r["detail"]["named"].items()})},
            "pooled_tails": pooled_tails(runs),
            "runs": runs,
        }
        for k, v in sorted(report[w]["named"].items()):
            print(f"  {w} {k} = {v['median']:.4g} {v['unit']} "
                  f"(median of {v['n']} runs, spread {v['spread']:.3f})",
                  file=sys.stderr)
        for k, v in sorted(report[w]["pooled_tails"].items()):
            print(f"  {w} {k} = {v['value']:.4g} s (p{100 * v['q']:.0f} "
                  f"of {v['n']} steps pooled over the runs)",
                  file=sys.stderr)
    print(json.dumps(report, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
