#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
spread: the inter-quartile distance of its values as a share of their
median (statistics.quantiles, n=4), next to the metric's bound in
BENCHMARK.json.

Usage, from the repository root:

    python3 perfbench/spread.py --seeds 1 2 3 4 5 [--workloads pip_join] [--log runs.jsonl]

Each run's result line is appended to --log (default
.bench_build/spread.jsonl), so two sets of runs can be compared with
--compare FIRST.jsonl SECOND.jsonl (medians of each metric per workload).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, seed, seconds):
    t0 = time.time()
    res = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {res.returncode}")
    out = lines[-1]
    out.update(workload=workload, seed=seed, wall_s=round(time.time() - t0, 1),
               pass_s=lines[-2]["summary"]["pass_s"], setups_s=lines[-2]["summary"]["setup_s"])
    return out


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def load(path):
    rows = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    by = {}
    for r in rows:
        for m, v in r["metrics"].items():
            by.setdefault((r["workload"], m), []).append(v["value"])
    return by


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--log", default=str(ROOT / ".bench_build" / "spread.jsonl"))
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    bounds = {m["name"]: m for m in SPEC["end_to_end"]}

    if a.compare:
        first, second = load(a.compare[0]), load(a.compare[1])
        for key in sorted(first):
            m1, m2 = statistics.median(first[key]), statistics.median(second.get(key, [float("nan")]))
            spec = bounds[key[1]]
            worse = (m2 - m1) / m1 if spec["better"] == "lower" else (m1 - m2) / m1
            flag = "OK" if worse <= spec["bound"] else "WORSE"
            print(f"{key[0]:12s} {key[1]:22s} {m1:14.4f} {m2:14.4f} worse-by {worse:+.4f} "
                  f"(bound {spec['bound']}) {flag}")
        return 0

    log = Path(a.log)
    log.parent.mkdir(parents=True, exist_ok=True)
    for w in a.workloads:
        values = {}
        for seed in a.seeds:
            out = run(w, seed, SPEC["run_seconds"])
            with log.open("a") as f:
                f.write(json.dumps(out) + "\n")
            for m, v in out["metrics"].items():
                values.setdefault(m, []).append(v["value"])
            print(f"{w} seed {seed}: {out['wall_s']} s "
                  + " ".join(f"{m}={v['value']:.4g}" for m, v in out["metrics"].items()), flush=True)
        for m, vs in values.items():
            s = spread(vs) if len(vs) >= 2 else float("nan")
            b = bounds[m]["bound"]
            print(f"{w:12s} {m:22s} median {statistics.median(vs):14.4f} spread {s:.4f} "
                  f"bound {b} ({'ok' if s < b / 3 else 'WIDE'})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
