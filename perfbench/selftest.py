#!/usr/bin/env python3
"""Self-test of the benchmark, at a tiny input size.

Usage, from the repository root:

    python3 perfbench/selftest.py

For every workload it runs seed 1 untraced and traced, and seed 2 untraced,
and asserts that:
- each run exits 0 with a correct result, no failed operation and every
  output check of the workload passed;
- the untraced result carries exactly the end-to-end metrics of
  BENCHMARK.json and the traced result exactly the per-layer metrics, with
  their units, and the layers the workload calls report non-zero figures;
- the inputs record describes the input (counts, cache fit, host, commit);
- the same seed synthesizes the same inputs and another seed other inputs.
Finally it runs the command in a directory that holds only BENCHMARK.json
and the benchmark directory, and asserts that it fails without a result.
"""
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seconds", "1", "--scale", "0.02"]

CHECKS = {
    "tile_base": ["check.tile_base.tiles_equal_footprint_cover",
                  "check.tile_base.checksum_digest_stable"],
    "pip_join": ["check.pip_join.sample_equals_brute_force",
                 "check.pip_join.pair_digest_stable"],
    "tile_ingest": ["check.tile_ingest.store_equals_one_shot_base_tiles",
                    "check.tile_ingest.store_digest_stable"],
}
# per-layer figures that must be non-zero because the workload calls the layer
ON_PATH = {
    "tile_base": ["core.decode_ns", "expr.warp_ns", "expr.merge_ns", "tile.match_ratio",
                  "tile.pairs_per_image", "ops.probe.wall_s", "ops.base_tiles.wall_s",
                  "ops.base_tiles.shuffle_write_bytes", "self.expr_s", "self.ops_s", "gen.s"],
    "pip_join": ["core.pip_ns", "sql.plan_s", "join.cells_per_poly", "join.candidates_per_pair",
                 "ops.join.wall_s", "ops.join.task_s", "self.sql_s", "self.ops_s", "gen.s"],
    "tile_ingest": ["core.decode_ns", "expr.warp_ns", "expr.merge_ns", "streaming.wave_s",
                    "io.bytes_written", "io.rewrite_amplification", "ops.base_tiles.wall_s",
                    "self.streaming_s", "gen.s"],
}
INPUT_KEYS = {
    "tile_base": ["images", "tile.match_ratio", "tile.pairs_per_image"],
    "pip_join": ["points", "polygons", "hot_point_share", "join_operators"],
    "tile_ingest": ["images", "waves"],
}
HOST_KEYS = ["persisted_input_bytes", "storage_memory_bytes", "fits_in_storage_memory",
             "nproc", "heap_bytes", "commit", "input_digest"]

failures = []


def expect(cond, what):
    if not cond:
        failures.append(what)
        print(f"  FAIL {what}", flush=True)


def run(cwd, workload, seed, trace):
    t0 = time.time()
    res = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--trace", str(trace), *TINY], cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    return res, lines, time.time() - t0


def check_run(workload, seed, trace):
    res, lines, wall = run(ROOT, workload, seed, trace)
    tag = f"{workload} seed {seed} trace {trace}"
    print(f"{tag}: exit {res.returncode} in {wall:.0f} s", flush=True)
    expect(res.returncode == 0, f"{tag}: exit code {res.returncode}\n{res.stderr[-3000:]}")
    if len(lines) < 3:
        expect(False, f"{tag}: expected inputs, summary and result lines")
        return {}
    inputs, summary, result = lines[-3]["inputs"], lines[-2]["summary"], lines[-1]
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
    expect(result["correct"] is True and result["failed"] == 0, f"{tag}: result not correct")
    expect(result["attempted"] >= 1, f"{tag}: nothing attempted")
    expect(summary["failed_share"] == 0.0 and not summary["failed_ops"], f"{tag}: failed ops")
    for c in CHECKS[workload]:
        expect(c in summary["checks_passed"], f"{tag}: check {c} did not pass")

    spec = SPEC["per_layer" if trace else "end_to_end"]
    metrics = result["metrics"]
    expect(list(metrics) == [m["name"] for m in spec], f"{tag}: metric names differ from BENCHMARK.json")
    for m in spec:
        got = metrics.get(m["name"], {})
        expect(got.get("unit") == m["unit"], f"{tag}: unit of {m['name']}")
        expect(isinstance(got.get("value"), (int, float)), f"{tag}: value of {m['name']}")
    if trace:
        for name in ON_PATH[workload]:
            expect(metrics.get(name, {}).get("value", 0) != 0, f"{tag}: {name} is zero")
        expect(Path(ROOT, inputs.get("trace_file", "missing")).is_file(), f"{tag}: trace file")
    else:
        for m in spec:
            expect(metrics.get(m["name"], {}).get("value", 0) > 0, f"{tag}: {m['name']} not positive")
    for k in INPUT_KEYS[workload] + HOST_KEYS:
        expect(k in inputs, f"{tag}: inputs record lacks {k}")
    return inputs


def check_bare_directory():
    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("target", "project/target"))
    res, lines, wall = run(bare, SPEC["workloads"][0]["name"], 1, 0)
    print(f"bare directory: exit {res.returncode} in {wall:.0f} s", flush=True)
    expect(res.returncode != 0, "bare directory: exit code 0")
    expect(not any("correct" in l for l in lines), "bare directory: printed a result")
    expect(wall < 180, "bare directory: took 180 s or more")
    shutil.rmtree(bare, ignore_errors=True)


def main():
    for w in (w["name"] for w in SPEC["workloads"]):
        a = check_run(w, 1, 0)
        b = check_run(w, 1, 1)
        c = check_run(w, 2, 0)
        if a and b and c:
            expect(a["input_digest"] == b["input_digest"], f"{w}: seed 1 inputs differ between runs")
            expect(a["input_digest"] != c["input_digest"], f"{w}: seeds 1 and 2 give the same inputs")
    check_bare_directory()
    print("self-test:", "FAILED" if failures else "passed", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
