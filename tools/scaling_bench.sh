#!/bin/bash
# North-rule scaling evidence: the flagship pipeline at local[LO] and
# local[HI], one FRESH graft.Bench JVM per rung (an in-JVM ladder leaks
# JIT warm state into later rungs). Each rung runs Bench pipeline-only
# (SPARK_GRAFT_BENCH_ONLY set to ""), so it keeps Bench's methodology:
# an untimed warm-up pass, min-wall over SPARK_GRAFT_BENCH_PASSES timed
# passes, and the BwProbe gate before and after (bw_gated in the JSON).
# Bench's JSON line is mapped onto the sample keys (cpus, images, sec,
# thr, bw_*) and APPENDED to BENCH/scaling_samples.jsonl;
# BENCH/BASELINE.md is hand-curated from them — this script never
# overwrites it. The default pair is the reference's own axis,
# NUM_THREADS in {1, ALL_CPUS}, on a 4-core host; N keeps a local[1]
# rung near a minute there.
# Usage: tools/scaling_bench.sh [N_IMAGES] [N_PAIRS] [LO] [HI]
set -e
cd "$(dirname "$0")/.."
N=${1:-6000}
PAIRS=${2:-1}
LO=${3:-1}
HI=${4:-4}
export SPARK_GRAFT_BENCH_N=$N
mkdir -p BENCH
out=BENCH/scaling_samples.jsonl
for i in $(seq 1 "$PAIRS"); do
  for cpus in "$LO" "$HI"; do
    line=$(SPARK_GRAFT_CPUS=$cpus SPARK_GRAFT_BENCH_ONLY= sbt -batch "runMain graft.Bench" 2>/dev/null \
      | grep -o '{"metric".*}')
    echo "$line" | python3 -c "
import json, sys, time
d = json.load(sys.stdin)
print(json.dumps({'cpus': int(d['cpus']), 'images': d['pipeline_images'], 'sec': d['pipeline_sec'],
                  'thr': d['pipeline_images_per_sec'], 'bw_pre_gbps': d['bw_pre_gbps'],
                  'bw_post_gbps': d['bw_post_gbps'], 'bw_gated': d['bw_gated'], 'n': $N,
                  'ts': time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime())}))" | tee -a "$out"
  done
done
python3 - "$out" "$LO" "$HI" "$N" <<'PY'
import json, sys
rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
lo, hi, n = int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
# only rungs from the SAME corpus size are comparable (fixed per-job
# overhead scales differently with N)
rows = [r for r in rows if r.get("n") == n]
# pair consecutive lo,hi rungs in file order
pairs, pend = [], None
for r in rows:
    if r["cpus"] == lo:
        pend = r
    elif r["cpus"] == hi and pend is not None:
        pairs.append((pend, r)); pend = None
def bw(r):
    # one probe per side now; rows from before carry a 4- and a 16-thread probe
    if "bw_pre_gbps" in r:
        return f"{r.get('bw_pre_gbps')}->{r.get('bw_post_gbps')}"
    return (f"{r.get('bw_pre_t4_gbps')}/{r.get('bw_pre_t16_gbps')}"
            f"->{r.get('bw_post_t4_gbps')}/{r.get('bw_post_t16_gbps')}")
print(f"\n== {len(pairs)} pair(s) on record at n={n} ({sys.argv[1]}) ==")
for a, b in pairs:
    eff = (b["thr"] / a["thr"]) / (hi / lo)
    gate = "gated" if a.get("bw_gated") and b.get("bw_gated") else "UNGATED"
    print(f"local[{lo}] {a['thr']:.1f} -> local[{hi}] {b['thr']:.1f} img/s  eff={eff:.3f}  [{gate}]"
          f"  bw lo:{bw(a)} hi:{bw(b)}")
gp = [(a, b) for a, b in pairs if a.get("bw_gated") and b.get("bw_gated")]
best_lo = max((a["thr"] for a, _ in gp), default=None)
best_hi = max((b["thr"] for _, b in gp), default=None)
if best_lo and best_hi:
    print(f"min-wall estimator (best GATED rungs): {best_lo:.1f} -> {best_hi:.1f}  eff={(best_hi/best_lo)/(hi/lo):.3f}")
if gp:
    ge = sorted(((b["thr"]/a["thr"])/(hi/lo) for a, b in gp))
    print(f"gated pairs: {len(gp)}, median eff={ge[len(ge)//2]:.3f}, best={ge[-1]:.3f}")
PY
