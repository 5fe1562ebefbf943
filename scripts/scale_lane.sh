#!/bin/bash
# Core-count scaling lane (graft.tools.ScaleSmoke's cores mode): top-20 heaviest
# queries on the copies× scaled corpus at 32 and 8 cores, paired into
# bench_scale_lane.json (8c time / 32c time per query — ratios ≫ 1 on
# the heavy queries are the scaling evidence sf0.1 cannot provide).
#
#   scripts/scale_lane.sh [copies]
set -euo pipefail
cd "$(dirname "$0")/.."
COPIES="${1:-10}"

for C in 32 8; do
  echo "[scale_lane] running at $C cores..."
  SPARK_GRAFT_CPUS=$C sbt -batch \
    "runMain graft.tools.ScaleSmoke /root/testdata/sf0.1 $COPIES cores" \
    2>&1 | tee "/tmp/scale_lane_${C}.log" | grep -E "scale-lane|lane" || true
done

python3 - <<'EOF'
import json, re
def load(c):
    for line in open(f"/tmp/scale_lane_{c}.log"):
        line = line.strip()
        if line.startswith('{"lane":"scale"'):
            return json.loads(line)
    raise SystemExit(f"no lane JSON for {c} cores")
hi, lo = load(32), load(8)
out = {"copies": hi["copies"], "cpus_high": 32, "cpus_low": 8, "per_query": {}}
for q, t in hi["queries"].items():
    tl = lo["queries"].get(q, -1.0)
    out["per_query"][q] = {
        "sec_32c": t, "sec_8c": tl,
        "ratio_8c_over_32c": round(tl / t, 2) if t > 0 and tl > 0 else None}
ratios = [v["ratio_8c_over_32c"] for v in out["per_query"].values()
          if v["ratio_8c_over_32c"]]
out["median_ratio"] = sorted(ratios)[len(ratios)//2] if ratios else None
json.dump(out, open("bench_scale_lane.json", "w"), indent=1)
print("[scale_lane] wrote bench_scale_lane.json, median 8c/32c ratio:",
      out["median_ratio"])
EOF
