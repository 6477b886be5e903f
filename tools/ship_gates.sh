#!/usr/bin/env bash
# One-shot pre-ship gate runner: full pytest (slow tier included),
# driver-style oracle sweeps with dtype parity at sf0.01 and plain at
# sf0.1, then one untraced perfbench run per workload, each of which
# must answer every operation correctly. Exits non-zero on the first
# red gate. Artifacts land in /tmp/ship_gates.*
set -u
cd "$(dirname "$0")/.."

echo "== gate 1/4: full pytest (INCLUDING the slow tier) =="
# pytest.ini deselects `slow` by default so the driver's bounded run
# completes (r13 verdict item #2); the ship gate runs everything.
out=$(python -m pytest tests/ -q -m "" 2>&1 | tail -2)
echo "$out"
echo "$out" | grep -qiE "failed|error" && { echo "PYTEST RED"; exit 1; }
echo "$out" | grep -qE "[0-9]+ passed" || { echo "PYTEST RED"; exit 1; }

echo "== gate 2/4: sf0.01 sweep --dtypes =="
python tools/sweep_oracle.py --dtypes /root/testdata/sf0.01 \
    > /tmp/ship_gates.sf001.jsonl 2>/dev/null \
    || { tail -1 /tmp/ship_gates.sf001.jsonl; echo "SWEEP sf0.01 RED"; exit 1; }
tail -1 /tmp/ship_gates.sf001.jsonl

echo "== gate 3/4: sf0.1 sweep =="
python tools/sweep_oracle.py /root/testdata/sf0.1 \
    > /tmp/ship_gates.sf01.jsonl 2>/dev/null \
    || { tail -1 /tmp/ship_gates.sf01.jsonl; echo "SWEEP sf0.1 RED"; exit 1; }
tail -1 /tmp/ship_gates.sf01.jsonl

echo "== gate 4/4: perfbench, one untraced run per workload =="
for w in lookup scan ingest; do
    python3 perfbench/run.py --workload "$w" --seed 1 --seconds 6 --trace 0 \
        > "/tmp/ship_gates.perfbench.$w" \
        || { echo "PERFBENCH $w RED"; exit 1; }
    python3 - "$w" "/tmp/ship_gates.perfbench.$w" <<'EOF' || exit 1
import json
import sys

w, path = sys.argv[1:]
m = json.loads(open(path).read().strip().splitlines()[-1])["metrics"]
frac = m["correct_frac"]["value"]
print(f"perfbench {w}: correct_frac {frac}, "
      f"read_p50_ms {m['read_p50_ms']['value']}")
assert frac == 1, f"PERFBENCH {w} RED: correct_frac {frac}"
EOF
done
echo "== ALL GATES GREEN =="
