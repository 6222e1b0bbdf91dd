#!/usr/bin/env bash
# A/B-compare one graftbench workload between a git revision and the
# working tree, on alternated runs so slow drift in host load hits both.
# Usage: tools/ab_bench.sh <git-rev> <workload> <seed>...
#   e.g. tools/ab_bench.sh HEAD ingest 1 2 3
# For each seed it runs `python3 graftbench/run.py --seconds 5 --trace 0`
# in <git-rev> (extracted with `git archive` into a temporary directory,
# built there on first use) and in the working tree, alternating which
# side goes first from one seed to the next, and
# prints each end-to-end metric's median over the seeds as
# `<rev> -> working tree`, each side's spread (IQR/median over its runs,
# `n/a` below two runs) and every run's `correct`/`failed`. A delta
# smaller than the <rev> side's own IQR is marked `within spread`: the
# two sides are not told apart by these runs.
# It changes nothing under graftbench/; each run's result line is kept in
# the temporary directory until the script exits.
set -euo pipefail
here="$(cd "$(dirname "$0")/.." && pwd)"
rev="${1:?usage: tools/ab_bench.sh <git-rev> <workload> <seed>...}"
workload="${2:?usage: tools/ab_bench.sh <git-rev> <workload> <seed>...}"
shift 2
[ "$#" -gt 0 ] || { echo "usage: tools/ab_bench.sh <git-rev> <workload> <seed>..." >&2; exit 2; }
tmp="$(mktemp -d)"
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/base"
git -C "$here" archive "$rev" | tar -x -C "$tmp/base"

run() { # <tree> <seed> <out>
  (cd "$1" && python3 graftbench/run.py --workload "$workload" --seed "$2" \
    --seconds 5 --trace 0) > "$3.log" 2> "$3.err" || true
  tail -n 1 "$3.log" > "$3"
}
i=0
for seed in "$@"; do
  # Alternate which side runs first, so neither always runs on a warmer host.
  if [ $((i % 2)) -eq 0 ]; then sides="base change"; else sides="change base"; fi
  for side in $sides; do
    echo "[ab_bench] seed $seed: $side" >&2
    if [ "$side" = base ]; then tree="$tmp/base"; else tree="$here"; fi
    run "$tree" "$seed" "$tmp/$side-$seed.json"
  done
  i=$((i + 1))
done

python3 - "$tmp" "$rev" "$@" <<'EOF'
import json, statistics, sys
tmp, rev, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]

def load(side, seed):
    try:
        with open(f"{tmp}/{side}-{seed}.json") as f:
            return json.loads(f.read())
    except (OSError, ValueError):
        return None

runs = {side: [load(side, s) for s in seeds] for side in ("base", "change")}
for side, label in (("base", rev), ("change", "working tree")):
    for seed, r in zip(seeds, runs[side]):
        if r is None:
            print(f"{label} seed {seed}: no result")
        else:
            print(f"{label} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}")
names = sorted({k for side in runs.values() for r in side if r for k in r["metrics"]})

def iqr(vals):
    if len(vals) < 2:
        return None
    q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q3 - q1

def rel(spread, med):
    return f"{spread / med:.2f}" if spread is not None and med else "n/a"

for name in names:
    vals = {side: [r["metrics"][name]["value"] for r in runs[side]
                   if r and name in r["metrics"]] for side in runs}
    med = {side: statistics.median(v) if v else float("nan")
           for side, v in vals.items()}
    unit = next(r["metrics"][name]["unit"] for side in runs.values()
                for r in side if r and name in r["metrics"])
    b, c = med["base"], med["change"]
    bs, cs = iqr(vals["base"]), iqr(vals["change"])
    delta = f"{(c - b) / b:+.1%}" if b else "n/a"
    note = "  within spread" if bs is not None and abs(c - b) < bs else ""
    print(f"{name:12s} {b:12.4g} (iqr/med {rel(bs, b):>4s}) -> "
          f"{c:12.4g} (iqr/med {rel(cs, c):>4s}) {unit:7s} {delta}{note}")
EOF
