#!/usr/bin/env bash
# Same-window A/B of two revisions on one benchmark workload.
#
#   scripts/ab.sh <old-rev> <new-rev> <workload> [pairs]
#
# Exports each revision into its own directory (git archive, so the
# repository's .git gains no worktree entries), builds each there with its
# own perfbench/build.py, then runs `python3 perfbench/run.py` in pairs,
# alternating which side goes first (10 pairs by default). Prints, per
# metric, each side's median and quartiles and the fraction of pairs the
# new side won (ties count for neither side), plus every run's correctness
# and failed-operation count.
#
# Environment:
#   AB_SEED   workload seed (default 1)
#   AB_TRACE  1 runs with --trace 1 and compares the per-layer metrics
#   AB_DIR    where the exports, builds and run records go (default: a new
#             directory under ${TMPDIR:-/tmp}); records land in
#             $AB_DIR/runs.jsonl, one JSON line per run
#
# Run length is BENCHMARK.json's run_seconds, the same for both sides.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <old-rev> <new-rev> <workload> [pairs]" >&2
  exit 2
fi
old_rev=$1 new_rev=$2 workload=$3 pairs=${4:-10}
seed=${AB_SEED:-1}
trace=${AB_TRACE:-0}
root=$(git rev-parse --show-toplevel)
work=${AB_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")}
mkdir -p "$work"
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

export_rev() {  # <rev> <dir>
  rm -rf "$2"
  mkdir -p "$2"
  git -C "$root" archive "$1" | tar -x -C "$2"
}

old_dir=$work/old new_dir=$work/new
export_rev "$old_rev" "$old_dir"
export_rev "$new_rev" "$new_dir"
for d in "$old_dir" "$new_dir"; do
  (cd "$d" && python3 perfbench/build.py)
done

records=$work/runs.jsonl
: > "$records"
run_side() {  # <pair> <side>
  local dir line
  dir=$work/$2
  echo "[ab] pair $1: $2" >&2
  if line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
      --seconds "$seconds" --trace "$trace" 2>"$work/$2.stderr" | tail -n 1) \
      && [ -n "$line" ]; then
    :
  else
    tail -n 5 "$work/$2.stderr" >&2
    line=null
  fi
  printf '{"pair":%d,"side":"%s","result":%s}\n' "$1" "$2" "$line" >> "$records"
}

for ((i = 0; i < pairs; i++)); do
  if ((i % 2 == 0)); then
    run_side "$i" old; run_side "$i" new
  else
    run_side "$i" new; run_side "$i" old
  fi
done

python3 - "$records" "$root/BENCHMARK.json" "$old_rev" "$new_rev" "$workload" "$seed" <<'EOF'
import json, statistics, sys

records, bench, old_rev, new_rev, workload, seed = sys.argv[1:]
spec = json.load(open(bench))
better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
runs = [json.loads(l) for l in open(records)]
by = {}
for r in runs:
    by.setdefault(r["pair"], {})[r["side"]] = r["result"]

print(f"A/B {workload} seed={seed}: old={old_rev} new={new_rev}, {len(by)} pairs")
for side in ("old", "new"):
    res = [by[p].get(side) for p in sorted(by)]
    print(f"  {side}: correct={[bool(x and x['correct']) for x in res]} "
          f"failed={[x['failed'] if x else None for x in res]}")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


names = sorted({k for r in runs if r["result"] for k in r["result"]["metrics"]},
               key=lambda k: (k not in [m["name"] for m in spec["end_to_end"]], k))
print(f"  {'metric':32} {'old median [q1, q3]':>28} {'new median [q1, q3]':>28} "
      f"{'change':>8}  new won")
for k in names:
    val = {s: {p: by[p][s]["metrics"][k]["value"] for p in by
               if by[p].get(s) and k in by[p][s]["metrics"]} for s in ("old", "new")}
    if not val["old"] or not val["new"]:
        continue
    row = []
    for s in ("old", "new"):
        xs = sorted(val[s].values())
        lo, hi = quartiles(xs)
        row.append(f"{statistics.median(xs):.4g} [{lo:.4g}, {hi:.4g}]")
    both = [p for p in val["old"] if p in val["new"]]
    sign = -1 if better.get(k, "lower") == "lower" else 1
    won = sum(1 for p in both if sign * (val["new"][p] - val["old"][p]) > 0)
    mo, mn = statistics.median(val["old"].values()), statistics.median(val["new"].values())
    change = f"{(mn - mo) / mo * 100:+.1f}%" if mo else "n/a"
    print(f"  {k:32} {row[0]:>28} {row[1]:>28} {change:>8}  {won}/{len(both)}")
EOF
