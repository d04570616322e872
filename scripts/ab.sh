#!/usr/bin/env bash
# Same-window A/B of two revisions on one benchmark workload.
#
#   scripts/ab.sh <old-rev> <new-rev> <workload> [pairs]
#   scripts/ab.sh <old-rev> <new-rev> gates:<g1,g2,...> [pairs]
#
# Exports each revision into its own directory (git archive, so the
# repository's .git gains no worktree entries), builds each there with its
# own perfbench/build.py, then runs `python3 perfbench/run.py` in pairs,
# alternating which side goes first (10 pairs by default). Prints, per
# metric, each side's median and quartiles, the pairs the new side won and
# the ties (values within 1e-9 relative, e.g. float summation jitter), plus
# every run's correctness and failed-operation count. For each end-to-end
# metric it then prints the verdict of the gain rule: the new side won at
# least 9/10 of the pairs that are not ties, and its median is better than
# the old median by more than the old side's quartile spread (q3 - q1).
#
# With `gates:<list>` it runs graft.Bench from each side's build instead,
# with SPARK_GRAFT_BENCH_ONLY=<list>, in the same alternating pairs. Bench
# times each gate as a warm-up plus a min of 2-3 runs; per gate this prints
# each side's minimum over the pairs, the change, and the pairs the new
# side won. It also prints each side's settled calibration floor (Bench's
# fixed CPU-bound probe after the gates, min of two samples): a gate that
# moves by less than that floor has not moved.
#
# Environment:
#   AB_SEED   workload seed (default 1)
#   AB_TRACE  1 runs with --trace 1 and compares the per-layer metrics
#   AB_DIR    where the exports, builds and run records go (default: a new
#             directory under ${TMPDIR:-/tmp}); records land in
#             $AB_DIR/runs.jsonl, one JSON line per run
#   AB_SF     gates: mode only: the scale-factor directory Bench reads
#             (SPARK_GRAFT_SF_DIR; default: Bench's own default)
#   SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS pass through to Bench
#
# Run length is BENCHMARK.json's run_seconds, the same for both sides.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <old-rev> <new-rev> <workload|gates:<g1,g2,...>> [pairs]" >&2
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
gates=
case $workload in gates:*) gates=${workload#gates:} ;; esac
if [ -n "$gates" ] && [ -n "${AB_SF:-}" ]; then
  export SPARK_GRAFT_SF_DIR=$AB_SF
fi
side_cmd() {  # <side dir> <side>: the command of one run, from the side dir
  if [ -n "$gates" ]; then
    local opens cp
    opens=$(python3 -c 'import sys; sys.path.insert(0, "perfbench"); import build
print(" ".join(build.JVM_OPENS))')
    cp=$(python3 -c 'import os, sys; sys.path.insert(0, "perfbench"); import build
print(build.classpath(os.getcwd()))')
    mkdir -p "$1/.bench_build/tmp"
    # shellcheck disable=SC2086
    SPARK_GRAFT_BENCH_ONLY=$gates SPARK_GRAFT_BENCH_OUT=$work/$2.bench.json \
      java -Xss8m -Xms3g -Xmx3g -XX:-UsePerfData $opens \
      "-Djava.io.tmpdir=$1/.bench_build/tmp" -cp "$cp" graft.Bench
  else
    python3 perfbench/run.py --workload "$workload" --seed "$seed" \
      --seconds "$seconds" --trace "$trace"
  fi
}
run_side() {  # <pair> <side>
  local dir line
  dir=$work/$2
  echo "[ab] pair $1: $2" >&2
  if line=$(cd "$dir" && side_cmd "$dir" "$2" 2>"$work/$2.stderr" | tail -n 1) \
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

if [ -n "$gates" ]; then
  python3 - "$records" "$old_rev" "$new_rev" "$gates" <<'EOF'
import json, statistics, sys

records, old_rev, new_rev, gates = sys.argv[1:]
runs = [json.loads(l) for l in open(records)]
by = {}
for r in runs:
    by.setdefault(r["pair"], {})[r["side"]] = r["result"]
print(f"A/B Bench gates: old={old_rev} new={new_rev}, {len(by)} pairs, "
      f"min over the pairs of Bench's per-gate min")
for side in ("old", "new"):
    res = [by[p].get(side) for p in sorted(by)]
    errs = [None if x is None else x["n_err"] for x in res]
    settled = [x["calibration_mid"][-1][2] for x in res if x and x["calibration_mid"]]
    floor = (f"settled calibration floor min {min(settled):.3f} s, "
             f"median {statistics.median(settled):.3f} s") if settled else "no calibration"
    print(f"  {side}: n_err={errs}; {floor}")


def secs(res, g):
    v = res["queries"].get(g) if res else None
    return v if isinstance(v, (int, float)) else None


print(f"  {'gate':28} {'old min':>9} {'new min':>9} {'change':>8}  new won")
for g in gates.split(","):
    val = {s: {p: secs(by[p].get(s), g) for p in by} for s in ("old", "new")}
    both = [p for p in by if val["old"][p] is not None and val["new"][p] is not None]
    if not both:
        errs = {s: [by[p][s]["queries"].get(g) for p in by if by[p].get(s)]
                for s in ("old", "new")}
        print(f"  {g:28} no timed pair: {errs}")
        continue
    mo = min(val["old"][p] for p in both)
    mn = min(val["new"][p] for p in both)
    won = sum(1 for p in both if val["new"][p] < val["old"][p])
    print(f"  {g:28} {mo:9.3f} {mn:9.3f} {(mn - mo) / mo * 100:+7.1f}%  {won}/{len(both)}")
EOF
  exit 0
fi

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


def tie(a, b):
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b))


end_to_end = [m["name"] for m in spec["end_to_end"]]
names = sorted({k for r in runs if r["result"] for k in r["result"]["metrics"]},
               key=lambda k: (k not in end_to_end, k))
print(f"  {'metric':32} {'old median [q1, q3]':>28} {'new median [q1, q3]':>28} "
      f"{'change':>8}  new won  ties")
verdicts = []
for k in names:
    val = {s: {p: by[p][s]["metrics"][k]["value"] for p in by
               if by[p].get(s) and k in by[p][s]["metrics"]} for s in ("old", "new")}
    if not val["old"] or not val["new"]:
        continue
    row, spread = [], {}
    for s in ("old", "new"):
        xs = sorted(val[s].values())
        lo, hi = quartiles(xs)
        spread[s] = hi - lo
        row.append(f"{statistics.median(xs):.4g} [{lo:.4g}, {hi:.4g}]")
    both = [p for p in val["old"] if p in val["new"]]
    sign = -1 if better.get(k, "lower") == "lower" else 1
    ties = sum(1 for p in both if tie(val["new"][p], val["old"][p]))
    won = sum(1 for p in both if not tie(val["new"][p], val["old"][p])
              and sign * (val["new"][p] - val["old"][p]) > 0)
    mo, mn = statistics.median(val["old"].values()), statistics.median(val["new"].values())
    change = f"{(mn - mo) / mo * 100:+.1f}%" if mo else "n/a"
    print(f"  {k:32} {row[0]:>28} {row[1]:>28} {change:>8}  "
          f"{f'{won}/{len(both) - ties}':>7}  {ties:>4}")
    if k in end_to_end:
        decided = len(both) - ties
        gain = sign * (mn - mo)
        ok = decided > 0 and won >= 0.9 * decided and gain > spread["old"]
        verdicts.append(
            f"  verdict {k}: {'GAIN' if ok else 'no gain'} "
            f"(new won {won}/{decided} non-tie pairs, need 9/10; "
            f"median better by {gain:.4g}, old q3-q1 {spread['old']:.4g})")
print("\n".join(verdicts))
EOF
