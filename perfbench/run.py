#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
(`perfbench/build.py`) into `.bench_build/`. Inputs are synthesized from
the seed (`perfbench/gen.py`) before the JVM starts. The JVM
(`perfbench/scala/GraftBench.scala`) sets up, runs one warm-up round and
then at least three timed rounds of the workload's operations (more while
`--seconds` have not passed), and writes its timings; the outputs are then
checked against independent computations (`perfbench/check.py`).
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("gates", "mozetl-daily")
CORES = max(1, min(4, os.cpu_count() or 1))
JVM_TIMEOUT_S = 150

# mozetl-daily: clients x submission days ending on END_DAY
MS_CLIENTS, MS_DAYS, END_DAY = 1500, 14, "2017-01-14"
CLIENTS_DAILY_LAG_DAYS = 10
TAAR_WHITELIST = "a@x,b@x,c@x,d@x,e@x,f@x,uBlock0@raymondhill.net"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_inputs(workload, seed, root):
    """Generate (once per seed) and return the input directory."""
    import gen
    d = os.path.join(root, ".bench_build", "inputs", workload, str(seed))
    stamp = os.path.join(d, "_complete")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == version:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    props = {}
    if workload == "gates":
        gen.tables(os.path.join(d, "tables"), seed)
    else:
        import datetime
        end = datetime.date.fromisoformat(END_DAY)
        gen.main_summary(d, seed, build.schema_path(root), MS_CLIENTS,
                                MS_DAYS, END_DAY)
        start = end - datetime.timedelta(days=CLIENTS_DAILY_LAG_DAYS)
        props.update(iso_day=END_DAY, day=end.strftime("%Y%m%d"),
                     start_iso=start.isoformat(),
                     whitelist=TAAR_WHITELIST)
    with open(os.path.join(d, "params.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in sorted(props.items()))
    with open(stamp, "w") as f:
        f.write(version)
    return d


def run_jvm(root, workload, in_dir, out_dir, seconds, trace):
    b = os.path.join(root, ".bench_build")
    tmp = os.path.join(b, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap (-Xms = -Xmx) keeps heap resizing out of the timings
    cmd = (["java", "-Xss8m", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", *build.JVM_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(b, 'warehouse')}",
            "-cp", build.classpath(root), "graftbench.GraftBench",
            workload, in_dir, out_dir, str(seconds), str(trace), str(CORES)])
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             cwd=b, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s")
    if p.returncode != 0:
        tail = open(os.path.join(out_dir, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"JVM exited {p.returncode}:\n{tail}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build.ensure(root)
    in_dir = make_inputs(a.workload, a.seed, root)
    out_dir = os.path.join(root, ".bench_build", "runs", f"{a.workload}-{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    log(f"running {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    res = run_jvm(root, a.workload, in_dir, out_dir, a.seconds, a.trace)

    import check
    ops = res["ops"]
    errors = [o for o in ops if o["error"]]
    for o in errors:
        log(f"FAILED {o['name']} (round {o['round']}): {o['error']}")
    problems = [f"{n}: result differs between rounds" for n in res["unstable"]]
    failed_names = {o["name"] for o in errors}
    report = check.check(a.workload, in_dir, out_dir, failed_names)
    problems += report.problems
    for p in problems:
        log(f"CHECK {p}")
    log(f"{a.workload}: attempted={len(ops)} failed={len(errors)} "
        f"rounds={res['rounds']} checks={'ok' if not problems else 'FAILED'}")

    # one pass: per operation, its best wall and CPU time over the timed
    # rounds (round 0 is the warm-up), summed; the harness's bookkeeping
    # between operations is left out, and a failed operation enters nothing
    timed = res["rounds"] - 1
    ok = [o for o in ops if not o["error"]]
    by_op = {}
    for o in ok:
        if o["round"] > 0:
            by_op.setdefault(o["name"], []).append(o)
    pass_s, cpu_s = (sum(min(o[k] for o in runs) for runs in by_op.values())
                     for k in ("seconds", "cpu"))
    rounds_s = [round(sum(o["seconds"] for o in ok if o["round"] == r), 3)
                for r in range(res["rounds"])]
    log(f"{a.workload}: round wall times {rounds_s} s (warm-up first); "
        f"pass {pass_s:.3f} s wall, {cpu_s:.3f} s CPU")
    if a.trace:
        metrics = layer_metrics(res, timed)
        metrics["pass.wall_s"] = (pass_s, "s")
        metrics["warmup.pass_s"] = (rounds_s[0], "s")
    else:
        metrics = {
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "cpu_s": (cpu_s, "s"),
            "ann_recall": (report.recall, "ratio"),
        }
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


# (per-layer metric, unit, harness counter). `layer.<tag>.s|jobs` sum the
# wall time and Spark jobs of the operations the harness tags <tag>.
PER_LAYER = [
    ("core.table_load_s", "s", "core.table_load_s"),
    ("core.table_load_jobs", "count", "core.table_load.jobs"),
    ("construct.s", "s", "construct.s"), ("construct.jobs", "count", "construct.jobs"),
    ("plan.s", "s", "plan.s"), ("plan.nodes", "count", "plan.nodes"),
    ("exec.s", "s", "exec.s"), ("exec.jobs", "count", "exec.jobs"),
    ("exec.stages", "count", "exec.stages"), ("exec.tasks", "count", "exec.tasks"),
    ("exec.task_s", "s", "exec.task_s"), ("exec.cpu_s", "s", "exec.cpu_s"),
    ("exec.gc_s", "s", "exec.gc_s"),
    ("exec.shuffle_read_mb", "MB", "exec.shuffle_read_mb"),
    ("exec.shuffle_write_mb", "MB", "exec.shuffle_write_mb"),
    ("exec.spill_mb", "MB", "exec.spill_mb"),
    ("exec.peak_mem_mb", "MB", "exec.peak_mem_mb"),
    ("exec.input_mb", "MB", "exec.input_mb"), ("exec.output_mb", "MB", "exec.output_mb"),
    ("cache.residue_rdds", "count", "cache.residue_rdds"),
    ("cache.peak_storage_mb", "MB", "cache.peak_storage_mb"),
    ("text.curation_s", "s", "layer.text.curation.s"),
    ("core.splits_s", "s", "layer.core.splits.s"),
    ("dedup.near_dup_s", "s", "layer.dedup.near_dup.s"),
    ("similarity.ann_s", "s", "layer.similarity.ann.s"),
    ("graph.s", "s", "layer.graph.s"), ("graph.jobs", "count", "layer.graph.jobs"),
    ("ml.s", "s", "layer.ml.s"),
    ("jobs.clients_daily_s", "s", "layer.jobs.clients_daily.s"),
    ("jobs.search_clients_daily_s", "s", "layer.jobs.search_clients_daily.s"),
    ("jobs.search_aggregates_s", "s", "layer.jobs.search_aggregates.s"),
    ("jobs.addon_aggregates_s", "s", "layer.jobs.addon_aggregates.s"),
    ("jobs.taar_s", "s", "layer.jobs.taar.s"),
]


# counters that hold a peak, not a total
PEAKS = {"exec.peak_mem_mb", "cache.peak_storage_mb"}


def layer_metrics(res, timed):
    """Per-layer totals of one timed round of the traced run (totals over
    the timed rounds divided by their number; peaks as they are). A layer
    the workload does not reach reads 0."""
    c = res["counters"]
    return {name: (float(c.get(key, 0.0)) / (1 if key in PEAKS else timed), unit)
            for name, unit, key in PER_LAYER}


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 -- any failure ends the run without a result line
        log(f"error: {e}")
        sys.exit(1)
