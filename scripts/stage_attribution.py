"""Per-stage scaling attribution for the flagship job (round-2 verdict #6).

Answers: of the wall-clock lost between local[N] and local[4N], how much is
the ENGINE (stages whose aggregate executor CPU-seconds stay flat but whose
wall doesn't drop 4x — scheduling/serial fractions), and how much is the
HOST (stages whose CPU-seconds themselves inflate at higher thread counts —
shared memory-system contention that no plan change can remove)?

Method: run the identical flagship fixture at two parallelism levels with
the Spark event log enabled, then parse SparkListenerStageCompleted /
SparkListenerTaskEnd events into per-stage rows:

    stage, name, wall_s, task_time_s (sum), cpu_time_s (sum), gc_s (sum)

and print a side-by-side with the CPU-inflation ratio per stage.  A ratio
~1.0 with poor wall scaling = engine-side (serialization, skew, scheduling);
a ratio >> 1.0 = host-side (the same work costs more CPU when run wider).

Usage: python scripts/stage_attribution.py [--levels 2,8] [--convs 60000]
Writes BENCH/STAGE_ATTRIBUTION.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from featureextraction_jl_spark.session import get_spark
from featureextraction_jl_spark.plans import FeatureJobConfig, run_features

cpus = int(os.environ["ATTR_CPUS"])
spark = get_spark("stage-attr", master=f"local[{{cpus}}]", extra_confs={{
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.dir": os.environ["ATTR_EVDIR"],
    "spark.sql.shuffle.partitions": str(max(cpus * 4, 16)),
}})
t = spark.read.parquet(os.environ["ATTR_TDIR"])
s = spark.read.parquet(os.environ["ATTR_SDIR"])
n = t.count()
cfg = FeatureJobConfig(snap_dim=16, k=8)
t0 = time.monotonic()
out, _ = run_features(t, s, cfg)
out.write.format("noop").mode("overwrite").save()
wall = time.monotonic() - t0
print(json.dumps({{"wall": wall, "turns": n}}))
spark.stop()
"""


def run_level(cpus: int, tdir: str, sdir: str) -> tuple[dict, list[dict]]:
    evdir = tempfile.mkdtemp(prefix=f"attr_ev_{cpus}_")
    env = {**os.environ, "ATTR_CPUS": str(cpus), "ATTR_EVDIR": evdir,
           "ATTR_TDIR": tdir, "ATTR_SDIR": sdir}
    out = subprocess.run([sys.executable, "-c", RUNNER.format(repo=REPO)],
                         capture_output=True, text=True, env=env, timeout=3600)
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-3000:])
    head = json.loads(out.stdout.strip().splitlines()[-1])
    stages = parse_event_log(evdir)
    return head, stages


def parse_event_log(evdir: str) -> list[dict]:
    # Spark 4 rolling event logs: evdir/eventlog_v2_<app>/events_* files
    paths = []
    for p in glob.glob(os.path.join(evdir, "*")):
        if os.path.isdir(p):
            paths.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        else:
            paths.append(p)
    stages: dict[int, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    stages.setdefault(sid, {"tasks": 0, "task_time": 0.0,
                                            "cpu_time": 0.0, "gc_time": 0.0})
                    stages[sid].update({
                        "stage": sid,
                        "name": si.get("Stage Name", "")[:60],
                        "wall_s": round((comp - sub) / 1e3, 2)
                        if sub and comp else None,
                    })
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    rec = stages.setdefault(sid, {"tasks": 0, "task_time": 0.0,
                                                  "cpu_time": 0.0, "gc_time": 0.0})
                    rec["tasks"] += 1
                    rec["task_time"] += tm.get("Executor Run Time", 0) / 1e3
                    rec["cpu_time"] += tm.get("Executor CPU Time", 0) / 1e9
                    rec["gc_time"] += tm.get("JVM GC Time", 0) / 1e3
    return [stages[k] for k in sorted(stages)]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--levels", default="2,8")
    ap.add_argument("--convs", type=int, default=60000)
    ap.add_argument("--mega", type=int, default=120000)
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]

    # reuse the bench fixture
    env = {**os.environ, "SPARK_GRAFT_BENCH_CONVS": str(args.convs),
           "SPARK_GRAFT_BENCH_MEGA": str(args.mega)}
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE",
                           os.path.join(REPO, ".bench_cache"))
    tdir = os.path.join(cache, f"transcripts_c{args.convs}_m{args.mega}")
    sdir = os.path.join(cache, f"snapshots_c{args.convs}")
    if not os.path.exists(os.path.join(tdir, "_SUCCESS")):
        subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                       env={**env, "SPARK_GRAFT_FLAGSHIP_ONLY": "1"},
                       cwd=REPO, capture_output=True, timeout=3600)

    results = {}
    for c in levels:
        head, stages = run_level(c, tdir, sdir)
        results[c] = {"head": head, "stages": stages}
        print(json.dumps({"level": c, "wall": round(head["wall"], 1),
                          "stages": len(stages)}), flush=True)

    lo, hi = levels[0], levels[-1]
    ratio = hi // lo
    rows = []
    s_lo = {s["stage"]: s for s in results[lo]["stages"]}
    s_hi = {s["stage"]: s for s in results[hi]["stages"]}
    # align by order of appearance (stage ids differ between runs only if
    # the plans differ; identical jobs give identical stage sequences)
    for a, b in zip(results[lo]["stages"], results[hi]["stages"]):
        cpu_inflation = (b["cpu_time"] / a["cpu_time"]) if a["cpu_time"] > 0.5 else None
        wall_speedup = (a["wall_s"] / b["wall_s"]) if a.get("wall_s") and b.get("wall_s") else None
        rows.append({
            "name": a.get("name", "?"), "tasks": (a["tasks"], b["tasks"]),
            f"wall_{lo}": a.get("wall_s"), f"wall_{hi}": b.get("wall_s"),
            f"cpu_{lo}": round(a["cpu_time"], 1), f"cpu_{hi}": round(b["cpu_time"], 1),
            f"gc_{lo}": round(a["gc_time"], 1), f"gc_{hi}": round(b["gc_time"], 1),
            "cpu_inflation": round(cpu_inflation, 2) if cpu_inflation else None,
            "wall_speedup": round(wall_speedup, 2) if wall_speedup else None,
        })

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = [f"# Stage-level scaling attribution local[{lo}] -> local[{hi}]", "",
          f"Flagship fixture: {results[lo]['head']['turns']:,} turns.  "
          f"Wall: {results[lo]['head']['wall']:.1f}s -> "
          f"{results[hi]['head']['wall']:.1f}s "
          f"(speedup {results[lo]['head']['wall']/results[hi]['head']['wall']:.2f}x "
          f"of {ratio}x ideal).", "",
          "`cpu_inflation` = stage CPU-seconds at the wide level / narrow level.",
          "~1.0 => engine-side loss (scheduling/serial); >>1 => host-side",
          "(same work costs more CPU when run wider: shared memory system).", "",
          f"| stage | tasks | wall[{lo}] | wall[{hi}] | cpu[{lo}] | cpu[{hi}] "
          f"| gc[{lo}] | gc[{hi}] | cpu infl | wall spdup |",
          "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |"]
    for r in rows:
        md.append(f"| {r['name'][:40]} | {r['tasks'][0]}/{r['tasks'][1]} "
                  f"| {r[f'wall_{lo}']} | {r[f'wall_{hi}']} "
                  f"| {r[f'cpu_{lo}']} | {r[f'cpu_{hi}']} "
                  f"| {r[f'gc_{lo}']} | {r[f'gc_{hi}']} "
                  f"| {r['cpu_inflation']} | {r['wall_speedup']} |")
    # Per-pair file so successive pairs (2->8 round 2, 8->32 round 3, ...)
    # accumulate instead of clobbering each other; STAGE_ATTRIBUTION.md
    # keeps the canonical 2->8 evidence pair for backlinks.
    suffix = "" if (lo, hi) == (2, 8) else f"_{lo}_{hi}"
    out_md = os.path.join(REPO, "BENCH", f"STAGE_ATTRIBUTION{suffix}.md")
    with open(out_md, "w") as f:
        f.write("\n".join(md) + "\n")

    tot_cpu = {c: sum(s["cpu_time"] for s in results[c]["stages"]) for c in levels}
    print(json.dumps({
        "metric": f"stage attribution local[{lo}]->local[{hi}]",
        "wall": {str(c): round(results[c]["head"]["wall"], 1) for c in levels},
        "total_cpu_s": {str(c): round(tot_cpu[c], 1) for c in levels},
        "cpu_inflation_total": round(tot_cpu[hi] / tot_cpu[lo], 3),
        "out": out_md,
    }))


if __name__ == "__main__":
    main()
