"""Benchmark of the feature engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload feature_job --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` starts one fresh Spark
driver process (``local[k]``, k = min(4, usable cores)): it builds the
engine's session, opens the seeded inputs, times a cold first pass, then
the workload's fixed number of warm passes (more if ``--seconds`` have not
gone by), and reports the later half of the warm passes.  Every pass writes
into a fresh directory and its output is checked outside the timed region;
a pass that raises or fails its check counts in ``failed``.  It prints the
end-to-end metrics.

``--trace 1`` runs one process that first runs the cold pass untraced
(for the Python workers' memory), then in a second session of the same
JVM with the Spark event log on TRACED_PASSES traced passes, and splits
the last into the package's layers (see perfbench/workloads.py and
perfbench/worker.py).  It prints the per-layer metrics.  Layers a
workload does not run read 0.

Metric names, units and directions are read from BENCHMARK.json at the
repository root; perfbench/layers.json adds, per layer metric, whether it
is an exact count and which end-to-end metric it should move.

All scratch data lives under ``.perfbench/`` in the checkout: the inputs
are cached there (see perfbench/inputs.py), and each run's working dir is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import inputs
from observe import session_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("feature_job", "incremental_dedup")
#: the driver heap every process gets (pre-touched by the engine's session)
DRIVER_MEMORY = "2g"
#: whole-run budget: children are killed past it and no result is printed
RUN_BUDGET_S = 170.0
#: added to the budget of the one run per checkout that builds the feature
#: inputs' conversation pool (the first run in a checkout may take longer)
POOL_BUDGET_S = 240.0
#: seeded input sets kept in the cache (oldest evicted first)
CACHE_KEEP = 64
#: traced passes: the layer split is made of the last, warm one
TRACED_PASSES = 2


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json;
    the per-layer names must be exactly those layers.json describes."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        described = set(json.load(f)["per_layer"])
    units = [{m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")]
    if described != set(units[1]):
        raise SystemExit("perfbench: layers.json and BENCHMARK.json per_layer differ: "
                         f"{sorted(described ^ set(units[1]))}")
    return units[0], units[1]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def child_env(tmp: str) -> dict:
    """Environment of a benchmark process: the package importable by the
    Python workers too, every scratch file under ``tmp``, and none of the
    engine's tuning overrides from the caller's shell."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _reap(sid: int, grace: float = 15.0) -> None:
    """Wait for every process of session ``sid`` to end; kill stragglers."""
    deadline = time.monotonic() + grace
    while session_pids(sid):
        if time.monotonic() > deadline:
            _kill_session(sid)
            deadline = time.monotonic() + grace
        time.sleep(0.05)


def _kill_session(sid: int) -> None:
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def spawn(spec: dict, deadline: float) -> dict:
    """Run one worker process to completion and return its result."""
    tmp = tempfile.mkdtemp(prefix="proc-", dir=spec["run_dir"])
    os.makedirs(os.path.join(tmp, "local"))
    spec = {**spec, "tmp": tmp, "t_spawn": time.time()}
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
        stdout=subprocess.PIPE, env=child_env(tmp), cwd=ROOT,
        start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        _kill_session(proc.pid)
        proc.communicate()
        raise SystemExit(f"perfbench: {spec['workload']} exceeded the run budget")
    finally:
        _reap(proc.pid)
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: worker exited with {proc.returncode}")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if not lines:
        raise SystemExit("perfbench: worker printed no result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def evict_cache(cache: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e)
                     for e in os.listdir(cache))
    for _mtime, e in entries[:-CACHE_KEEP] if len(entries) > CACHE_KEEP else []:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _warm_walls(proc: dict) -> list[list[float]]:
    """Per-batch walls of the later half of the successful warm passes of
    one process: the JIT is still warming up during the first warm passes
    (on a 4-core VM, feature_job's first warm pass ran 10-60% slower than
    its second)."""
    warm = [p["walls"] for p in proc["passes"][1:] if p["walls"] and p["ok"]]
    return warm[len(warm) // 2:]


def end_to_end(proc: dict, units: dict) -> dict:
    first = proc["passes"][0]["walls"]
    warm = _warm_walls(proc)
    if not first or not warm:
        raise SystemExit("perfbench: no successful pass to measure")
    vals = {
        "setup_s": proc["setup_s"],
        "first_pass_s": sum(first),
        "rows_per_s": proc["rows"] / statistics.median(sum(w) for w in warm),
        "batch_wall_s": statistics.median(b for w in warm for b in w),
        "peak_pss_mb": proc["peak_pss_bytes"] / 2 ** 20,
    }
    if set(vals) != set(units):
        raise SystemExit("perfbench: end-to-end metrics differ from BENCHMARK.json")
    return {k: _metric(v, units[k]) for k, v in vals.items()}


def per_layer(proc: dict, units: dict) -> dict:
    if "layers" not in proc:
        raise SystemExit("perfbench: the traced run split no pass")
    got = dict(proc["layers"])
    # fastest of each side: the first probes of a session still warm up
    got["trace.overhead_frac"] = min(proc["traced_probe_s"]) / min(proc["probe_s"]) - 1.0
    got["py_worker_peak_pss_mb"] = proc["peak_worker_pss_bytes"] / 2 ** 20
    unknown = set(got) - set(units)
    if unknown:
        raise SystemExit(f"perfbench: layer metrics missing from BENCHMARK.json: {unknown}")
    return {name: _metric(got.get(name, 0), unit) for name, unit in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "featureextraction_jl_spark", "__init__.py")):
        print(f"perfbench: the featureextraction_jl_spark package is not in {ROOT}",
              file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units()
    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    deadline = time.monotonic() + RUN_BUDGET_S
    if args.workload == "feature_job" and not os.path.isdir(inputs.pool_dir(cache)):
        deadline += POOL_BUDGET_S
    evict_cache(cache)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    base = {"root": ROOT, "cache": cache, "run_dir": run_dir,
            "workload": args.workload, "seed": args.seed,
            "cores": min(4, len(os.sched_getaffinity(0)))}
    try:
        # inputs are made before any measured pass: documents here, the
        # feature inputs' pool in a process of their own or, traced, before
        # the session that measures
        if args.workload == "incremental_dedup":
            inputs.generate_documents(cache, args.seed)
        if args.trace:
            # the traced process writes missing feature inputs itself
            proc = spawn({**base, "mode": "trace", "traced_passes": TRACED_PASSES},
                         deadline)
            metrics = per_layer(proc, layer_units)
        else:
            if args.workload == "feature_job":
                if not os.path.isdir(inputs.pool_dir(cache)):
                    spawn({**base, "mode": "generate"}, deadline)
                inputs.make_features(cache, args.seed)
            proc = spawn({**base, "mode": "measure", "warm_seconds": args.seconds},
                         deadline)
            metrics = end_to_end(proc, e2e_units)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    passes = proc["passes"] + proc["traced"]
    failed = sum(not p["ok"] for p in passes)
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
