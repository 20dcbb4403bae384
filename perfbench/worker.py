"""One benchmark process.  Started by run.py with a JSON spec as its only
argument; prints one line ``PERFBENCH <json>`` on stdout.  Its ``mode``:

* ``generate``: write the feature inputs' conversation pool, nothing else;
* ``measure``: build the session, open the seeded inputs, run the cold
  first pass, then the workload's ``warm_passes`` warm passes, and more
  until ``warm_seconds`` have gone by;
* ``trace``: write the seed's feature inputs if they are missing, then in
  one session run the cold pass untraced, then in a later session of the
  same JVM, with the Spark event log on, ``traced_passes`` traced passes
  and the layer ladder.  The workload's probe queries run PROBES times
  first thing in a fresh session without the event log, then first thing
  in the traced session: the tracing overhead compares the two on one
  warm JVM, a few seconds apart.

Every pass runs in a fresh output dir; the untraced ones are removed after
their output check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

#: timed runs of the probe queries on each side of the tracing switch,
#: after PROBE_WARMUPS untimed ones
PROBES = 5
PROBE_WARMUPS = 2


def run_checked(wl, out_dir: str) -> tuple[list[float] | None, list[str]]:
    """One pass plus its output check; a raise counts as a failed pass."""
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        walls = wl.run_pass(out_dir)
        return walls, wl.check(out_dir)
    except Exception:       # a failed pass is counted, not fatal
        traceback.print_exc()
        return None, ["pass raised"]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _import_udf_modules(batches):
    """Runs on the Python workers: the imports a UDF's first batch pays."""
    import featureextraction_jl_spark.functions.moments  # noqa: F401
    import featureextraction_jl_spark.functions.pca  # noqa: F401
    import featureextraction_jl_spark.plans.windowed_pca  # noqa: F401

    yield from batches


def start_python_workers(wl, spark, n: int) -> None:
    """Start a session's ``n`` Python workers outside any timed pass, if
    the workload runs Python UDFs."""
    if not wl.python_udfs:
        return
    spark.range(n, numPartitions=n).mapInPandas(_import_udf_modules, "id long") \
        .write.format("noop").mode("overwrite").save()


def main() -> None:
    spec = json.loads(sys.argv[1])
    sys.path.insert(0, spec["root"])
    from featureextraction_jl_spark.session import get_spark

    import inputs
    import workloads
    from observe import EventLog, PssPoller, Tracer, noop_all, time_calls

    tmp = spec["tmp"]
    ev_dir = os.path.join(tmp, "eventlog")

    def session(traced: bool):
        confs = {"spark.ui.showConsoleProgress": "false"}
        if traced:
            os.makedirs(ev_dir)
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + ev_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        return get_spark(f"perfbench-{spec['workload']}",
                         master=f"local[{spec['cores']}]", extra_confs=confs)

    spark = session(traced=False)
    session_s = time.time() - spec["t_spawn"]
    if spec["mode"] != "measure" and spec["workload"] == "feature_job":
        made = inputs.generate_pool(spark, spec["cache"])
        if spec["mode"] == "generate":
            spark.stop()
            print("PERFBENCH {}", flush=True)
            return
        inputs.make_features(spec["cache"], spec["seed"])
        if made:
            # a fresh session: the generator's Python workers must not
            # count in the measured passes' memory
            spark.stop()
            spark = session(traced=False)
    wl = workloads.make(spec["workload"], spec["cache"], spec["seed"])
    t0 = time.perf_counter()
    wl.open(spark)
    res = {"setup_s": session_s + time.perf_counter() - t0,
           "rows": wl.expect(), "passes": [], "traced": []}

    def record(into: str, name: str, walls: list[float] | None,
               errors: list[str]) -> None:
        for e in errors:
            print(f"perfbench: {spec['workload']} {name}: {e}", file=sys.stderr)
        res[into].append({"walls": walls, "ok": not errors})

    def one_pass() -> None:
        name = f"pass{len(res['passes'])}"
        record("passes", name, *run_checked(wl, os.path.join(tmp, name)))

    def restart(traced: bool):
        """A fresh session on the same, warm JVM, the inputs reopened."""
        spark.stop()
        new = session(traced)
        wl.open(new)
        return new

    with PssPoller() as mem:
        one_pass()
        if spec["mode"] == "measure":
            # warm passes in a fresh session, its Python workers started:
            # every run starts them from the same clean session state (no
            # leftover shuffle files, broadcasts, status-store entries or
            # garbage of the cold pass)
            spark = restart(traced=False)
            start_python_workers(wl, spark, spec["cores"])
            deadline = time.perf_counter() + spec["warm_seconds"]
            while (len(res["passes"]) <= wl.warm_passes
                   or time.perf_counter() < deadline):
                one_pass()
    res["peak_pss_bytes"] = mem.peak_total
    res["peak_worker_pss_bytes"] = mem.peak_workers
    if spec["mode"] == "trace":
        # untimed: the probe's code is generated and compiled once, here;
        # then it runs first thing in a fresh session, without and then
        # with the event log
        time_calls(noop_all, wl.probe(), repeat=PROBE_WARMUPS)
        spark = restart(traced=False)
        res["probe_s"] = time_calls(noop_all, wl.probe(), repeat=PROBES)
        spark = restart(traced=True)
        tr = Tracer(spark)
        tr.run("probe", noop_all, wl.probe(), repeat=PROBES)
        res["traced_probe_s"] = tr.samples["probe"]
        start_python_workers(wl, spark, spec["cores"])
        dirs = wl.traced_job(tr, os.path.join(tmp, "job"), spec["traced_passes"])
        for wall, d in zip(tr.samples["job"], dirs):
            record("traced", "traced pass", [wall], wl.check(d))
        got, errors = wl.ladder(tr, os.path.join(tmp, "ladder"), dirs[-1])
        record("traced", "layer ladder", None, errors)
    spark.stop()
    if spec["mode"] == "trace":
        ev = EventLog(ev_dir)       # complete once its session has stopped
        layers = wl.layer_metrics(tr, ev, got, dirs[-1])
        last = tr.group("job", len(dirs) - 1)
        layers["spark.jobs"] = ev.jobs[last]
        layers["spark.actions"] = ev.actions[last]
        layers["spark.stages"] = ev.stages[last]
        layers["spark.gc_s"] = ev.gc_ms[last] / 1000.0
        res["layers"] = layers
    print("PERFBENCH " + json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
