"""Benchmark entry point.

    python3 perfbench/run.py --workload enrich_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, starts one Spark session at local[<nproc / 2>], sets the workload
up three times (median reported as setup_s), runs the workload's untimed
warm-up operations, then runs timed operations until ``--seconds`` have
passed, and checks every operation's output.  With ``--trace 1`` it also
runs one traced operation plus the prefix cuts and reports per-layer
metrics instead.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes goes under .bench_work/ in the repository root
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "p3_osm_transformer_spark"
SETUP_REPEATS = 3
DRIVER_MEMORY = "1g"
# HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
JVM_NO_TMP = "-XX:-UsePerfData"


def metric_units() -> tuple[dict, dict]:
    """name -> unit for the end-to-end and the per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    """local[nproc / 2] with an explicit driver heap; every scratch path
    Spark or Python workers use points into ``work``.

    Half the cores, because each task of a Python-UDF stage keeps its JVM
    thread and its Python worker busy at once: local[nproc] runs twice as
    many busy processes as there are cores, and on a shared host the
    timings then spread two to three times as much between runs."""
    from p3_osm_transformer_spark.session import get_spark
    nproc = len(os.sched_getaffinity(0))
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed, pre-touched heap: the heap's share of peak memory is then
        # the cap, not whatever G1 happened to touch before the run ended
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JVM_NO_TMP} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + events
        confs["spark.eventLog.compress"] = "false"
    master = f"local[{max(1, nproc // 2)}]"
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=master, extra_confs=confs)
    config = {"master": master, "driver_memory": DRIVER_MEMORY, "nproc": nproc,
              "loadavg_1m": os.getloadavg()[0],
              "session_start_s": time.perf_counter() - t0}
    return spark, config


def run(args, work: str, layer_units: dict) -> dict:
    import tracing
    import workloads
    from statistics import median

    phases, last = {}, [time.perf_counter()]

    def mark(name: str) -> None:
        now = time.perf_counter()
        phases[name], last[0] = now - last[0], now

    spark, config = start_session(work, bool(args.trace))
    mark("session")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        wl.generate()
        mark("generate")
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        jvm = type(spark.sparkContext)._gateway.proc.pid
        attempted = failed = 0
        with tracing.PeakRss(jvm) as rss:
            setups = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.setup(tracer)
                setups.append(time.perf_counter() - t0)
            mark("setup")
            wl.warm_up()
            mark("warm_up")
            deadline = time.perf_counter() + args.seconds
            while True:
                attempted += 1
                try:
                    wl.run_op()
                except Exception:          # an op failure is a result, not a crash
                    traceback.print_exc()
                    failed += 1
                if (time.perf_counter() >= deadline
                        and attempted % wl.OPS_MULTIPLE == 0):
                    break
        mark("measure")
        if not wl.ops:
            raise RuntimeError("every operation failed")
        verdicts = wl.check()
        mark("check")
        for v in verdicts:
            if v is not None:
                print(f"check failed: {v}", file=sys.stderr)
        failed += sum(v is not None for v in verdicts)
        walls = [r["wall_s"] for r in wl.ops]
        e2e = {"setup_s": median(setups), "rows_per_s": wl.rows_per_s(),
               "op_ms_p50": median(walls) * 1e3, "peak_rss_mb": rss.peak_mb}
        extras = {"ops": (len(walls), "count"),
                  "peak_jvm_mb": (rss.root_mb, "MB"),
                  "peak_procs": (rss.procs, "count"),
                  "error_rate": (failed / attempted, "ratio"), **wl.extras()}
        if tracer is not None:
            # an untraced operation just before the traced one, equally
            # warm, is the reference for the tracing overhead
            reference = wl.run_op()["wall_s"]
            wl.ops.pop()
            # traced operations whose output the workload checks count as
            # attempted operations
            verdicts = wl.trace(tracer)
            for v in verdicts:
                if v is not None:
                    print(f"check failed: {v}", file=sys.stderr)
            attempted += len(verdicts)
            failed += sum(v is not None for v in verdicts)
            mark("trace")
    finally:
        tracing.stop_session(spark)
    mark("stop")
    config["phases_s"] = " ".join(f"{k}={v:.1f}" for k, v in phases.items())

    result = {"config": config, "e2e": e2e, "extras": extras,
              "walls": walls, "setups": setups,
              "attempted": attempted, "failed": failed}
    if tracer is not None:
        groups = tracing.read_event_log(os.path.join(work, "events"))
        layers = dict.fromkeys(layer_units, 0.0)
        layers.update(wl.layers(tracer, groups))
        ops = tracer.named("op")
        tot = tracing.total(groups, set().union(*(tracer.descendants(o.group)
                                                  for o in ops)))
        layers.update({f"session.{k}": v / len(ops) for k, v in tot.items()})
        layers["trace.overhead_s"] = median([o.wall for o in ops]) - reference
        result["layers"] = layers
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found in {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark and Python workers inherit these: scratch stays in the checkout
    # and workers can import the package.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_NO_TMP      # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units()
    try:
        res = run(args, work, layer_units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for k, v in res["config"].items():
        print(f"config  {k:<24} {v}")
    for k, v in res["e2e"].items():
        print(f"e2e     {k:<24} {v:.6g} {e2e_units[k]}")
    for k, (v, unit) in res["extras"].items():
        print(f"extra   {k:<24} {v:.6g} {unit}")
    print(f"extra   {'op_s':<24} {' '.join(f'{w:.3f}' for w in res['walls'])}")
    print(f"extra   {'setup_s_all':<24} {' '.join(f'{w:.3f}' for w in res['setups'])}")
    if args.trace:
        for k, v in res["layers"].items():
            print(f"layer   {k:<32} {v:.6g} {layer_units[k]}")
        metrics = {k: {"value": v, "unit": layer_units[k]}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": e2e_units[k]}
                   for k, v in res["e2e"].items()}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
