"""Link-graph benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload mined_deps --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  One client makes one call at
a time through the library's public API on ``local[<cores>]``.  The
run starts a session, warms up on a small input of the same shape,
generates the input from ``--seed``, then repeats the workload's call
sequence until ``--seconds`` of timed work have passed (at least
once).  Every output is checked against an independent reference
after the timed region.  The last line of standard output is a JSON
object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Exit code 0 only when every output was correct.  NOTES.md explains the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from tracing import Tracer, jvm_peak_rss_mb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
DRIVER_MEMORY = "4g"
APPS = ("pagerank", "wcc", "cdlp", "triangles")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "driver_s", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("mined_deps", "powerlaw_hubs"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(cores: int):
    from graphscope_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(OUT / "spark-local"),
            "spark.sql.warehouse.dir": str(OUT / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap (-Xms = -Xmx): no resizing in a timed
            # call.  No JVM writes outside the checkout: -XX:-UsePerfData
            # stops the hsperfdata file the JVM would keep in /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={OUT / 'tmp'} "
                "-XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def end_to_end(tr, run: str, setup_s: float) -> dict:
    spans = [s for s in tr.spans if s["run"] == run]
    calls = [s for s in spans if s["name"] == "pagerank"]
    pagerank_s = statistics.median(s["end"] - s["start"] for s in calls)
    steps = calls[0]["counts"]["supersteps"]  # equal in every call
    edges = next(s["counts"]["edges"] for s in spans
                 if s["name"] == "graph.degrees")
    return {
        "setup_s": setup_s,
        "time_to_result_s": next(s["end"] - s["start"] for s in spans
                                 if s["name"] == "iteration"),
        "pagerank_s": pagerank_s,
        "pagerank_edges_per_s": edges * steps / pagerank_s,
        "pagerank_supersteps": steps,
    }


def per_layer(tr, run: str, cores: int) -> dict:
    """Per-layer metrics of one traced iteration; 0 for a layer the
    workload does not call.  An app called more than once (PageRank)
    reports the mean of its calls."""
    spans = [s for s in tr.spans if s["run"] == run]
    m: dict = {}
    n_calls = {app: sum(s["name"] == app for s in spans) for app in APPS}

    def add(name, v):
        m[name] = m.get(name, 0.0) + v

    for s in spans:
        name, c, sp = s["name"], s["counts"], s.get("spark", {})
        d = s["end"] - s["start"]
        if name == "miner":
            add("miner.s", d)
            add("miner.files", c["files"])
            add("miner.edges", c["edges"])
            add("miner.cpu_s", sp.get("executor_cpu_s", 0.0))
            add("miner.shuffle_mb", sp.get("shuffle_write_mb", 0.0))
        elif name.startswith("graph."):
            add(f"{name}_s", d)
            add("graph.shuffle_mb", sp.get("shuffle_write_mb", 0.0))
            if name == "graph.degrees":
                for k in ("vertices", "edges", "max_in_degree"):
                    add(f"graph.{k}", c[k])
        elif name in APPS:
            add(f"{name}.s", d / n_calls[name])
            for k in SPARK_COUNTERS:
                add(f"{name}.{k}", sp.get(k, 0.0) / n_calls[name])
            if name == "pagerank":
                add("pagerank._steps", c["supersteps"] / n_calls[name])
        elif name in ("checkpoint.pagerank", "checkpoint.resume"):
            add(f"{name}_s", d)
        elif name == "checkpoint.save":
            add("checkpoint.save_s", d)
            add("checkpoint.saves", 1)
            add("checkpoint.written_mb", c["written_mb"])
        elif name == "checkpoint.load":
            add("checkpoint.load_s", d)
    for app in APPS:  # Σ executor run time ÷ (wall × cores)
        wall = m.get(f"{app}.s", 0.0)
        m[f"{app}.core_util"] = (m.get(f"{app}.executor_run_s", 0.0)
                                 / (wall * cores) if wall else 0.0)
    steps = m.pop("pagerank._steps", 0)
    m["pagerank.s_per_superstep"] = (m.get("pagerank.s", 0.0) / steps
                                     if steps else 0.0)
    m["cdlp.s_per_round"] = m.get("cdlp.s", 0.0) / 10  # always 10 rounds
    m["trace.time_to_result_s"] = next(
        s["end"] - s["start"] for s in spans if s["name"] == "iteration")
    m["trace.overhead_s"] = tr.read_s.get(run, 0.0)
    return m


PER_LAYER = {
    # name: unit
    "session.start_s": "s", "synthetic.gen_s": "s",
    "miner.s": "s", "miner.files": "count", "miner.edges": "count",
    "miner.cpu_s": "s", "miner.shuffle_mb": "MiB",
    "graph.dictionary_s": "s", "graph.build_s": "s", "graph.adjacency_s": "s",
    "graph.degrees_s": "s", "graph.undirected_s": "s",
    "graph.vertices": "count", "graph.edges": "count",
    "graph.max_in_degree": "count", "graph.shuffle_mb": "MiB",
    **{f"{app}.{k}": u for app in APPS for k, u in (
        ("s", "s"), ("jobs", "count"), ("stages", "count"),
        ("tasks", "count"), ("driver_s", "s"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MiB"),
        ("spill_mb", "MiB"), ("core_util", "ratio"))},
    "pagerank.s_per_superstep": "s", "cdlp.s_per_round": "s",
    "checkpoint.pagerank_s": "s", "checkpoint.resume_s": "s",
    "checkpoint.save_s": "s", "checkpoint.saves": "count",
    "checkpoint.written_mb": "MiB", "checkpoint.load_s": "s",
    "trace.time_to_result_s": "s", "trace.overhead_s": "s",
}
END_TO_END = {
    "setup_s": "s", "time_to_result_s": "s", "pagerank_s": "s",
    "pagerank_edges_per_s": "1/s", "pagerank_supersteps": "count",
    "peak_rss_mb": "MiB",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "graphscope_spark" / "__init__.py").is_file():
        print(f"no graphscope_spark package under {ROOT}", file=sys.stderr)
        return 2
    for d in ("spark-local", "tmp", "ckpt"):
        (OUT / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(OUT / "tmp")
    # nor for the JVM spark-submit starts to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))

    import workloads  # imports pyspark and the library under ROOT

    cores = len(os.sched_getaffinity(0))
    wl = (workloads.MinedDeps(str(OUT / "ckpt" / f"seed{args.seed}"))
          if args.workload == "mined_deps" else workloads.PowerlawHubs())

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=1) as pool:
        # the input's driver-side part is generated while the JVM starts
        pending = pool.submit(_timed, wl.generate, args.seed, False)
        spark = start_session(cores)
        session_s = time.perf_counter() - t0
        tr = Tracer(spark)
        try:
            return measure(args, wl, spark, tr, t0, session_s, pending,
                           cores)
        finally:
            tr.write(str(OUT / f"trace-{args.workload}-seed{args.seed}"
                               f"-trace{args.trace}.jsonl"))
            stop_session(spark)
            shutil.rmtree(OUT / "ckpt" / f"seed{args.seed}",
                          ignore_errors=True)


def _timed(fn, *args):
    t0 = time.perf_counter()
    value = fn(*args)
    return value, time.perf_counter() - t0


def measure(args, wl, spark, tr, t0: float, session_s: float, pending,
            cores: int) -> int:
    # --- set-up, from ``t0``: session start, untimed warm-up on a small
    # input of the same shape (fewest rounds), then the input itself
    tr.run = "warmup"
    wl.run(spark, wl.load(spark, wl.generate(args.seed, small=True)), tr,
           quick=True)
    spark.catalog.clearCache()
    generated, gen_s = pending.result()
    tr.run = "setup"
    with tr.span("synthetic.gen", counters=False):
        inp = wl.load(spark, generated)
    gen_s += tr.spans[-1]["end"] - tr.spans[-1]["start"]
    setup_s = time.perf_counter() - t0

    # --- timed closed loop; every iteration traced with --trace 1
    tr.enabled = bool(args.trace)
    attempted = failed = 0
    errors: list[str] = []
    samples: list[dict] = []
    timed = 0.0
    k = 0
    cache: dict = {}
    while k == 0 or timed < args.seconds:
        tr.run = f"it{k}"
        try:
            with tr.span("iteration", counters=False):
                out = wl.run(spark, inp, tr)
        except Exception:  # a failed call ends the run, reported below
            traceback.print_exc(file=sys.stderr)
            attempted += wl.calls
            failed += wl.calls
            errors.append(f"iteration {k}: call raised")
            break
        timed += tr.spans[-1]["end"] - tr.spans[-1]["start"]
        checks = wl.check(spark, inp, out, tr, cache)
        attempted += len(checks)
        for call, err in checks:
            if err is not None:
                failed += 1
                errors.append(f"iteration {k}: {call}: {err}")
        samples.append(per_layer(tr, tr.run, cores) if args.trace
                       else end_to_end(tr, tr.run, setup_s))
        del out
        spark.catalog.clearCache()
        gc.collect()
        k += 1
    tr.enabled = False

    for e in errors:
        print(f"ERROR {e}", file=sys.stderr)
    correct = failed == 0 and attempted > 0
    print(f"workload {args.workload} seed {args.seed} iterations {k} "
          f"error_rate {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    units = PER_LAYER if args.trace else END_TO_END
    values = {name: [x[name] for x in samples if name in x] for name in units}
    if args.trace:
        values["session.start_s"] = [session_s]
        values["synthetic.gen_s"] = [gen_s]
    else:
        values["peak_rss_mb"] = [jvm_peak_rss_mb(spark)]
    metrics = {}
    for name, unit in units.items():
        vals = values[name] or [0.0]
        metrics[name] = {"value": statistics.median(vals), "unit": unit}
        print(f"{name} {metrics[name]['value']:.6g} {unit}  (median of "
              f"{len(values[name])}: {' '.join(f'{v:.4g}' for v in vals)})")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
