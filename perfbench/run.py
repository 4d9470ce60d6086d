"""Benchmark entry point.

    python3 perfbench/run.py --workload reference_flow --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run builds its inputs from
``--seed``, starts one Spark session (``local[N]``, N = the CPUs this
process may use), stages what the workload needs and warms it up; that
is the set-up.  It then runs rounds of the workload in a closed loop
until ``--seconds`` have passed, finishing the round in progress, and
prints, as its last stdout line, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics listed in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from traced rounds that alternate with untraced ones.

Everything the run writes stays under the checkout: working files in
``.perfbench_work/`` (removed at exit) and the environment, per-round
figures and spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Driver heap for the local-mode JVM.  The session factory pins
# -Xms to this value; 2g holds the workloads with room to spare and
# keeps the run small on a shared machine.
DRIVER_MEM = "2g"

SPAN_FIELDS = {
    "jobs": lambda a, r: a["jobs"],
    "tasks": lambda a, r: a["tasks"],
    "input_mb": lambda a, r: a["input_bytes"] / 2**20,
    "output_mb": lambda a, r: a["output_bytes"] / 2**20,
    "shuffle_write_mb": lambda a, r: a["shuffle_write_bytes"] / 2**20,
    "self_frac": lambda a, r: a["self_s"] / r.wall,
    "cpu_frac": lambda a, r: a["cpu_s"] / r.cpu,
    "jvm_cpu_frac": lambda a, r: a["jvm_cpu_s"] / r.cpu,
    "py_cpu_frac": lambda a, r: a["py_cpu_s"] / r.cpu,
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _span_aggregates(tracer, spans) -> dict[str, Counter]:
    selfs = tracer.self_times(spans)
    agg: dict[str, Counter] = {}
    for s in spans:
        a = agg.setdefault(s.name, Counter())
        a["self_s"] += selfs[s.seq]
        a["wall_s"] += s.wall
        a["cpu_s"] += s.cpu["jvm"] + s.cpu["py"]
        a["jvm_cpu_s"] += s.cpu["jvm"]
        a["py_cpu_s"] += s.cpu["py"]
        a["other_cpu_s"] += s.cpu["other"]
        a.update(s.spark)
    return agg


def _layer_values(round_, agg, extras) -> dict[str, float]:
    out = dict(extras)
    for name, a in agg.items():
        for field, fn in SPAN_FIELDS.items():
            out[f"{name}.{field}"] = fn(a, round_)
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # The session reads these when it starts the JVM; Python workers
    # inherit PYTHONPATH from it and need it to import the package.
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    spark = wl = None
    try:
        from data_wrangling_osm_xml_with_python_into_mongodb_spark.session import get_spark
        from spans import ProcessCpu, Tracer
        from workloads import WORKLOADS, Context, Round, code_rev

        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        session_s = time.perf_counter() - t
        sc = spark.sparkContext
        run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
        cpu = ProcessCpu()
        tracer = Tracer(spark, run_id, enabled=False, cpu=cpu)
        ctx = Context(spark, ROOT, work, args.seed, cpu, tracer)

        wl = WORKLOADS[args.workload](ctx)
        warmup = ctx.round = Round(traced=False)
        wl.warm_up()
        wl.end_round()
        setup_s = time.perf_counter() - t_start

        env = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "nproc": nproc,
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master, "driver_memory": spark.conf.get("spark.driver.memory"),
            "code_rev": code_rev(ROOT), "spark": spark.version,
            "python": sys.version.split()[0], "input_bytes": wl.input_bytes,
        }

        rdds_before = sc._jsc.getPersistentRDDs().size()
        rounds: list[Round] = []
        t_measure = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(rounds) % 2 == 1
            tracer.enabled = traced
            r = ctx.round = Round(traced=traced)
            lo, book = len(tracer.spans), tracer.bookkeeping_s
            gc0 = ctx.gc_seconds()
            wl.round()
            r.gc_s = ctx.gc_seconds() - gc0
            if traced:
                r.spans = tracer.spans[lo:]
                r.bookkeeping_s = tracer.bookkeeping_s - book
                r.agg = _span_aggregates(tracer, r.spans)
                r.extras = wl.layer_extras(r, r.agg)
            tracer.enabled = False
            wl.end_round()
            for tbl in spark.catalog.listTables():
                spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")
            rounds.append(r)
            # A traced run needs an untraced and a traced round.
            min_rounds = max(wl.min_rounds, 2 if args.trace else 1)
            if time.perf_counter() - t_measure >= args.seconds and len(rounds) >= min_rounds:
                break
        rdds_delta = sc._jsc.getPersistentRDDs().size() - rdds_before
        peak_rss_mb = cpu.peak_rss_mb()

        plain = [r for r in rounds if not r.traced]
        ops = [o for r in rounds for o in r.ops]
        failed = sum(not o.ok for o in ops + warmup.ops)
        if args.trace:
            traced_rounds = [r for r in rounds if r.traced]
            per_round = [_layer_values(r, r.agg, r.extras) for r in traced_rounds]
            plain_wall = _mean([r.wall for r in plain])
            values = {
                "session.get_spark.wall_s": session_s,
                "jvm.gc_s": _mean([r.gc_s for r in traced_rounds]),
                "spark.failed_tasks": sum(a["failed_tasks"] for r in traced_rounds for a in r.agg.values()),
                "spark.persistent_rdds_delta": rdds_delta,
                "trace.overhead_frac": _mean([r.wall for r in traced_rounds]) / plain_wall - 1,
                "trace.bookkeeping_frac": sum(r.bookkeeping_s for r in traced_rounds)
                / sum(r.wall for r in traced_rounds),
                "trace.self_sum_frac": _mean(
                    [sum(tracer.self_times(r.spans).values()) / r.wall for r in traced_rounds]
                ),
            }
            for m in spec["per_layer"]:
                if m["name"] not in values:
                    values[m["name"]] = _mean([v.get(m["name"], 0.0) for v in per_round])
            defs = spec["per_layer"]
        else:
            walls = [r.wall for r in plain]
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "cpu_s": statistics.median([r.cpu for r in plain]),
                "peak_rss_mb": peak_rss_mb,
                "input_mb_per_s": wl.input_bytes / 2**20 / statistics.median(walls),
            }
            defs = spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in defs}

        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(
                {
                    "env": env, "setup_s": setup_s, "failures": ctx.failures,
                    "rounds": [
                        {"traced": r.traced, "wall_s": r.wall, "cpu_s": r.cpu, "gc_s": r.gc_s,
                         "ops": [[o.name, o.wall, o.cpu, o.ok] for o in r.ops]}
                        for r in rounds
                    ],
                    "spans": tracer.records(),
                },
                f, indent=1,
            )
        for msg in ctx.failures:
            print(f"# failed: {msg}", file=sys.stderr)
        print("# env " + json.dumps(env))
        print(json.dumps({
            "correct": not ctx.failures,
            "attempted": len(ops) + len(warmup.ops),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            _stop(spark)
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(work))


def _stop(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:  # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
