"""Benchmark of record for the search engine.

    python3 perfbench/run.py --workload {build,serve,refresh} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout: the engine is imported from
``search_engine_spark/`` there. Generates the workload's inputs from the
seed, drives the engine's public API on ``local[nproc]`` from this one
process, checks every answer, and prints as its last stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see NOTES.md). Scratch files live under
``.perfbench/`` in the checkout; spans of traced runs and a log of
results are kept there, everything else is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build", "serve", "refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> int:
    """Keep every file Spark writes inside ``work``; one executor thread
    per CPU this process may run on."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    return nproc


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = []
    if proc is not None:
        try:
            for task in os.listdir(f"/proc/{proc.pid}/task"):
                with open(f"/proc/{proc.pid}/task/{task}/children") as f:
                    children += [int(c) for c in f.read().split()]
        except OSError:
            pass
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in children:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except OSError:
                break
            time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "search_engine_spark", "query.py")):
        print("perfbench: run from the root of a source checkout "
              "(search_engine_spark/ not found)", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _main(args, root, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, root: str, base: str, work: str) -> int:
    nproc = configure_env(work)
    sys.path.insert(0, root)
    import numpy
    import pyarrow
    import pyspark
    from search_engine_spark.runtime import get_spark

    import harness
    import layers
    import workloads

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = harness.Tracer(enabled=bool(args.trace))
        ops = harness.Ops(tracer, harness.SparkWork(spark.sparkContext))
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer, ops)
        run.setup_phases["spark"] = run._mark - T_PROCESS_START
        workloads.WORKLOADS[args.workload](run)
        setup_s = run.t_first_op - T_PROCESS_START
        if args.trace:
            overhead = layers.tracing_overhead(run)
            layers.fill_layers(run)
            values = layers.per_layer(run, overhead)
            table = layers.PER_LAYER
        else:
            values = layers.end_to_end(run, setup_s)
            table = layers.END_TO_END
    finally:
        stop_spark(spark)

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "sizes": workloads.SIZES[args.workload],
        "generator": run.params,
        "setup_phases_s": {k: round(v, 3) for k, v in run.setup_phases.items()},
        "local_op_ms": {
            q: round(harness.quantile(ops.best(run.local_kind), x) * 1e3, 4)
            for q, x in (("p25", 0.25), ("p50", 0.5), ("p90", 0.9))
        },
        "spark_op_s": [round(x, 3) for x in ops.seconds[run.spark_kind]],
        "op_counts": dict(ops.attempts),
        "failures": ops.failure_table(),
    }
    metrics = {}
    finite = True
    for name, unit, *_ in table:
        v = float(values[name])
        if not math.isfinite(v):
            print(f"perfbench: metric {name} was not measured", file=sys.stderr)
            finite = False
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}
    result = {
        "correct": ops.failed == 0 and finite,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        stem = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        selfs = tracer.self_times()
        with open(stem + ".self.json", "w") as f:
            json.dump(
                {k: {"count": c, "total_s": t, "self_s": s}
                 for k, (c, t, s) in sorted(selfs.items())},
                f, indent=1,
            )
        for k, (c, t, s) in sorted(selfs.items(), key=lambda x: -x[1][2]):
            print(f"# span {k:<24} n={c:<5} total={t:9.3f}s self={s:9.3f}s")
    with open(os.path.join(base, "results.jsonl"), "a") as f:
        f.write(json.dumps({"provenance": provenance, "result": result}) + "\n")
    print("# provenance " + json.dumps(provenance))
    for name, m in metrics.items():
        print(f"# {name:<48} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
