"""Benchmark of the tiled store: bulk build, and extracts under change.

    python3 perfbench/run.py --workload {serve,gate_mix} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout.  Each workload is one client thread in
one Spark process on local[nproc], calling the program's public functions
in a closed loop.  The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are its per-layer ones, read from spans around
the calls and from Spark's per-job-group stage counters, and the spans are
written to .perfbench_out/.  The line before it is a report with the
workload's own figures and the host's contention label.  Everything the
run writes lives under the checkout and is removed at exit, except the
trace files.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    """Workload and metric names of BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv, spec):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def spark_env(workdir: str) -> dict:
    """Point every scratch location of Spark and its Python workers into
    the run's work directory, and let the workers import the package."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # every JVM, the spark-submit launcher too: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    if not os.path.isdir(os.path.join(ROOT, "osmquadtree_rust_spark")):
        print("perfbench: the osmquadtree_rust_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        from osmquadtree_rust_spark.session import get_spark
    except ImportError as ex:
        print(f"perfbench: cannot import the program: {ex}", file=sys.stderr)
        return 2
    from perfbench import harness as H

    # a SIGTERM unwinds through the clean-up below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    conf = spark_env(workdir)
    run = H.Run(args.seed, args.seconds, args.size, bool(args.trace), workdir)
    mod = importlib.import_module(f"perfbench.{args.workload}")
    spark = None
    host0 = H.host_sample()
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        tr = H.Tracer(spark, enabled=False)
        t1 = time.perf_counter()
        ctx = mod.setup(spark, tr, run)
        warm_s = time.perf_counter() - t1
        run.e2e["setup_s"] = start_s + warm_s
        run.layer["session.start_s"] = start_s
        run.layer["session.warm_s"] = warm_s
        mod.measure(spark, tr, run, ctx)
        if run.trace:
            tr.dump(
                os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "layers": run.layer},
            )
    except Exception:  # a raising program is a failed run, reported as such
        traceback.print_exc()
        run.failed += 1
        run.attempted = max(run.attempted, run.failed)
        run.notes.append("run aborted by an exception")
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:
                traceback.print_exc()
        left = H.stop_processes()
        if left:
            run.notes.append(f"signalled {len(left)} process(es) still running at exit")
        shutil.rmtree(workdir, ignore_errors=True)
    host = H.host_label(host0, H.host_sample())

    names = {m["name"]: m["unit"] for m in spec["per_layer" if run.trace else "end_to_end"]}
    values = run.layer if run.trace else run.e2e
    e2e = [m["name"] for m in spec["end_to_end"]]
    correct = run.failed == 0 and all(k in run.e2e for k in e2e)
    report = dict(run.report, error_frac=run.failed / max(run.attempted, 1))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "host": host, "report": report,
        "notes": run.notes,
    }))
    metrics = {
        k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()
    }
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
