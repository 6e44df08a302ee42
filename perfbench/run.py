"""Benchmark entry point.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. One workload runs in this fresh process on
``local[nproc]``; all state (warehouse, index paths, checkpoints, stream
inputs, Spark and JVM temp files) lives under a per-run directory in
``.perfbench_tmp/`` that is removed at exit. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Spans of a traced run go to ``.perfbench_out/``. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "work_s": "s"}


def start_spark(tmp: str):
    from sparkfulltextquery_spark.session import get_spark

    for d in ("warehouse", "local", "jtmp", "pytmp"):
        os.makedirs(os.path.join(tmp, d))
    # child processes (the JVM, Python workers) inherit these
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher too: no hsperfdata in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/jtmp",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage in the status store for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True
    from perfbench.trace import Tracer
    from perfbench.workloads import LAYER_METRICS, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    # a terminated run still stops its JVM and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(tmp)
        spark.range(1).collect()  # the session is usable
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, args.seconds, tmp, session_s)
        res = WORKLOADS[args.workload](ctx)
        if args.trace:
            res.layer["session.get_spark_s"] = session_s
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    for p in res.problems:
        print(f"WRONG {p}", file=sys.stderr)
    if args.trace:
        metrics = {
            name: {"value": float(res.layer.get(name, 0.0)), "unit": unit}
            for name, unit in LAYER_METRICS.items()
        }
    else:
        metrics = {n: {"value": res.e2e[n], "unit": u} for n, u in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
