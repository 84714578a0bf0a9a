"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload click_stream --seed 1 --seconds 5 --trace 0

Run from the repository root. The run environment is pinned here,
before Spark starts: ``local[nproc]`` with shuffle partitions equal to
nproc, Python workers importing the engine from this checkout, no
console progress bar, and a per-run temporary directory that is wiped
at exit. ``--trace 1`` also enables Spark's event log and reports the
per-layer metrics instead of the end-to-end ones; its spans are written
to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "click_streaming_data_pipeline_spark"


def _pin_environment(run_dir: str, trace: bool) -> int:
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # no JVM (launcher or driver) writes hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return nproc


def _tree_hash() -> str:
    """Hash of the Python sources a run executes (engine, tools and
    benchmark), so results of another tree are never compared."""
    h = hashlib.sha256()
    for top in (PACKAGE, "perfbench", "tools"):
        for d, subdirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            subdirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit
    (Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(work, "runs"))
    run = workloads.Run(args, work, bool(args.trace))
    run.run_dir = run_dir
    try:
        nproc = _pin_environment(run_dir, run.trace)
        with run.spans.span("workload", workload=args.workload):
            metrics = workloads.WORKLOADS[args.workload](run)
        sc = run.spark.sparkContext
        run.record.update(
            master=sc.master,
            default_parallelism=sc.defaultParallelism,
            shuffle_partitions=int(run.spark.conf.get("spark.sql.shuffle.partitions")),
            nproc=nproc,
        )
        _stop(run.spark)
        run.spark = None
        if run.trace:
            metrics = layers.per_layer(run, os.path.join(run_dir, "eventlog"), metrics)
        from tools.calibrate import py_calibration_ms

        run.record["host_calib_md5_1m_ms"] = py_calibration_ms()
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    run.record.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        attempted=run.attempted,
        failed=run.failed,
        errors=run.errors,
        finished=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    )
    print(json.dumps({"run": run.record}, default=float), file=sys.stderr)
    # the traced run reports its overhead against the untraced run of the
    # same workload, seed and source tree, when this checkout has one
    res = os.path.join(work, "results", f"{args.workload}-{args.seed}.json")
    tree = _tree_hash()
    if not run.trace and run.failed == 0:
        os.makedirs(os.path.dirname(res), exist_ok=True)
        with open(res, "w") as f:
            json.dump({"tree": tree, **{k: v for k, (v, _) in metrics.items()}}, f)
    elif run.trace and os.path.exists(res):
        with open(res) as f:
            base = json.load(f)
        if base.pop("tree", None) == tree:
            traced = run.record["end_to_end_traced"]
            run.record["trace_overhead"] = {
                k: traced[k] / base[k] - 1 for k in base if k in traced and base[k]
            }
    if run.trace:
        out = os.path.join(work, "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "run": run.record,
                    "spans": run.spans.spans,
                    "micro_batches": run.progress.batches if run.progress else [],
                },
                f,
                default=float,
            )

    def num(v: float) -> float:
        return v if v != float("inf") else 1e12  # failed request: no latency

    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": num(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
