"""One pinned benchmark process: start Spark at the given level, warm
the workload up, run its timed window, and write the raw measurements
to ``--out`` as JSON. ``run.py`` starts this under ``taskset``.

With ``--trace 1`` a second window follows the untraced one with every
layer entry point wrapped (tracing.py), then some layers are timed
alone (micro.py), and so is the query suite (suite.py). ``--low-cores``
then adds the low leg of the scaling figures: the session is stopped and
started again at ``local[n]`` in the same JVM with every thread pinned
to those n cores, so the leg runs on code the main leg has already
JIT-compiled.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import host
from workloads import SPECS, Spec, Workload


# the scaling leg warms its new session up (Python workers, per-session
# caches; the JVM's compiled code is already warm) with one small crawl,
# then times one operation
LOW_WARMUP = Spec(n_pages=129, n_hosts=8, branching=128)


def _run_checked(fn, log: dict):
    """Run one operation; count it, and count it failed when it raises
    or its outputs are wrong."""
    log["attempted"] += 1
    try:
        op = fn()
    except Exception as exc:  # a failed operation is a result, not a crash
        log["failed"] += 1
        log["errors"].append("".join(
            traceback.format_exception_only(type(exc), exc)).strip()[-400:])
        return None
    if op["errors"]:
        log["failed"] += 1
        log["errors"].extend(op["errors"])
    return op


def _window(seconds: float, min_ops: int, fn, log: dict) -> list[dict]:
    """Run operations until ``seconds`` have passed and at least
    ``min_ops`` have been attempted."""
    ops = []
    deadline = time.perf_counter() + seconds
    while True:
        op = _run_checked(fn, log)
        if op is not None:
            ops.append(op)
        if time.perf_counter() >= deadline and log["attempted"] >= min_ops:
            return ops


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--level", type=int, required=True)
    ap.add_argument("--warmup-ops", type=int, required=True)
    ap.add_argument("--min-ops", type=int, required=True,
                    help="timed operations at least")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--low-cores", default="",
                    help="comma-separated cores of the scaling leg")
    args = ap.parse_args()

    def start(level):
        from crawler_to_md_spark.session import get_spark

        return get_spark(
            f"perfbench-{args.workload}", master=f"local[{level}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the traced run reads every stage of its window back
                "spark.ui.retainedJobs": "5000",
                "spark.ui.retainedStages": "5000",
                # temp files in the run's own directory; no /tmp/hsperfdata
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )

    spark = start(args.level)
    log = {"attempted": 0, "failed": 0, "errors": []}
    result: dict = {}
    try:
        wl = Workload(spark, SPECS[args.workload], args.seed, args.workdir)
        ops = [_run_checked(wl.prepare, log)]
        for _ in range(args.warmup_ops - 1):
            ops.append(_run_checked(
                lambda: wl.run_op(export_passes=1), log))
        result["warmup_crawl_s"] = [op and op["crawl_s"] for op in ops]
        result["setup_mark"] = host.mark()
        timed_from = log["attempted"]
        result["ops"] = _window(args.seconds, timed_from + args.min_ops,
                                wl.run_op, log)
        if args.trace:
            import tracing

            result["layers"], result["trace"], traced = tracing.traced_window(
                spark, wl, lambda fn: _run_checked(fn, log),
                untraced=result["ops"], level=args.level)
            result["traced_ops"] = [traced]
        if args.low_cores:
            cores = [int(c) for c in args.low_cores.split(",")]
            spark.stop()
            host.pin_tree(os.getpid(), cores)
            spark = wl.spark = start(len(cores))
            warm = Workload(spark, LOW_WARMUP, args.seed,
                            args.workdir + "-low")
            _run_checked(lambda: warm.run_op(crawl_only=True), log)
            low = _run_checked(lambda: wl.run_op(crawl_only=True), log)
            result["low_ops"] = [low] if low else []
    finally:
        result.update(log)
        for op in (result.get("ops", []) + result.get("traced_ops", [])
                   + result.get("low_ops", [])):
            op.pop("root", None)
        with open(args.out, "w") as f:
            json.dump(result, f)
        spark.stop()
        shutil.rmtree(args.workdir, ignore_errors=True)
        shutil.rmtree(args.workdir + "-low", ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
