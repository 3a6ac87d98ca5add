"""Crawl benchmark: one workload per invocation, run in its own pinned
process at ``local[4]``.

    python3 perfbench/run.py --workload wide-crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, measured untraced;
with ``--trace 1`` they are the per-layer ones from a traced window that
follows an untraced one, plus the same workload at ``local[1]`` in the
same, warm JVM pinned to one core, for the scaling figures. Lines before it print each metric
with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import host
from stats import median, percentile
from tracing import PER_LAYER, unit_of
from workloads import SPECS, pooled_wave_seconds, steady_urls_per_s

LEVEL = 4             # cores of the measured runs
SCALING_LEVEL = 1     # the low leg of scaling.eff (traced runs only)
DRIVER_MEM = "2g"     # session.py would default to 48g
# operations run untimed before the window: the cold first one, which
# also records the outputs every later one must reproduce. One more
# would take the place of a timed one in a run's time budget; the JVM
# keeps compiling the crawl's driver code for many operations after it
WARMUP_OPS = 1
# timed operations at least: the shared host slows down for seconds at a
# time, and each further operation evens that out a little more, for
# about a fifth of a run's time
TIMED_OPS = 3
DEADLINE_S = 170      # every child ends before this, counted from start
WORK = ".perfbench_work"

# name -> unit, in print order
END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "steady_urls_per_s": "1/s",
    "wave_p50_s": "s",
    "wave_p90_s": "s",
    "restart_s": "s",
    "export_s": "s",
    "peak_rss_mb": "MB",
}


class Child:
    """One pinned child process with a memory sampler over its tree."""

    def __init__(self, argv: list[str], env: dict, log_path: str,
                 cores: list[int]):
        self.log_path = log_path
        self.peak_rss = 0
        self.spawned_at = host.mark(cores)
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(
                argv, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.2):
            self.peak_rss = max(self.peak_rss, host.tree_rss_bytes(me))

    def wait(self, timeout_s: float, grace_s: float = 15) -> int | None:
        """Exit code, or None when it ran past ``timeout_s``. Either way
        every process in its group has ended on return: the JVM exits
        when its Python parent's pipe closes and takes its Python workers
        with it; whatever is left after ``grace_s`` is killed."""
        try:
            code = self.proc.wait(timeout=max(0.1, timeout_s))
        except subprocess.TimeoutExpired:
            code = None
        self._stop.set()
        self._sampler.join()
        pgid = self.proc.pid
        deadline = time.monotonic() + grace_s
        while host.group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.2)
        if host.group_members(pgid):
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        while host.group_members(pgid):
            time.sleep(0.1)
        return code

    def log_tail(self) -> str:
        with open(self.log_path, errors="replace") as f:
            return f.read()[-3000:]


def run_child(args, level: int, trace: int, seconds: float, warmup_ops: int,
              min_ops: int, deadline: float,
              low_level: int = 0) -> tuple[dict, int]:
    """Run the workload in a child pinned to ``level`` cores; returns its
    raw result and the tree's peak RSS in bytes. The window lasts
    ``seconds`` and ``min_ops`` operations at least; ``low_level`` > 0
    adds the scaling leg."""
    cores = host.cores_for_level(level)
    low_cores = host.cores_for_level(low_level) if low_level else []
    checkout = os.getcwd()
    work = os.path.join(checkout, WORK, f"{args.workload}-{os.getpid()}-{level}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=checkout,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(level),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        OMP_NUM_THREADS="1",
    )
    out = os.path.join(work, "result.json")
    here = os.path.dirname(os.path.abspath(__file__))
    argv = [
        "taskset", "-c", ",".join(map(str, cores)),
        sys.executable, os.path.join(here, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--level", str(level), "--warmup-ops", str(warmup_ops),
        "--min-ops", str(min_ops),
        "--workdir", os.path.join(work, "crawl"), "--out", out,
        "--low-cores", ",".join(map(str, low_cores)),
    ]
    child = Child(argv, env, os.path.join(work, "child.log"), cores)
    code = None
    try:
        code = child.wait(deadline - time.monotonic())
        if code != 0 or not os.path.exists(out):
            raise RuntimeError(
                f"child at level {level} "
                f"{'timed out' if code is None else f'exited {code}'}:\n"
                + child.log_tail())
        with open(out) as f:
            res = json.load(f)
        res["setup_wall_s"], res["setup_s"] = host.elapsed(
            child.spawned_at, tuple(res["setup_mark"]))
        return res, child.peak_rss
    finally:
        if child.proc.returncode is None:  # interrupted: stop it now
            child.wait(0, grace_s=0)
        shutil.rmtree(work, ignore_errors=True)


def pooled_median(ops: list[dict], key: str) -> tuple[float, int]:
    samples = [s for o in ops for s in o[key]]
    return median(samples), len(samples)


def end_to_end(res: dict, peak_rss: int) -> dict[str, tuple[float, int]]:
    """End-to-end metrics as (value, sample count). Times are net of
    CPU steal (``host.elapsed``)."""
    ops = res["ops"]
    waves = pooled_wave_seconds(ops)
    return {
        "setup_s": (res["setup_s"], 1),
        "urls_per_s": (median(o["urls"] / o["crawl_s"] for o in ops), len(ops)),
        "steady_urls_per_s": steady_urls_per_s(ops),
        "wave_p50_s": percentile(waves, 50),
        "wave_p90_s": percentile(waves, 90),
        "restart_s": (median(o["restart_s"] for o in ops), len(ops)),
        "export_s": pooled_median(ops, "export_s"),
        "peak_rss_mb": (peak_rss / 2 ** 20, 1),
    }


def scaling(hi: list[dict], lo: list[dict], level_hi: int,
            level_lo: int) -> dict:
    """Parallel efficiency of the ``level_hi`` operations over the
    ``level_lo`` ones, end to end and on the largest wave."""
    def rates(ops):
        return (median(o["urls"] / o["crawl_s"] for o in ops),
                steady_urls_per_s(ops)[0])
    (u_hi, s_hi), (u_lo, s_lo) = rates(hi), rates(lo)
    k = level_hi / level_lo
    n = min(len(hi), len(lo))
    return {"scaling.eff": (u_hi / u_lo / k, n),
            "scaling.steady_eff": (s_hi / s_lo / k, n)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    deadline = time.monotonic() + DEADLINE_S
    # a terminated run still stops its child's process group (finally)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if not os.path.isfile(os.path.join("crawler_to_md_spark", "__init__.py")):
        print("run from the repository root: crawler_to_md_spark/ not found",
              file=sys.stderr)
        return 2
    try:
        host.cores_for_level(LEVEL)
        host.wait_for_quiet_host(30)
        if args.trace:
            # one untraced and one traced operation, then the low leg:
            # a traced run must also end within the deadline
            res, rss = run_child(args, LEVEL, 1, 0, WARMUP_OPS, 1,
                                 deadline, low_level=SCALING_LEVEL)
        else:
            res, rss = run_child(args, LEVEL, 0, args.seconds, WARMUP_OPS,
                                 TIMED_OPS, deadline)
    except (host.HostError, RuntimeError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        try:
            os.rmdir(WORK)
        except OSError:
            pass

    if not res["ops"]:
        print(f"perfbench: no operation completed: {res['errors'][:3]}",
              file=sys.stderr)
        return 1
    if args.trace:
        values = {k: tuple(v) for k, v in res["layers"].items()}
        if not res.get("low_ops"):
            print(f"perfbench: the scaling leg failed: {res['errors'][:3]}",
                  file=sys.stderr)
            return 1
        values.update(scaling(res["traced_ops"], res["low_ops"], LEVEL,
                              SCALING_LEVEL))
        if set(values) != set(PER_LAYER):
            print(f"perfbench: traced metrics differ from the per-layer list: "
                  f"{sorted(set(values) ^ set(PER_LAYER))}", file=sys.stderr)
            return 1
        values = {k: values[k] for k in PER_LAYER}
        units = {k: unit_of(k) for k in values}
        # the traced operation's spans, jobs and stages, kept for reading
        os.makedirs(WORK, exist_ok=True)
        trace_path = os.path.join(
            WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(res["trace"], f)
        print(f"trace written to {trace_path}")
    else:
        values = end_to_end(res, rss)
        units = END_TO_END
    for err in res["errors"][:20]:
        print(f"error: {err}", file=sys.stderr)
    print(f"{args.workload} seed={args.seed} level={LEVEL} "
          f"ops={len(res['ops'])} attempted={res['attempted']} "
          f"failed={res['failed']} warm-up crawl_s="
          f"{[round(s, 2) for s in res['warmup_crawl_s'] if s]} "
          f"setup wall {res['setup_wall_s']:.2f} s")
    for name, (value, n) in values.items():
        print(f"  {name:34s} {value:14.4f} {units[name]:6s} n={n}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v[0], "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
