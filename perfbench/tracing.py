"""Per-layer tracing from outside the program.

``Recorder.install()`` replaces the layers' public entry points with
wrappers that record a span (name, start, end, parent, thread) and set
the calling thread's Spark job description, so the executor stages read
back from the status store attribute to the layer that submitted their
jobs. ``crawl.engine`` imports its operators by name, so those are
patched in the engine module; methods are patched on their classes.
Spans stay in memory until the window ends. ``uninstall()`` restores
every original, so untraced windows run the unmodified program.
"""

from __future__ import annotations

import itertools
import math
import os
import threading
import time

import suite
from stats import median
from workloads import EXPORT_PASSES, largest_wave

# job description label prefix set while a wrapped entry point runs
_LABEL = "pb:"

# every per-layer metric a traced run reports, in print order
PER_LAYER = (
    "engine.wave_s",
    "engine.select_s",
    "engine.plan_build_py_s",
    "engine.dedup_rank_s",
    "engine.commit_wall_s",
    "engine.bloom_grow_s",
    "engine.jobs_per_wave",
    "engine.stages_per_wave",
    "engine.driver_gap_s",
    "engine.recover_s",
    "engine.steady_unattributed_s",
    "html.scrape_udf_py_s",
    "html.udf_share",
    "html.scrape_rows_per_s",
    "urls.canon_hash_rows_per_s",
    "seen.bloom_add_s",
    "seen.bloom_save_s",
    "seen.bloom_grows",
    "seen.bloom_fill",
    "seen.bloom_fpr_est",
    "seen.probe_rows_per_s",
    "seen.maybe_frac",
    "seen.confirm_rows_per_s",
    "seen.dedup_cands_per_s",
    "rank.call_s",
    "rank.agg_stage_run_s",
    "rank.agg_probes_per_s",
    "rank.agg_map_rows",
    "rank.run_s",
    "rank.cpu_s",
    "rank.shuffle_write_mb",
    "rank.shuffle_read_mb",
    "rank.spill_mb",
    "rank.gc_s",
    "tables.read_delta_s",
    "tables.pages.append_s",
    "tables.pages.bytes",
    "tables.pages.files",
    "tables.frontier.append_s",
    "tables.frontier.bytes",
    "tables.frontier.files",
    "tables.visited.append_s",
    "tables.visited.bytes",
    "tables.visited.files",
    "tables.metrics.append_s",
    "tables.metrics.bytes",
    "tables.metrics.files",
    "politeness.quota_plan_s",
    "politeness.select_frac",
    "export.markdown_s",
    "export.json_s",
    "export.bytes",
    *(f"queries.{name}_s" for name in suite.SUITE),
    "scaling.eff",
    "scaling.steady_eff",
    "trace.overhead_frac",
)


class Recorder:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.engines: list = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._wave_span: int | None = None  # parent for commit-thread spans
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _wrap(self, fn, name_of):
        rec = self

        def wrapper(*args, **kwargs):
            name = name_of(args)
            stack = getattr(rec._local, "stack", None)
            if stack is None:
                stack = rec._local.stack = []
            sid = next(rec._ids)
            parent = stack[-1] if stack else rec._wave_span
            sc = rec.spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(_LABEL + name)
            stack.append(sid)
            is_wave = name == "crawl.engine.run_wave"
            if is_wave:
                rec._wave_span = sid
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                stack.pop()
                if is_wave:
                    rec._wave_span = None
                sc.setJobDescription(prev)
                with rec._lock:
                    rec.spans.append({
                        "id": sid, "name": name, "start": start, "end": end,
                        "parent": parent, "thread": threading.get_ident()})

        return wrapper

    def _patch(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, name_of))

    def install(self) -> None:
        from crawler_to_md_spark.crawl import engine
        from crawler_to_md_spark.operators import export, seen
        from crawler_to_md_spark.tables import SnapshotTable

        def fixed(name):
            return lambda args: name

        def table(kind):
            return lambda args: (
                f"tables.{os.path.basename(args[0].root)}.{kind}")

        for attr, name in (
            ("with_global_rank", "operators.rank"),
            ("anti_join_new", "operators.seen.anti_join"),
            ("apply_host_quota", "operators.politeness"),
            ("load_seen_set", "operators.seen.load"),
        ):
            self._patch(engine, attr, fixed(name))
        for attr in ("run_wave", "recover"):
            self._patch(engine.CrawlEngine, attr, fixed(f"crawl.engine.{attr}"))
        for attr, name in (("add_distributed", "operators.seen.bloom_add"),
                           ("save", "operators.seen.bloom_save"),
                           ("_resize", "operators.seen.bloom_resize")):
            self._patch(seen.JvmBloomSeenSet, attr, fixed(name))
        for attr in ("append", "append_local", "append_virtual"):
            self._patch(SnapshotTable, attr, table("append"))
        self._patch(SnapshotTable, "read_delta", fixed("tables.read_delta"))
        for attr, name in (("export_markdown", "operators.export.markdown"),
                           ("export_json", "operators.export.json")):
            self._patch(export, attr, fixed(name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- workload hooks ------------------------------------------------------

    def on_engine(self, eng) -> None:
        # the scrape UDF adds its Python batch seconds here; it must be set
        # before the engine's first wave builds the UDF
        eng.scrape_time_acc = self.spark.sparkContext.accumulator(0.0)
        self.engines.append(eng)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


# -- status store ------------------------------------------------------------


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_snapshot(spark, since: float) -> tuple[list[dict], dict[int, dict]]:
    """Jobs and stages submitted at or after ``since`` (epoch seconds),
    read from the application status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = _opt_time(j.submissionTime())
        if sub is None or sub < since:
            continue
        desc = j.description()
        jobs.append({
            "id": int(j.jobId()), "start": sub,
            "end": _opt_time(j.completionTime()) or sub,
            "label": str(desc.get()) if desc.isDefined() else "",
            "stages": [int(x) for x in
                       str(j.stageIds().mkString(",")).split(",") if x],
        })
    jvm, gw = spark._jvm, sc._gateway
    sl = store.stageList(jvm.java.util.ArrayList(), False, False,
                         gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    stages = {}
    for i in range(sl.size()):
        s = sl.apply(i)
        sub = _opt_time(s.submissionTime())
        if sub is None or sub < since or str(s.status()) == "SKIPPED":
            continue
        stages[int(s.stageId())] = {
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2 ** 20,
            "shuffle_read_mb": s.shuffleReadBytes() / 2 ** 20,
            "shuffle_write_rec": int(s.shuffleWriteRecords()),
            "shuffle_read_rec": int(s.shuffleReadRecords()),
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2 ** 20,
            "name": str(s.name()),
        }
    return jobs, stages


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _stages_of(jobs, stages, pred) -> list[dict]:
    """Stages of the jobs matching ``pred``, each counted once."""
    seen, out = set(), []
    for j in jobs:
        if pred(j):
            for sid in j["stages"]:
                if sid in stages and sid not in seen:
                    seen.add(sid)
                    out.append(stages[sid])
    return out


# -- per-layer metrics of one traced operation --------------------------------

TABLES = ("pages", "frontier", "visited", "metrics")


def _dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_bytes, n_files


def _bloom_state(bloom) -> tuple[float, float]:
    """(fill, estimated false-positive rate) of a JVM sketch filter:
    Spark derives its hash count from (capacity, bits)."""
    m, cap, n = bloom.num_bits, bloom.capacity, bloom.n_added
    k = max(1, round(m / cap * math.log(2)))
    return n / cap, (1 - math.exp(-k * n / m)) ** k


def op_layers(rec: Recorder, op: dict, jobs, stages, level: int) -> dict:
    """Per-layer metrics of one traced operation (values only)."""
    waves = op["waves"]
    windows = [(w["t_start"], w["t_end"]) for w in waves]

    def in_waves(j):
        return any(a <= j["start"] <= b for a, b in windows)

    wave_jobs = [j for j in jobs if in_waves(j)]
    ran = {sid for j in wave_jobs for sid in j["stages"] if sid in stages}
    gap = sum((b - a) - _union_length(
        [(j["start"], j["end"]) for j in wave_jobs], a, b) for a, b in windows)

    def phase(name):
        return sum(w["phases"].get(name, 0.0) for w in waves)

    big = largest_wave(op)
    big_spans = [(s["start"], s["end"]) for s in rec.spans
                 if s["name"] != "crawl.engine.run_wave"]
    unattributed = (big["t_end"] - big["t_start"]) - _union_length(
        big_spans, big["t_start"], big["t_end"])

    rank_stages = _stages_of(jobs, stages,
                             lambda j: j["label"] == _LABEL + "operators.rank")
    big_rank = _stages_of(
        jobs, stages, lambda j: j["label"] == _LABEL + "operators.rank"
        and big["t_start"] <= j["start"] <= big["t_end"])
    agg = max(big_rank, key=lambda s: s["shuffle_write_mb"], default=None)
    probe = max(big_rank, key=lambda s: s["shuffle_read_rec"], default=None)

    # pending before wave k = seeds + links found so far - urls visited;
    # the crawl ends with every seed and found link visited
    pending, done = [], 0
    found = op["urls"] - sum(w["new_links"] for w in waves)
    for w in waves:
        pending.append(found - done)
        found += w["new_links"]
        done += w["selected"]
    fill, fpr = _bloom_state(rec.engines[-1].bloom)

    out = {
        "engine.wave_s": rec.total("crawl.engine.run_wave"),
        "engine.select_s": phase("select"),
        "engine.plan_build_py_s": phase("plan_build_py"),
        "engine.dedup_rank_s": phase("dedup_rank"),
        "engine.commit_wall_s": phase("commit_wall"),
        "engine.bloom_grow_s": phase("bloom_grow"),
        "engine.jobs_per_wave": len(wave_jobs) / len(waves),
        "engine.stages_per_wave": len(ran) / len(waves),
        "engine.driver_gap_s": gap,
        "engine.recover_s": rec.total("crawl.engine.recover"),
        "engine.steady_unattributed_s": unattributed,
        "html.scrape_udf_py_s": phase("scrape_udf_py_s"),
        "html.udf_share": big["phases"].get("scrape_udf_py_s", 0.0)
        / (level * big["seconds"]),
        "seen.bloom_add_s": rec.total("operators.seen.bloom_add"),
        "seen.bloom_save_s": rec.total("operators.seen.bloom_save"),
        "seen.bloom_grows": rec.count("operators.seen.bloom_resize"),
        "seen.bloom_fill": fill,
        "seen.bloom_fpr_est": fpr,
        "rank.call_s": rec.total("operators.rank"),
        "rank.agg_stage_run_s": agg["run_s"] if agg else 0.0,
        "rank.agg_probes_per_s": (probe["shuffle_read_rec"] / probe["run_s"]
                                  if probe and probe["run_s"] else 0.0),
        "rank.agg_map_rows": probe["shuffle_read_rec"] if probe else 0,
        "tables.read_delta_s": rec.total("tables.read_delta"),
        "politeness.quota_plan_s": rec.total("operators.politeness"),
        "politeness.select_frac": sum(w["selected"] for w in waves)
        / sum(pending),
        "export.markdown_s": rec.total("operators.export.markdown")
        / EXPORT_PASSES,
        "export.json_s": rec.total("operators.export.json") / EXPORT_PASSES,
        "export.bytes": op["export_bytes"],
    }
    for key in ("run_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "gc_s"):
        out[f"rank.{key}"] = sum(s[key] for s in rank_stages)
    for t in TABLES:
        out[f"tables.{t}.append_s"] = rec.total(f"tables.{t}.append")
        n_bytes, n_files = _dir_size(os.path.join(op["root"], t))
        out[f"tables.{t}.bytes"] = n_bytes
        out[f"tables.{t}.files"] = n_files
    return out


def traced_window(spark, wl, run_checked, untraced: list[dict],
                  level: int) -> tuple[dict, dict, dict]:
    """One traced operation after the untraced window, plus the layers
    timed alone. Returns {metric: (value, samples)}, the trace (the
    operation's spans and the status store's jobs and stages) and the
    operation."""
    import micro

    rec = Recorder(spark)
    since = time.time()
    rec.install()
    try:
        op = run_checked(lambda: wl.run_op(hooks=rec))
    finally:
        rec.uninstall()
    if op is None:
        raise RuntimeError("the traced operation failed")
    jobs, stages = status_snapshot(spark, since)
    values = op_layers(rec, op, jobs, stages, level)
    values["trace.overhead_frac"] = (
        op["wall_s"] / median(o["wall_s"] for o in untraced) - 1.0)
    out = {k: (v, 1) for k, v in values.items()}
    out.update(micro.layer_rates(spark, wl.seed, run_checked))
    out.update(suite.layer_times(spark, os.path.join(wl.workdir, "suite"),
                                 wl.seed, run_checked))
    return out, {"spans": rec.spans, "jobs": jobs, "stages": stages}, op


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".bytes"):
        return "bytes"
    if name.endswith((".files", "_rows", "_grows", "_per_wave")):
        return "count"
    return "ratio"
