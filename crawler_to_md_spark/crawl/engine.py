"""The distributed BFS crawl engine: driver loop over batch-DataFrame waves.

One wave == one Structured-Streaming-style micro-batch (SURVEY.md C1):

    pending  = frontier ANTI-JOIN visited                  [narrow on key]
    selected = politeness quotas (host windows, global cap)
    fetched  = selected JOIN corpus ON url                 [fetch stage]
    gate     = status==200 AND content_type LIKE 'text/html%'
    scraped  = Arrow scrape UDF (markdown, title, caption, image, links)
    links    = posexplode -> resolve (RFC-3986 UDF) -> defrag -> validity
    new      = links ANTI-JOIN frontier (bloom prefilter + exact backing)
    ranked   = distributed global rank -> discovery_rank continues rowid
    COMMIT   = pages/frontier/bloom/visited appends run CONCURRENTLY
               (all read caches the rank job materialized), then the
               wave MARKER line lands (the actual commit point)

Reference semantics reproduced wave-for-wave (scraper.py:247-376; see
crawl/simulator.py for the line-cited contract). State transitions are
append-only logs — ``visited`` replaces ``UPDATE links SET visited=TRUE``
(database_manager.py:93) with an anti-join at read time, which is the
MERGE-free shape that scales (no copy-on-write of a 10^10-row table each
wave).

Scale notes (designed for 1000 executors / 100 TB, tested on local[32]):
- every join is keyed on xxhash64(url); the corpus/fetch join broadcasts
  only when the wave is small (AQE decides from runtime stats);
- image/page payload BYTES never enter a shuffle: scrape output is joined
  back to payloads by key only at the final append (SURVEY.md §7 hard
  part 4);
- discovery_rank is assigned by a range-partitioned rank, never a
  single-partition window (operators/rank.py);
- the bloom seen-set prunes the duplicate-heavy candidate stream before
  the anti-join shuffle (operators/seen.py);
- crash mid-wave: recovery rolls every table back to the last wave whose
  commit MARKER landed (commits.jsonl), then re-derives the partial wave —
  idempotent replay (SURVEY.md §7 hard part 2). Legacy stores without a
  marker log fall back to the visited-append commit point they were
  written with.
- in unconstrained waves the ``visited`` state is committed BY REFERENCE
  (a virtual delta pointing at the previous wave's frontier append —
  tables.py): with no quota/robots/budget gate, the selected set IS that
  delta, so physically re-writing n_selected (url_hash, url) rows every
  wave was pure write amplification. Only the gate-SKIPPED subset (404s,
  non-HTML — usually empty in steady state) is physically appended and
  carved out of the reference. Constrained and live waves keep the
  physical append.

DURABILITY GUARANTEE: the commit marker is fsync'd, table data is not (by
default) — so recovery is exact for PROCESS crashes (kill -9 anywhere),
while a POWER LOSS could in principle persist the marker but lose a
table's page-cached datafiles, leaving tables at mixed waves. Set
``CrawlConfig.durable_commits=True`` to fsync datafiles + manifests +
CURRENT before each marker (tables.py) and extend the guarantee to power
loss, at the cost of per-wave fsync latency in the commit barrier.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as _pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.html import make_scrape_udf
from ..functions.urls import defrag, host_of, url_hash, valid_link_expr
from ..operators.politeness import (
    apply_global_budget,
    apply_host_quota,
    parse_robots_txt,
    robots_gate,
)
from ..operators.rank import perfect_partition_keys, with_global_rank
from ..operators.seen import anti_join_new, load_seen_set, new_seen_set
from ..tables import SnapshotTable

_RANK_STRIDE = 1 << 20  # legroom so seed ranks & wave ranks never collide
# first-write-wins order-key packing: okey = src_rank * 2^20 + min(pos, 2^20-1)
_OKEY_POS_BITS = 20
_OKEY_POS_SPAN = 1 << _OKEY_POS_BITS


def _npart(n_rows: int, rows_per_file: int = 50_000, cap: int = 32) -> int:
    """Write-side partition count: balances the small-files explosion
    (one file per shuffle partition per wave) against write parallelism.
    ``cap`` tracks cluster size (defaultParallelism) — a hard-coded cap
    would serialize the commit on a 1000-executor cluster."""
    return max(1, min(cap, (n_rows + rows_per_file - 1) // rows_per_file))


def _bucket_by_cuts(col, cuts: list[int]):
    """Bucket id = number of ``cuts`` (sorted ascending) <= ``col``, as a
    binary-search CASE tree: monotone in ``col``, ids in
    ``[0, len(cuts)]``. Repeated cuts leave empty buckets."""

    def pick(lo: int, hi: int):  # the id lies in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2  # id >= mid  <=>  col >= cuts[mid - 1]
        return F.when(col >= F.lit(cuts[mid - 1]), pick(mid, hi)).otherwise(
            pick(lo, mid - 1))

    return pick(0, len(cuts))


def needs_repartition_for_map(n_files: int | None, parallelism: int) -> bool:
    """Whether a per-row fetch wave must shuffle the pending URL rows
    before its map stage. With no shuffle between the frontier-delta read
    and the scrape/link map work, map parallelism equals the delta's FILE
    count; a 1-file delta would run the whole wave in one task. But the
    repartition costs a full shuffle + an AQE boundary (~1 s of wall per
    steady wave at 8 cores), while running the map stage a file short of
    the core count only idles those cores for a fraction of ONE stage —
    and near-miss counts are the COMMON case, because _npart caps at
    defaultParallelism yet a rank bucket can hash empty (7-of-8 files).
    So shuffle only when the parallelism loss exceeds 2x: unknown file
    count, or fewer files than half the cores. The floor of 2 catches the
    1-file delta at parallelism 2 (1 < 2//2 would skip the shuffle and run
    the whole wave in one task)."""
    return n_files is None or n_files < max(2, parallelism // 2)


_ROBOTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("disallow_prefix", T.StringType()),
    T.StructField("fetched_at", T.DoubleType()),
])


def resolve_dedup_pre_shuffle(setting: bool | None, master: str | None) -> bool:
    """Resolve CrawlConfig.dedup_pre_shuffle's AUTO (None) setting from
    the Spark master URL: ``local`` / ``local[N]`` / ``local[*]`` /
    ``local-cluster[...]`` all run every executor inside one host memory
    system, where the pre-shuffle plan's cache-resident agg maps win
    (measured: steady wave 22.7s -> 16.7s at 8 pinned cores); any other
    master (yarn, k8s, spark://, mesos) is presumed to shuffle across a
    network, where map-side combine's ~branching-fold volume reduction
    dominates. An explicit True/False always wins."""
    if setting is not None:
        return setting
    return bool(master) and master.startswith("local")


@dataclass
class CrawlConfig:
    base_url: str | None = None
    include_patterns: list[str] = field(default_factory=list)
    exclude_patterns: list[str] = field(default_factory=list)
    include_selectors: list[str] = field(default_factory=list)
    exclude_selectors: list[str] = field(default_factory=list)
    seed_list_mode: bool = False          # C2: skip discovery entirely
    per_host_budget: int | None = None    # politeness quota per wave
    global_budget: int | None = None      # reference rate_limit parity knob
    # live-fetch mode: when the engine is run with corpus=None, the fetch
    # stage is sources.http_fetch.fetch_http (mapInPandas HTTP GET) using
    # this fetch_fn (None => requests-backed default) and per-host pacing
    fetch_fn: object | None = None
    min_interval_s: float = 0.0           # reference --delay (scraper.py:302-321)
    # DataFrame-level fetch: fn(pending) -> pending + response columns
    # (status, content_type, html, image payload). Used with corpus=None
    # when the response is computable per-row (synthetic benches: cost
    # O(wave) like real HTTP, not O(corpus) like the join simulation).
    # MUST BE DETERMINISTIC in the URL columns: the engine re-executes the
    # fetch plan within a wave (the scrape pass and, when gate-skipped
    # rows exist, the skipped-subset materialization run it separately)
    # and relies on both passes agreeing on _gate/status per URL. A
    # nondeterministic source belongs in fetch_fn (live mode), whose
    # output is cached after one execution.
    fetch_df_fn: object | None = None
    max_waves: int | None = None
    use_bloom: bool = True
    # bloom sizing: total bits = shards x bits/shard (2^24 = 2 MiB
    # default — 16 bits/key at 1M frontier URLs; FPs only cost exact-join
    # probes). The JVM impl treats it as ONE filter of that many bits.
    bloom_shards: int = 16
    bloom_bits_per_shard: int = 1 << 20
    bloom_impl: str = "jvm"               # 'jvm' (codegen probe) | 'numpy'
    # JVM-impl growth: start the filter this small and amortized-double it
    # (rebuild from one narrow frontier scan) as keys accumulate — the
    # serialized blob rides in EVERY stage's task binary and is
    # hex-rendered for every plan-description event, so a corpus-sized
    # filter from wave 1 taxes each early wave with multi-MB serialization
    # for a frontier of a few hundred URLs. None = fixed shards x bits.
    bloom_initial_bits: int | None = 1 << 16
    salt: int = 8
    salt_threshold: int = 100_000
    # robots handling for LIVE crawls (corpus=None): fetch /robots.txt per
    # newly-seen host, parse (operators/politeness.py, RFC 9309 subset),
    # persist as a (host, disallow_prefix, fetched_at) snapshot table with
    # TTL re-fetch, and gate every wave. Default OFF: the reference never
    # reads robots.txt (no occurrence in crawler_to_md/) so parity runs
    # stay permissive. robots_fetch_fn(host)->body|None overrides the
    # requests-backed default (tests inject; None body => permissive).
    respect_robots: bool = False
    robots_ttl_s: float = 3600.0
    robots_fetch_fn: object | None = None
    robots_agent: str = "*"
    # refreshes covering more hosts than this run as ONE distributed
    # mapInPandas job instead of a serial driver loop: a cold start on a
    # 10^5-host frontier must not serialize 10^5 HTTP round-trips on the
    # driver (VERDICT r4 #5). Small refreshes (the steady case: a few
    # new/expired hosts per wave) keep the zero-job driver loop.
    robots_distributed_threshold: int = 100
    durable_commits: bool = False         # fsync table commits (power loss)
    # first-write-wins dedup physical strategy. False: classic map-side
    # combine — each map task partially aggregates the exploded candidate
    # stream before the shuffle, minimizing shuffle volume (the right
    # choice on a real cluster where network moves the bytes). True:
    # repartition the RAW exploded stream by url_hash first, so both
    # aggregation passes run post-shuffle where each task only ever sees
    # its own key range — per-task hash maps shrink from
    # O(distinct keys in the wave) to O(distinct/partitions) and stay
    # cache-resident, trading ~branching x more (sequential) shuffle bytes
    # for the elimination of DRAM-latency-bound random probes into
    # hundreds-of-MB maps. Wins on hosts where cores share a memory
    # system (the bench's measured random-access N->4N grant is ~2.3x vs
    # ~4x sequential); loses where shuffle crosses a network.
    # None (default) = AUTO: decided from spark.master at run time —
    # local* masters are a single memory system (shuffle is a memcpy, the
    # agg-map locality win dominates) => True; anything else is presumed
    # networked => False (resolve_dedup_pre_shuffle; VERDICT r4 #6).
    dedup_pre_shuffle: bool | None = None
    profile: bool = False  # per-phase wall timings into wave metrics


class CrawlEngine:
    def __init__(self, spark: SparkSession, root: str, config: CrawlConfig | None = None):
        self.spark = spark
        self.root = root
        self.cfg = config or CrawlConfig()
        durable = self.cfg.durable_commits
        self.frontier = SnapshotTable(os.path.join(root, "frontier"), durable)
        self.visited = SnapshotTable(os.path.join(root, "visited"), durable)
        self.pages = SnapshotTable(os.path.join(root, "pages"), durable)
        self.metrics = SnapshotTable(os.path.join(root, "metrics"), durable)
        # robots cache (live crawls, cfg.respect_robots): rows
        # (host, disallow_prefix|NULL, fetched_at); latest fetched_at per
        # host wins, NULL prefix = "fetched, nothing disallowed" (the row
        # exists so the TTL applies to permissive hosts too)
        self.robots = SnapshotTable(os.path.join(root, "robots"), durable)
        self._bloom_path = os.path.join(root, "bloom", "seen.npz")
        # wave-commit marker log: a wave is committed iff its marker line
        # landed here. Decoupling the marker from any one table lets the
        # four per-wave commits (pages, frontier, bloom, visited) run
        # CONCURRENTLY — recovery rolls every table back to the last
        # marked wave, so partial parallel commits are always discarded.
        # Stores written before this format (<= round 2) have no log;
        # last_committed_wave() falls back to their visited snapshots.
        self._commit_log = os.path.join(root, "commits.jsonl")
        # frontier feeding: when no scheduler constraint (quota/robots/
        # budget) can defer rows, wave k+1's pending set IS wave k's new
        # discoveries — handed over as the frontier append's DELTA FILES
        # (a lineage-free parquet read; holding the DataFrame itself would
        # chain every wave's plan into the next and blow up analysis time).
        # Falls back to the exact anti-join whenever constraints are
        # configured or on resume. _fast_next_count carries the delta's
        # row count (known driver-side from the append's parquet footers /
        # rank totals) so the next wave never runs a count() job.
        self._fast_next: DataFrame | None = None
        self._fast_next_count: int | None = None
        # the delta's parquet file count: when it already matches the
        # cluster parallelism, the per-row fetch path skips its
        # parallelism-restoring repartition (one less shuffle + AQE stage
        # per wave — the fixed driver cost per stage is what caps N->4N
        # scaling once the parallel work is balanced)
        self._fast_next_nfiles: int | None = None
        # the delta's discovery_rank lower bound (ranks are contiguous in
        # [lo, lo+count)): lets the wave derive deterministic rank buckets
        # instead of paying repartitionByRange's sampling recompute
        self._fast_next_lo: int | None = None
        # the delta's parquet files: the next wave's visited state is
        # committed as a virtual reference to exactly these files
        self._fast_next_files: list[str] | None = None
        self._metrics_buf: list[tuple] = []
        # lagged pages commit (run() loop only): the previous wave's pages
        # append + marker + cache release, drained at the next wave's
        # commit stage so the wave's most expensive write overlaps the
        # next wave's compute instead of sitting in the barrier
        self._lag: dict | None = None
        self._lag_enabled = False
        self._commit_pool: ThreadPoolExecutor | None = None
        # loop-invariant wave-plan expressions, built once per engine at
        # first use (_wave_exprs): every F.* call is py4j round trips, and
        # rebuilding the identical Column tree each wave was ~0.5-0.7s of
        # the 8-core steady wave's driver time (plan_build_py phase)
        self._exprs: dict | None = None
        # optional Spark accumulator: the scrape UDF adds its Python batch
        # seconds here (bench sub-profiling of the wave's one hot pass)
        self.scrape_time_acc = None
        # write-side partition cap tracks cluster size (VERDICT r1 #7)
        self._wcap = max(1, spark.sparkContext.defaultParallelism)
        self.bloom = None
        if self.cfg.use_bloom:
            if os.path.exists(self._bloom_path):
                # format-agnostic load (JVM blob or legacy numpy npz); an
                # unreadable file must trigger an exact rebuild from the
                # frontier — an empty bloom would false-negative every
                # seen URL and re-crawl the store
                self.bloom = load_seen_set(self._bloom_path, spark)
                if self.bloom is None:
                    self.bloom = self._new_bloom()
                    if self.frontier.exists():
                        self.bloom.add_distributed(self.frontier.read(spark))
                    self.bloom.save(self._bloom_path)
                elif (self.cfg.bloom_initial_bits is not None
                      and hasattr(self.bloom, "growable")):
                    # engine-owned filters grow; files from before growth
                    # tracking load with n_added=capacity, so this flag
                    # alone triggers a right-sizing rebuild next wave
                    self.bloom.growable = True
            else:
                self.bloom = self._new_bloom()

    def _new_bloom(self):
        return new_seen_set(
            self.spark, self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard,
            impl=self.cfg.bloom_impl,
            initial_bits=self.cfg.bloom_initial_bits,
        )

    def _bloom_fits_config(self) -> bool:
        """Whether the loaded filter is what _new_bloom() builds from the
        current config: under a growable config any JVM filter (growth,
        not the config, sets its size as keys arrive; the loader marks it
        growable), else a fixed JVM filter of shards x bits. Numpy filters
        keep no ``n_added``, so recover() rebuilds them anyway."""
        from ..operators.seen import JvmBloomSeenSet

        b, cfg = self.bloom, self.cfg
        if cfg.bloom_impl != "jvm" or not isinstance(b, JvmBloomSeenSet):
            return False
        if cfg.bloom_initial_bits is not None:
            return b.growable
        return (not b.growable
                and b.num_bits == cfg.bloom_shards * cfg.bloom_bits_per_shard)

    def _grow_bloom(self) -> None:
        """Amortized-doubling rebuild (seen.py class docstring): a fresh
        filter pre-sized for the CURRENT frontier (4x headroom) re-adds
        every frontier key in one narrow column-scan agg job. Runs OUTSIDE
        the wave's commit barrier — a crash mid-rebuild leaves the
        previous (full but overloaded) filter on disk: FP-heavier, never
        false-negative."""
        from ..operators.seen import JvmBloomSeenSet

        fresh = JvmBloomSeenSet(self.spark, num_bits=1 << 13, growable=True)
        fresh._resize(self.bloom.n_added)
        fresh.add_distributed(self.frontier.read(self.spark),
                              n_rows=self.bloom.n_added)
        self.bloom = fresh
        self.bloom.save(self._bloom_path)

    # ------------------------------------------------------------------ seeds

    def seed(self, seeds: list[str] | None = None, single_url: str | None = None):
        """Insert seeds as wave 0 (reference scraper.py:258-272):
        list seeds validated, single --url NOT validated, no defrag,
        first-occurrence order preserved (utils.py:93-105)."""
        rows = []
        seen: set[str] = set()
        for s in seeds or []:
            if s not in seen:
                seen.add(s)
                rows.append((s, len(rows), True))
        if single_url is not None and single_url not in seen:
            rows.append((single_url, len(rows), False))
        # pandas-sourced (Arrow) local frame: a list-of-tuples
        # createDataFrame ships pickled rows whose scan launches a Python
        # worker (~1s of fixed cost) on every action over the plan
        df = self.spark.createDataFrame(
            _pd.DataFrame(rows, columns=["url", "pos", "needs_validation"]),
            "url string, pos long, needs_validation boolean",
        )
        valid = valid_link_expr(
            F.col("url"),
            self.cfg.base_url,
            self.cfg.include_patterns,
            self.cfg.exclude_patterns,
        )
        df = df.filter(~F.col("needs_validation") | valid)
        seeded = df.select(
            url_hash(F.col("url")).alias("url_hash"),
            F.col("url"),
            host_of(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("wave_discovered"),
            F.col("pos").alias("discovery_rank"),
            F.lit(None).cast("long").alias("src_rank"),  # seeds: no source
        )
        # seed stats (count, max rank) come from the append's parquet
        # footers instead of a separate agg job — with the driver-side
        # empty-visited write below, seeding costs TWO Spark jobs (write +
        # bloom) instead of four; at ~0.3-0.5s of fixed cost per job this
        # was a measurable slice of every run's non-scaling overhead
        manifest = self.frontier.append(
            seeded,
            {"wave": 0, "kind": "seeds"},
            target_partitions=1,
            footer_stats={"max_rank": "discovery_rank"},
        )
        manifest["summary"].setdefault("max_rank", 0)
        n_seeds = int(manifest["summary"]["rows"])
        # wave-0 commit: an empty visited append keeps legacy readers
        # consistent; the marker line is the actual commit point
        self.visited.append_local(
            [],
            T.StructType([
                T.StructField("url_hash", T.LongType()),
                T.StructField("url", T.StringType()),
                T.StructField("wave_visited", T.IntegerType()),
                T.StructField("status", T.StringType()),
            ]),
            {"wave": 0},
        )
        self._mark_committed(0)
        self._fast_next = self.frontier.read_delta(self.spark, manifest)
        if self.bloom is not None:
            self.bloom.add_distributed(self._fast_next, n_rows=n_seeds)
            self.bloom.save(self._bloom_path)
        self._fast_next_count = n_seeds
        self._fast_next_lo = 0
        self._fast_next_nfiles = len(manifest["delta_files"])
        self._fast_next_files = manifest["delta_files"]

    def seed_if_new(self, seeds: list[str] | None = None,
                    single_url: str | None = None) -> int:
        """Resume-path seeding (reference scraper.py:258-272 re-runs the
        validated INSERT OR IGNORE every run): anti-join the seed list
        against the existing frontier and append only the new ones, ranked
        after everything discovered so far. Returns the number inserted.

        A rerun with the same seed list inserts nothing: when every seed
        URL is already in the frontier's seed deltas (read driver-side
        with pyarrow; they are the size of the seed list), this returns 0
        without a Spark job. Any miss takes the anti-join."""
        rows = []
        seen: set[str] = set()
        for s in seeds or []:
            if s not in seen:
                seen.add(s)
                rows.append((s, len(rows), True))
        if single_url is not None and single_url not in seen:
            rows.append((single_url, len(rows), False))
        if not rows:
            return 0
        on_file = self.frontier.delta_values("seeds", "url")
        if on_file is not None and {r[0] for r in rows} <= set(on_file):
            return 0
        df = self.spark.createDataFrame(  # pandas-sourced: see seed()
            _pd.DataFrame(rows, columns=["url", "pos", "needs_validation"]),
            "url string, pos long, needs_validation boolean",
        )
        valid = valid_link_expr(
            F.col("url"), self.cfg.base_url,
            self.cfg.include_patterns, self.cfg.exclude_patterns,
        )
        base = self._next_rank_base()
        cand = df.filter(~F.col("needs_validation") | valid).select(
            url_hash(F.col("url")).alias("url_hash"),
            F.col("url"),
            host_of(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("wave_discovered"),
            (F.col("pos") + F.lit(base)).alias("discovery_rank"),
            F.lit(None).cast("long").alias("src_rank"),
        )
        existing = self.frontier.read(self.spark).select("url_hash", "url")
        new = anti_join_new(cand, existing, bloom=self.bloom).persist()
        stats = new.agg(
            F.max("discovery_rank").alias("m"), F.count("*").alias("c")
        ).collect()[0]
        n_new = int(stats["c"])
        if n_new > 0:
            self.frontier.append(
                new, {"wave": self.last_committed_wave(), "kind": "seeds",
                      "max_rank": int(stats["m"])},
                target_partitions=1,
            )
            if self.bloom is not None:
                self.bloom.add_distributed(new, n_rows=n_new)
                self.bloom.save(self._bloom_path)
        new.unpersist()
        return n_new

    # --------------------------------------------------------------- recovery

    def _mark_committed(self, wave: int) -> None:
        """Append the wave's commit marker (fsync'd: the marker IS the
        wave's commit point — a crash before it rolls the wave back).
        NB the guarantee is PROCESS-crash-exact by default: table
        datafiles are not fsync'd unless cfg.durable_commits, so only
        with that flag is marker-durable => tables-durable under power
        loss (module docstring, DURABILITY GUARANTEE)."""
        with open(self._commit_log, "a") as f:
            f.write(json.dumps({"wave": wave}) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def _wave_exprs(self) -> dict:
        """Loop-invariant Column objects / UDF invocations of the wave
        plan, built ONCE per engine. Column objects are immutable
        unresolved expressions, safe to reuse across DataFrames and
        waves; only wave-varying literals (wave number, rank bounds)
        are constructed per wave."""
        if self._exprs is not None:
            return self._exprs
        cfg = self.cfg
        scrape = make_scrape_udf(
            cfg.include_selectors or None,
            cfg.exclude_selectors or None,
            extract_links_too=not cfg.seed_list_mode,
            time_acc=self.scrape_time_acc,
        )
        ok = ((F.col("status") == 200)
              & F.col("content_type").startswith("text/html"))
        # defragmented candidate link — inlined into the fused link
        # filter and projection below (Column objects are immutable and
        # reusable, but need an active SparkContext to construct, so
        # this cannot be a module-level constant)
        _LINK = defrag(F.col("href"))
        self._exprs = {
            "scrape_col": scrape(F.col("html"), F.col("url")),
            "gate": F.when(ok.isNull(), F.lit(False)).otherwise(ok),
            "explode_sel": [
                F.col("discovery_rank").alias("src_rank"),
                F.col("depth").alias("src_depth"),
                F.posexplode_outer(F.col("_s.links")).alias("pos", "href"),
            ],
            # fused link chain (r6): the old shape was 5 Dataset ops
            # (select/filter/withColumn/filter/select), each an eager
            # JVM re-analysis of the growing wave plan — ~0.1 s/wave of
            # plan_build_py. The defrag expr is inlined into the filter
            # and the projection instead of materializing a "link"
            # column; whole-stage codegen's subexpression elimination
            # evaluates it once per row, and substring_index is cheap
            # either way. (This filter sits above the posexplode
            # generator, so the scan-pushdown expression-inlining tax of
            # r5 finding 4 cannot apply.)
            "link_filter": F.col("href").isNotNull() & valid_link_expr(
                _LINK, cfg.base_url,
                cfg.include_patterns, cfg.exclude_patterns,
            ),
            "link_sel": [
                url_hash(_LINK).alias("url_hash"),
                _LINK.alias("url"),
                ((F.col("src_rank") * _OKEY_POS_SPAN)
                 + F.least(F.col("pos"),
                           F.lit(_OKEY_POS_SPAN - 1))).alias("okey"),
                (F.col("src_depth") + 1).alias("depth"),
            ],
            "agg_sel": [
                F.min("okey").alias("okey"),
                F.min_by("depth", "okey").alias("depth"),
            ],
            "agg_out_sel": [
                "url_hash", "url",
                host_of(F.col("url")).alias("host"),
                "depth",
                F.shiftright("okey", _OKEY_POS_BITS).alias("src_rank"),
                F.col("okey").bitwiseAND(_OKEY_POS_SPAN - 1).alias("pos"),
                "okey",
            ],
            "pages_sel": [
                "url_hash", "url", "host", "discovery_rank",
                F.col("_s.content").alias("content"),
                F.create_map(F.lit("title"),
                             F.col("_s.title")).alias("metadata"),
                F.col("_s.caption").alias("page_caption"),
                F.col("_s.image_id").alias("page_image_id"),
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            ],
        }
        return self._exprs

    def _drain_lag(self) -> None:
        """Complete the previous wave's lagged commits (pages append and,
        on elide waves, the visited-by-ref commit chained on it): wait
        for the futures, write the wave's marker, patch the pages count
        (pages footers) into the wave's metric dict and buffered metrics
        row, and release the wave's caches. A failed commit re-raises
        here and leaves no marker — recovery replays the lagged wave,
        exactly as if its barrier had failed in place."""
        lag, self._lag = self._lag, None
        if lag is None:
            return
        try:
            for fut in lag["futs"]:
                fut.result()
            self._mark_committed(lag["wave"])
            n_pages = int(lag["results"]["pages"]["summary"]["rows"])
            lag["m"]["pages"] = n_pages
            w, sel, _, nnew, dt = self._metrics_buf[lag["buf_idx"]]
            self._metrics_buf[lag["buf_idx"]] = (w, sel, n_pages, nnew, dt)
        finally:
            for df in lag["caches"]:
                df.unpersist()

    def last_committed_wave(self) -> int:
        if os.path.exists(self._commit_log):
            last = -1
            with open(self._commit_log) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:  # a torn tail line from a mid-write crash is
                        last = max(last, int(json.loads(line)["wave"]))
                    except (ValueError, KeyError):  # an uncommitted wave
                        pass
            return last
        # legacy store (format <= round 2): the visited append, which was
        # then the last sequential step of a wave, doubled as the marker
        if not self.visited.exists():
            return -1
        waves = [s["summary"].get("wave", -1) for s in self.visited.snapshots()]
        return max(waves, default=-1)

    def recover(self) -> int:
        """Roll every table back to the last marked wave; returns that
        wave. Idempotent. ``visited`` is included: its append runs in
        parallel with the others inside a wave, so it too can be ahead of
        the marker after a crash. Each table walks back from CURRENT, so a
        store already at its last marked wave parses one manifest per
        table.

        The bloom is rebuilt from the frontier unless all four hold: no
        table was rolled back, the marker log already existed, the loaded
        filter's ``n_added`` equals the frontier's manifest row total, and
        the filter is of the kind and size the current config builds
        (_bloom_fits_config). Then the file on disk was saved with the
        frontier it describes (bloom saves land before the wave marker),
        and a finished store reopens without a Spark job."""
        last = self.last_committed_wave()
        rolled = False
        for tbl in (self.frontier, self.pages, self.metrics, self.visited):
            rolled |= tbl.rollback_to_last(
                lambda s: s.get("wave", -1) <= last)
        had_log = os.path.exists(self._commit_log)
        # legacy-format upgrade: establish the marker log at the recovered
        # wave so subsequent (parallel) commits have a consistent baseline
        if last >= 0 and not had_log:
            self._mark_committed(last)
        if self.bloom is not None and self.frontier.exists():
            n_added = getattr(self.bloom, "n_added", None)
            if (not rolled and had_log and n_added is not None
                    and n_added == self.frontier.totals().get("total_rows")
                    and self._bloom_fits_config()):
                return last
            # bloom may be ahead of the rolled-back frontier; rebuild exactly
            self.bloom = self._new_bloom()
            fr = self.frontier.read(self.spark)
            if fr.limit(1).count() > 0:
                self.bloom.add_distributed(fr)
            self.bloom.save(self._bloom_path)
        return last

    # ------------------------------------------------------------------- wave

    def pending(self) -> DataFrame:
        fr = self.frontier.read(self.spark)
        vis = self.visited.read(self.spark).select("url_hash", "url")
        return fr.join(vis, ["url_hash", "url"], "left_anti")

    def _pending_from_manifests(self) -> int | None:
        """Pending row count from manifest totals alone (no Spark job):
        frontier rows are unique and visited rows are a subset of them
        (Σ frontier ≥ Σ visited), so the difference IS the pending count.
        None when a table's manifests carry no row counts."""
        f = self.frontier.totals().get("total_rows")
        v = self.visited.totals().get("total_rows")
        return None if f is None or v is None else f - v

    def _next_rank_base(self) -> int:
        """Rank watermark from manifest summaries (no Spark job): every
        frontier append records its max_rank and CURRENT carries the
        running max (tables.py); the next wave's base is the next stride
        boundary above it."""
        m = int(self.frontier.totals().get("running_max_rank", -1))
        if m < 0 and self.frontier.exists():  # legacy store without watermarks
            row = self.frontier.read(self.spark).agg(
                F.max("discovery_rank").alias("m")
            ).collect()[0]
            m = int(row["m"]) if row["m"] is not None else -1
        return (m // _RANK_STRIDE + 1) * _RANK_STRIDE

    def run_wave(
        self, wave: int, corpus: DataFrame, robots_rules: DataFrame | None = None
    ) -> dict:
        cfg = self.cfg
        t0 = time.time()
        phases: dict[str, float] = {}
        _last = [t0]

        def tick(name: str) -> None:
            now = time.time()
            phases[name] = round(phases.get(name, 0.0) + now - _last[0], 3)
            _last[0] = now

        constrained = (
            robots_rules is not None
            or cfg.per_host_budget is not None
            or cfg.global_budget is not None
        )
        recomputable = corpus is not None or cfg.fetch_df_fn is not None
        fast = self._fast_next_count is not None and not constrained
        wave_caches: list = []  # persisted intermediates, unpersisted at wave end
        # rank buckets (_run_wave_body): 4x MORE buckets than partitions —
        # the rank shuffle hashes bucket ids into partitions, and hashing
        # nb ids into nb partitions leaves ~37% of partitions EMPTY (at 2
        # partitions, a coin flip serializes the whole next wave onto one
        # core); 4x oversampling balances occupancy and keeps the delta's
        # file count == parallelism so the next wave's repartition skip
        # stays active
        nb = 4 * self.spark.sparkContext.defaultParallelism
        # each discovered link's rank bucket, a Column over its src_rank
        # (the selected row that found it), derived driver-side below
        bucket = None
        if fast:
            # n_selected is KNOWN driver-side (last wave's rank total /
            # seed append footers) — no count() job, no persist: the delta
            # parquet read feeds straight into the (persisted) fetch stage
            n_selected = self._fast_next_count
            if n_selected == 0:
                self._fast_next = None
                self._fast_next_count = None
                self._fast_next_lo = None
                self._fast_next_files = None
                return {"wave": wave, "fetched": 0, "done": True}
            pending = self._fast_next
            # ranks are contiguous in [lo, lo + count): equal-span buckets
            bucket = F.least(
                F.lit(nb - 1),
                F.greatest(
                    F.lit(0),
                    ((F.col("src_rank") - F.lit(self._fast_next_lo))
                     * nb / F.lit(n_selected)).cast("int"),
                ),
            )
        elif self._pending_from_manifests() == 0:
            n_selected = 0  # manifest totals: nothing pending, no Spark job
        else:
            pending = self.pending()
            if robots_rules is not None:
                pending = robots_gate(pending, robots_rules)
            if cfg.per_host_budget is not None:
                pending = apply_host_quota(
                    pending, cfg.per_host_budget,
                    order_cols=["depth", "discovery_rank"],
                    salt=cfg.salt, salt_threshold=cfg.salt_threshold,
                )
            if cfg.global_budget is not None:
                pending = apply_global_budget(pending, cfg.global_budget,
                                              persist_registry=wave_caches)
            pending = pending.persist()
            wave_caches.append(pending)
            # count + rank quantiles in one agg over the persisted pick.
            # Its ranks span several waves' strides (_RANK_STRIDE gaps),
            # so equal-SPAN buckets would put nearly every row in one or
            # two of them; equal-COUNT cuts keep the buckets balanced.
            st = pending.agg(
                F.count("*").alias("n"),
                F.percentile_approx(
                    "discovery_rank", [i / nb for i in range(1, nb)]
                ).alias("cuts"),
            ).collect()[0]
            n_selected = int(st["n"])
            if n_selected:
                bucket = _bucket_by_cuts(F.col("src_rank"),
                                         [int(c) for c in st["cuts"]])
        fast_nfiles = self._fast_next_nfiles if fast else None
        src_delta_files = self._fast_next_files if fast else None
        self._fast_next = None
        self._fast_next_count = None
        self._fast_next_lo = None
        self._fast_next_nfiles = None
        self._fast_next_files = None
        tick("select")
        # visited-by-reference (module docstring): only possible when the
        # selected set IS the previous frontier delta (fast path) and the
        # fetch is deterministic/recomputable (the skipped subset, if any,
        # is re-derived from the fetch plan)
        elide_visited = fast and recomputable and src_delta_files is not None
        if n_selected == 0:
            for df in wave_caches:
                df.unpersist()
            return {"wave": wave, "fetched": 0, "done": True}
        if src_delta_files:
            self._pin_scan_splits(src_delta_files)

        try:
            return self._run_wave_body(
                wave, corpus, cfg, pending, n_selected, bucket, nb,
                fast_nfiles, src_delta_files, elide_visited, recomputable,
                constrained, wave_caches, phases, tick, t0,
            )
        finally:
            # a failed commit/job must not leak the wave's cache entries
            # into a long-lived session (ADVICE r3): every persisted frame
            # of the wave is registered in wave_caches
            for df in wave_caches:
                df.unpersist()

    def _pin_scan_splits(self, files: list[str]) -> None:
        """One parquet file -> exactly ONE scan split for this wave's jobs.

        Spark packs small files into FilePartitions greedily by size
        (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
        totalBytes/cores))), so the steady wave's 8 EQUAL delta files
        (rank.py perfect placement) routinely land in 7 bins with one bin
        carrying two files — a built-in 2x straggler on the wave's
        dominant stage at the high parallelism level. The balanced files
        make the identity assignment optimal: set BOTH knobs to just above
        the largest file, so a second file always overflows the split
        (openCost alone exceeds the remaining room) while no single file
        is ever chopped in two. Session-scoped; refreshed each wave with
        that wave's actual file sizes and restored by run()'s finally."""
        try:
            mx = max(os.path.getsize(f) for f in files)
        except OSError:
            return  # non-local paths: keep Spark's defaults
        v = str(max(4 << 20, mx + 1))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        self.spark.conf.set("spark.sql.files.openCostInBytes", v)

    def _run_wave_body(
        self, wave, corpus, cfg, pending, n_selected, bucket, nb,
        fast_nfiles, src_delta_files, elide_visited, recomputable,
        constrained, wave_caches, phases, tick, t0,
    ) -> dict:
        acc0 = (self.scrape_time_acc.value
                if self.scrape_time_acc is not None else None)

        # ---- fetch stage: corpus join (sandbox; see corpus.py) or live
        # HTTP mapInPandas (sources/http_fetch.py) when corpus is None
        if corpus is None:
            # decouple the wave's heavy map stage from the delta's file
            # layout: for big waves, hash-repartition the pending rows on
            # url_hash before the fetch/scrape/agg pipeline. Measured at
            # the steady wave (983k rows, 8 pinned cores): the scan-rooted
            # fused stage burns ~1.3-2x the JVM CPU of the split
            # scan->shuffle->map shape and inherits any file imbalance,
            # while the narrow-row shuffle costs ~1s of a 16s wave.
            # Column-hash partitioning (not bare repartition(n)): round
            # robin must LOCAL-SORT every row first for deterministic
            # retries (spark.sql.execution.sortBeforeRepartition), which
            # was most of the old shuffle's cost; url_hash is uniform so
            # occupancy is even. Small waves skip the shuffle (fixed AQE
            # boundary cost dominates) unless the file count would halve
            # map parallelism — see needs_repartition_for_map.
            par = self.spark.sparkContext.defaultParallelism
            big_min = int(os.environ.get("SPARK_GRAFT_FETCH_REPART_MIN",
                                         "50000"))
            fac = int(os.environ.get("SPARK_GRAFT_FETCH_REPART_FACTOR", "1"))
            if (needs_repartition_for_map(fast_nfiles, par)
                    or n_selected >= big_min):
                pending = pending.repartition(fac * par, F.col("url_hash"))
        if corpus is not None:
            corpus_k = corpus.drop("host").withColumnRenamed("url", "c_url")
            fetched = pending.join(
                corpus_k, pending["url"] == corpus_k["c_url"], "left"
            ).drop("c_url")
        elif cfg.fetch_df_fn is not None:
            fetched = cfg.fetch_df_fn(pending)
        else:
            from ..sources.http_fetch import fetch_http

            fetched = fetch_http(
                pending, fetch_fn=cfg.fetch_fn,
                min_interval_s=cfg.min_interval_s,
            )
            # live fetch carries no image payload (the reference fetches
            # HTML only — scraper.py:327); pages keep the corpus schema
            fetched = (
                fetched.withColumn("image_id", F.lit(None).cast("string"))
                .withColumn("bytes", F.lit(None).cast("binary"))
                .withColumn("w", F.lit(None).cast("int"))
                .withColumn("h", F.lit(None).cast("int"))
                .withColumn("fmt", F.lit(None).cast("string"))
                .withColumn("caption", F.lit(None).cast("string"))
                .withColumn("phash", F.lit(None).cast("long"))
            )

        ex = self._wave_exprs()
        # the steady (elide) wave never reads _gate as a column — only as
        # a predicate — so skip materializing it there (one less Dataset
        # op per wave; each op is an eager JVM re-analysis of the plan)
        if not (recomputable and elide_visited):
            fetched = fetched.withColumn("_gate", ex["gate"])
        # HTML never enters a cache: building a columnar cache of the raw
        # pages (~0.4 KB/row compressed + decompression on every read) was
        # the steady wave's single hottest stage, and it is pure memory
        # traffic — the component that scales WORST across cores on a
        # bandwidth-shared host. Deterministic fetch paths (corpus join /
        # column-level fetch fn) let column pruning re-run the fetch with
        # the html column PRUNED away wherever content isn't needed. The
        # live HTTP path cannot re-fetch, so it alone keeps the full-row
        # cache. When the visited state is committed by reference
        # (elide_visited) no visited-source cache exists at all — the
        # gate-skipped subset, usually empty, is re-derived on demand.
        visited_src = None
        if recomputable:
            if not elide_visited:
                visited_src = fetched.select(
                    "url_hash", "url", "_gate"
                ).persist()
                wave_caches.append(visited_src)
        else:
            fetched = fetched.persist()
            visited_src = fetched
            wave_caches.append(fetched)

        # ---- scrape stage (single pass over HTML: content + links); the
        # raw html column is dropped before the cache — no consumer reads
        # it (links use _s.links, pages use _s.content), and it would
        # triple the cache's byte volume
        gate_pred = (ex["gate"] if (recomputable and elide_visited)
                     else F.col("_gate"))
        scraped = (
            fetched.filter(gate_pred)
            .withColumn("_s", ex["scrape_col"])
            .drop("html")
            .persist()
        )
        wave_caches.append(scraped)

        # ---- discovery stage FIRST: the rank offset job is the wave's one
        # materializing pass — it fills the scraped cache (and in live mode
        # the fetched cache) with full input parallelism, so the coalesced
        # appends below only read cache. (Running pages.append first would
        # run the scrape UDF inside the coalesced write tasks, collapsing
        # parallelism.)
        n_new = 0
        ranked = pinned = None
        if not cfg.seed_list_mode:
            # (expressions from _wave_exprs; "okey" is the first-write-
            # wins order key (src_rank, pos) PACKED into one long:
            # min(long) + min_by(long, long) run as a map-side-combining
            # HashAggregate, where the previous min(struct(...)) fell
            # back to SortAggregate — two full sorts of the exploded
            # candidate stream per wave. Bound: src_rank < 2^43 with pos
            # capped at 2^20-1; links past the millionth position on ONE
            # page collapse to the same key — dedup stays exact, only
            # intra-page discovery order beyond that point is arbitrary.)
            links = (
                scraped.select(*ex["explode_sel"])
                .filter(ex["link_filter"])
                .select(*ex["link_sel"])
            )
            if resolve_dedup_pre_shuffle(
                cfg.dedup_pre_shuffle, self.spark.sparkContext.master
            ):
                # hash-partition the raw exploded stream by key BEFORE
                # aggregating: HashPartitioning(url_hash) satisfies the
                # groupBy's ClusteredDistribution (subset of the keys), so
                # both aggregate passes run inside the post-shuffle stage
                # over task-local key ranges — see CrawlConfig for the
                # memory-locality/shuffle-volume tradeoff. Partition count
                # = cores, NOT spark.sql.shuffle.partitions: this plan is
                # local-mode only (resolve_dedup_pre_shuffle), where the
                # flagged/agg caches downstream inherit this partitioning —
                # at 32 partitions every post-agg stage of the wave ran 32
                # near-empty tasks (~6 such jobs/wave, pure scheduling
                # overhead at both parallelism levels)
                # SPARK_GRAFT_DEDUP_REPART_FACTOR (default 4): the agg
                # partition count is factor*cores, NOT cores. More, smaller
                # partitions shrink each task's agg hash map (unique keys /
                # P) toward cache residency — on the bench host the wave's
                # dominant stage is DRAM-random-access-bound and the host
                # grants random-gather scaling of only ~1.7-2.3x from 2->8
                # cores, so map locality is worth far more than the extra
                # task dispatches (pinned same-window A/B at 8 cores:
                # factor 1 -> 4 cut the steady wave 12.9s -> 8.9s, +46%
                # throughput; factor 8 regressed to 10.0s; 2-core flat).
                # The count is CONTAINED — with_global_rank re-exchanges on
                # _pid at defaultParallelism, so delta-file counts and every
                # downstream partitioning invariant are unaffected. (An
                # earlier fixed-32 count lost to cores only because the
                # pre-rank-rework caches inherited it downstream.)
                dfac = int(os.environ.get(
                    "SPARK_GRAFT_DEDUP_REPART_FACTOR", "4"))
                links = links.repartition(
                    dfac * self.spark.sparkContext.defaultParallelism,
                    F.col("url_hash"),
                )
            links = (
                links.groupBy("url_hash", "url")
                .agg(*ex["agg_sel"])
                .select(*ex["agg_out_sel"])
            )
            seen = self.frontier.read(self.spark).select("url_hash", "url")
            new_links = anti_join_new(links, seen, bloom=self.bloom,
                                      persist_registry=wave_caches)
            # driver-side plan construction cost up to here (py4j round
            # trips building the fetch/scrape/links/anti-join tree) —
            # separated from the jobs so the bench can tell Python plan
            # building from Catalyst+execution inside dedup_rank
            tick("plan_build_py")
            # label the wave's one materializing action (and every AQE
            # stage job under it) for profile/UI attribution
            self.spark.sparkContext.setJobDescription(
                f"wave{wave}:materialize+rank"
            )
            try:
                # bucket (run_wave) is monotone in src_rank, okey's high
                # bits, so it replaces repartitionByRange, whose sampling
                # pass would recompute fetch+scrape+dedup; ranks stay exact
                ranked, n_new, pinned = with_global_rank(
                    new_links, ["okey"], "wrank",
                    start=0, bucket_col=bucket,
                    # perfect contiguous bucket->partition placement: equal
                    # rank partitions -> equal frontier delta FILES -> the
                    # next wave's scan splits one-per-file and its dominant
                    # stage runs core-balanced (rank.py docstring; raw
                    # bucket hashing gave the fullest partition ~1.5-2x the
                    # mean and the high parallelism level inherited it as a
                    # per-wave straggler)
                    num_buckets=nb,
                )
            finally:
                self.spark.sparkContext.setJobDescription(None)
            wave_caches.append(pinned)
            if os.environ.get("SPARK_GRAFT_WAVE_EXPLAIN"):
                # debug seam: dump the materialized wave plan (the rank
                # cache's final AQE plan) once per wave to stderr
                import sys as _sys

                print(f"===== wave {wave} pinned plan =====", file=_sys.stderr)
                print(pinned._jdf.queryExecution().executedPlan()
                      .toString(), file=_sys.stderr)
            tick("dedup_rank")

        if cfg.seed_list_mode:
            # no rank job to materialize the caches — run the scrape UDF
            # with full parallelism before the coalesced write reads it
            scraped.count()
            tick("scrape")

        # ---- commit stage: pages, frontier, bloom, and visited commits
        # all read only the caches the rank job (or scrape count) just
        # materialized, and the wave's commit point is the MARKER line
        # written after ALL of them land (recovery discards any partial
        # set), so they run CONCURRENTLY from driver threads — the wave
        # barrier costs max(commit) wall time instead of sum(commit).
        # LAGGED PAGES COMMIT (run() loop only): nothing the next wave
        # computes reads the pages table — its pending set comes from the
        # frontier delta (fast path) or frontier-anti-visited — so the
        # pages append (the most expensive commit: a full parquet encode
        # of the wave's markdown) detaches from this wave's barrier and
        # drains at the NEXT wave's commit stage, overlapped with its
        # rank compute. The marker (and the wave's cache release) lag
        # with it, preserving the recovery contract: a crash before the
        # drain simply replays this wave from the previous marker.
        self._drain_lag()
        new_pages = scraped.select(
            *ex["pages_sel"], F.lit(wave).alias("wave")
        )
        discovered = not cfg.seed_list_mode and n_new > 0
        # rank watermark from manifests — read BEFORE the concurrent
        # frontier append publishes this wave's manifest
        base = self._next_rank_base() if discovered else None
        results: dict[str, dict] = {}

        def _commit_pages() -> None:
            t = time.time()
            results["pages"] = self.pages.append(
                new_pages, {"wave": wave},
                target_partitions=_npart(n_selected, cap=self._wcap),
            )
            phases["pages_append"] = round(time.time() - t, 3)

        def _commit_frontier() -> None:
            t = time.time()
            new_frontier = ranked.select(
                "url_hash", "url", "host", "depth",
                F.lit(wave).alias("wave_discovered"),
                (F.col("wrank") + F.lit(base)).alias("discovery_rank"),
                # rank of the page that FIRST discovered this URL —
                # per-source new-link counts (reference A4) fall out
                # of a groupBy on this column
                F.col("src_rank"),
                F.col("wrank").alias("_wrank"),
            )
            # EQUAL-SIZE delta files by ACTUAL rank, not by the rank job's
            # bucket guess: the pre-agg src_rank->bucket map assumes new
            # links spread uniformly over the discovering wave's stride,
            # but real graphs concentrate discovery at the frontier
            # boundary (in the bench tree, only parents with
            # pid*branching < corpus emit children — the first ~half of
            # the stride), leaving the TAIL buckets empty: at 8 cores the
            # delta landed in 4 files and the next wave's dominant stage
            # (one pinned scan split per file) ran at half parallelism.
            # wrank is exact and already materialized, so
            # file = wrank*k/n_new is perfectly balanced for ANY
            # distribution; hash-perfect keys place file ids exactly. The
            # shuffle moves only the final (narrow) delta rows and runs
            # inside the CONCURRENT commit window, overlapped with the
            # (bigger) pages append.
            k = _npart(n_new, cap=self._wcap)
            if k > 1:
                keys = perfect_partition_keys(k)
                fid = F.least(
                    F.lit(k - 1),
                    (F.col("_wrank") * k / F.lit(max(1, n_new))).cast("int"),
                )
                pkey = F.element_at(
                    F.array(*[F.lit(x) for x in keys]), fid + 1
                )
                out = (
                    new_frontier.withColumn("_fkey", pkey)
                    .repartition(k, F.col("_fkey"))
                    .sortWithinPartitions("discovery_rank")
                    .drop("_fkey", "_wrank")
                )
            else:
                # k==1 must still coalesce: the rank cache inherits the
                # wave's shuffle partitioning, so without it a small delta
                # lands one file per non-empty partition, breaking _npart's
                # small-files contract (len(delta_files) == k)
                out = new_frontier.drop("_wrank").coalesce(1)
            results["frontier"] = self.frontier.append(
                out, {"wave": wave, "max_rank": base + n_new - 1},
            )
            phases["frontier_append"] = round(time.time() - t, 3)

        def _commit_bloom() -> None:
            t = time.time()
            # bloom delta from the rank's pinned CACHE (same rows as the
            # frontier append) — not a re-read of the delta files. Must
            # complete before the next wave's probe: a missing wave in the
            # bloom would be a FALSE NEGATIVE (dropped dedup, not a re-check)
            grow = (getattr(self.bloom, "growable", False)
                    and 2 * (self.bloom.n_added + n_new) > self.bloom.capacity)
            if grow:
                # predictive amortized-doubling rebuild (seen.py class
                # docstring), folded into THIS commit's one job: the delta
                # would trip the growth trigger, so instead of delta-add +
                # post-barrier rebuild, build a fresh right-sized filter
                # over (pre-append frontier snapshot) UNION (pinned delta)
                # — same rows the post-commit frontier holds, readable NOW
                # because table reads are snapshot-isolated from the
                # concurrent frontier append
                from ..operators.seen import JvmBloomSeenSet

                fresh = JvmBloomSeenSet(self.spark, num_bits=1 << 13,
                                        growable=True)
                fresh._resize(self.bloom.n_added + n_new)
                fresh.add_distributed(
                    seen.select("url_hash")
                    .unionByName(pinned.select("url_hash")),
                    n_rows=self.bloom.n_added + n_new,
                )
                self.bloom = fresh
            else:
                # n_new is exact (rank step) -> the delta filter builds
                # via stat().bloomFilter and merges JVM-side: no blob on
                # the py4j socket (seen.py::add_distributed)
                self.bloom.add_distributed(pinned, n_rows=n_new)
            self.bloom.save(self._bloom_path)
            phases["bloom"] = round(time.time() - t, 3)

        def _commit_visited() -> None:
            t = time.time()
            visited_rows = visited_src.select(
                "url_hash", "url",
                F.lit(wave).alias("wave_visited"),
                F.when(F.col("_gate"), F.lit("done"))
                .otherwise(F.lit("skipped")).alias("status"),
            )
            self.visited.append(
                visited_rows, {"wave": wave},
                target_partitions=_npart(n_selected, cap=self._wcap),
            )
            phases["visited_append"] = round(time.time() - t, 3)

        def _commit_visited_by_ref(pages_fut) -> None:
            # the selected set IS the previous frontier delta, so the
            # visited commit is a manifest-level REFERENCE to those files
            # (module docstring). Gate-passed count falls out of the pages
            # append's parquet footers — so this commit chains on the
            # pages future and LAGS with it (the next wave's fast path
            # never reads visited; constrained runs never take this
            # branch); only the (rare) gate-skipped subset, known by
            # subtraction, pays a physical append.
            t = time.time()
            pages_fut.result()
            n_gate = int(results["pages"]["summary"]["rows"])
            n_skip = n_selected - n_gate
            minus_files: list[str] = []
            if n_skip > 0:
                # elide path: _gate was never materialized as a column
                # (fused wave chain) — re-derive the predicate inline
                skipped = fetched.filter(~ex["gate"]).select(
                    "url_hash", "url",
                    F.lit(wave).cast("int").alias("wave_visited"),
                    F.lit("skipped").alias("status"),
                )
                man = self.visited.append(
                    skipped, {"wave": wave, "kind": "skipped"},
                    target_partitions=_npart(n_skip, cap=self._wcap),
                )
                minus_files = man["delta_files"]
            fr_cur = self.frontier.current_snapshot()
            self.visited.append_virtual(
                {
                    "files": src_delta_files,
                    "select": ["url_hash", "url"],
                    "constants": [["wave_visited", "int", wave],
                                  ["status", "string", "done"]],
                    "minus_files": minus_files,
                    # referenced-table schema: lets the read skip footer
                    # inference (tables._read_virtual)
                    "src_schema": fr_cur["schema"] if fr_cur else None,
                },
                {"wave": wave, "rows": n_selected - n_skip,
                 "kind": "visited_ref"},
            )
            phases["visited_append"] = round(time.time() - t, 3)

        # run()'s per-run pool keeps the lagged pages future alive across
        # waves; direct run_wave() callers (streaming) get a local pool
        # and the classic fully-blocking barrier
        pool = self._commit_pool
        own_pool = pool is None
        if own_pool:
            pool = ThreadPoolExecutor(max_workers=5)
        # lag ONLY when the next wave is guaranteed not to read the
        # pages/visited tables: unconstrained discovery waves hand the
        # frontier delta over directly (fast path) or terminate on
        # n_new==0 with zero reads. Seed-list and constrained waves
        # derive the next pending set from frontier ANTI visited, so
        # their commits must stay in the barrier.
        lag_pages = (self._lag_enabled and not own_pool
                     and not cfg.seed_list_mode and not constrained)
        try:
            pages_fut = pool.submit(_commit_pages)
            lag_futs = [pages_fut]
            futs = []
            if elide_visited:
                # chains on pages (footer count) -> lags with it
                lag_futs.append(
                    pool.submit(_commit_visited_by_ref, pages_fut))
            else:
                futs.append(pool.submit(_commit_visited))
            if discovered:
                futs.append(pool.submit(_commit_frontier))
                if self.bloom is not None:
                    futs.append(pool.submit(_commit_bloom))
            if not lag_pages:
                futs.extend(lag_futs)
            for fut in futs:
                fut.result()  # re-raises: a failed commit leaves no marker
        finally:
            if own_pool:
                pool.shutdown(wait=True)
        tick("commit_wall")
        if (self.bloom is not None and discovered
                and getattr(self.bloom, "needs_grow", lambda: False)()):
            self._grow_bloom()
            tick("bloom_grow")
        if lag_pages:
            n_pages = None  # known at drain (pages footers)
        else:
            self._mark_committed(wave)
            n_pages = int(results["pages"]["summary"]["rows"])

        if not cfg.seed_list_mode:
            if discovered and not constrained:
                # lineage-free handoff to the next wave (__init__ note)
                self._fast_next = self.frontier.read_delta(
                    self.spark, results["frontier"]
                )
                self._fast_next_count = n_new
                self._fast_next_lo = base
                self._fast_next_nfiles = len(results["frontier"]["delta_files"])
                self._fast_next_files = results["frontier"]["delta_files"]
            elif n_new == 0 and not constrained:
                # nothing discovered: next wave terminates with zero jobs
                self._fast_next = None
                self._fast_next_count = 0

        dt = time.time() - t0
        m = {
            "wave": wave, "selected": n_selected,
            "pages": None if n_pages is None else int(n_pages),
            "new_links": int(n_new), "seconds": dt, "done": False,
        }
        if cfg.profile:
            # wall window of the wave — the bench maps executor stage
            # metrics (statusStore) onto waves with it
            m["t_start"] = t0
            m["t_end"] = t0 + dt
        if cfg.profile:
            if acc0 is not None:
                # summed Python seconds across all workers' scrape batches
                # this wave (divide by cores for the wall-clock share)
                phases["scrape_udf_py_s"] = round(
                    self.scrape_time_acc.value - acc0, 3
                )
            m["phases"] = phases
        # metrics rows are informational (recovery keys off `visited`);
        # buffered driver-side, flushed once per run (flush_metrics)
        self._metrics_buf.append(
            (wave, n_selected,
             None if n_pages is None else int(n_pages),
             int(n_new), float(dt))
        )
        if lag_pages:
            # hand the wave's lagged futures + cache entries to the lag
            # record — run_wave's finally sees an empty cache list;
            # _drain_lag completes the commits, writes the marker, patches
            # the pages count into m / the metrics buffer, and releases
            # the caches
            self._lag = {
                "wave": wave, "futs": lag_futs, "caches": list(wave_caches),
                "results": results, "m": m,
                "buf_idx": len(self._metrics_buf) - 1,
            }
            wave_caches.clear()
        return m

    # -------------------------------------------------------------------- run

    def run(
        self,
        corpus: DataFrame | None,
        seeds: list[str] | None = None,
        single_url: str | None = None,
        robots_rules: DataFrame | None = None,
        resume: bool = False,
        on_wave=None,
    ) -> list[dict]:
        """Crawl to frontier exhaustion. With ``resume=True`` the engine
        recovers from the last committed wave instead of seeding.
        ``corpus=None`` switches the fetch stage to live HTTP
        (sources/http_fetch.py); with ``cfg.respect_robots`` the engine
        then auto-fetches /robots.txt per newly-seen host into a TTL'd
        cache table and gates every wave (``robots_rules`` may still be
        passed to pre-seed/override rules — both gates apply). ``on_wave``,
        if given, is called with each wave's metrics dict (CLI progress
        reporting).

        Manifest totals are the authority for "nothing pending": frontier
        rows are unique and visited rows are frontier rows (Σ frontier ≥
        Σ visited), so a selecting wave whose manifests show Σ frontier −
        Σ visited = 0 ends the crawl without a Spark job. With
        ``recover()``'s bloom check and ``seed_if_new``'s seed check, a
        finished store reopened with ``resume=True`` runs no Spark job.
        Where the metadata cannot answer (manifests without row counts, a
        rolled-back table, a new seed), the Spark path runs as before."""
        if robots_rules is not None and robots_rules.isEmpty():
            robots_rules = None  # ONE emptiness job per run, not per wave
        live_robots = self.cfg.respect_robots and corpus is None
        prepared_corpus = None
        if corpus is not None:
            # prepare the fetch source ONCE per run: hash-partitioned and
            # sorted on the join key, persisted. Every wave's fetch join
            # then reuses the cache's partitioning AND ordering — only the
            # (small) pending side shuffles; without this, each wave
            # re-shuffles + re-sorts the full corpus (the dominant fixed
            # per-wave cost in the bench: ~1-3s/wave at 300k pages)
            prepared_corpus = (
                corpus.repartition(
                    self.spark.sparkContext.defaultParallelism, "url"
                )
                .sortWithinPartitions("url")
                .persist()
            )
            corpus = prepared_corpus
        if resume:
            self._fast_next = None  # recovery must re-derive via anti-join
            self._fast_next_count = None
            self._fast_next_lo = None
            self._fast_next_nfiles = None
            self._fast_next_files = None
            start_wave = self.recover() + 1
            # reference parity: every run re-validates + INSERT-OR-IGNOREs
            # the seed list into the existing store (scraper.py:258-272),
            # so URLs newly added to --urls-file get crawled on resume
            if seeds or single_url is not None:
                n_seeded = self.seed_if_new(seeds=seeds, single_url=single_url)
                if on_wave is not None and n_seeded:
                    # progress parity with the non-resume path: newly added
                    # seed URLs enter the CLI's link total
                    on_wave({"wave": start_wave - 1, "seeded": n_seeded,
                             "done": False})
        else:
            self.seed(seeds=seeds, single_url=single_url)
            if on_wave is not None:
                # progress accounting: seeds enter the link total (the
                # reference pbar counts them — get_links_count)
                on_wave({"wave": 0, "seeded": self._fast_next_count or 0,
                         "done": False})
            start_wave = 1
        all_metrics: list[dict] = []
        wave = start_wave
        # _pin_scan_splits retunes the file-split confs per wave; snapshot
        # them here so a shared session gets its defaults back after the
        # crawl (other workloads should not inherit crawl-sized splits)
        split_confs = {
            k: self.spark.conf.get(k, None)
            for k in ("spark.sql.files.maxPartitionBytes",
                      "spark.sql.files.openCostInBytes")
        }
        # per-run commit pool: outlives each wave's barrier so the lagged
        # pages future survives into the next wave (run_wave docs).
        # 5 workers = the wave's max in-flight tasks (count, pages,
        # visited, frontier, bloom): visited WAITS on the count future,
        # so the pool must never be able to queue count behind the rest
        self._commit_pool = ThreadPoolExecutor(max_workers=5)
        self._lag_enabled = True
        try:
            while True:
                if (self.cfg.max_waves is not None
                        and wave > self.cfg.max_waves):
                    break
                wave_rules = robots_rules
                if live_robots:
                    self._robots_refresh(wave)
                    live_rules = self.robots_active_rules()
                    wave_rules = (
                        live_rules if wave_rules is None
                        else wave_rules.unionByName(live_rules)
                    )
                m = self.run_wave(wave, corpus, wave_rules)
                all_metrics.append(m)
                if on_wave is not None:
                    on_wave(m)
                if m.get("done"):
                    break
                wave += 1
        finally:
            try:
                self._drain_lag()  # terminal/failed runs: finish or
            finally:               # discard the outstanding pages commit
                self._lag_enabled = False
                self._commit_pool.shutdown(wait=True)
                self._commit_pool = None
                for k, v in split_confs.items():
                    if v is None:
                        self.spark.conf.unset(k)
                    else:
                        self.spark.conf.set(k, v)
        self.flush_metrics()
        if prepared_corpus is not None:
            prepared_corpus.unpersist()
        return all_metrics

    # ---------------------------------------------------------------- robots

    def _robots_hosts_state(self) -> dict[str, float]:
        """host -> latest fetched_at from the robots cache (driver-side:
        robots rows are a handful per host, hosts per CRAWL are bounded —
        this is host-cardinality metadata, not frontier-cardinality)."""
        if not self.robots.exists():
            return {}
        rows = (
            self.robots.read(self.spark)
            .groupBy("host").agg(F.max("fetched_at").alias("t"))
            .collect()
        )
        return {r["host"]: float(r["t"]) for r in rows}

    def _robots_refresh(self, wave: int) -> int:
        """Fetch + parse + cache /robots.txt for every pending host whose
        cache entry is missing or older than cfg.robots_ttl_s (north_rule
        C7: "robots cache table (host -> rules, TTL)"). Fetches run
        driver-side over the DISTINCT pending hosts (new/expired hosts per
        wave are few; page fetches stay distributed). A fetch failure or
        empty body caches a permissive entry — reference parity is
        default-permissive (scraper.py never reads robots.txt)."""
        cfg = self.cfg
        now = time.time()
        state = self._robots_hosts_state()
        hosts = [
            r["host"]
            for r in self.pending().select("host").distinct().collect()
        ]
        need = [
            h for h in hosts
            if h not in state or now - state[h] > cfg.robots_ttl_s
        ]
        if not need:
            return 0
        if cfg.robots_fetch_fn is not None:
            fetch = cfg.robots_fetch_fn
        else:
            def fetch(host: str) -> str | None:
                try:
                    import requests

                    resp = requests.get(f"https://{host}/robots.txt",
                                        timeout=5)
                    return resp.text if resp.status_code == 200 else None
                except Exception:
                    return None
        if len(need) > cfg.robots_distributed_threshold:
            self._robots_refresh_distributed(need, fetch, float(now), wave)
            return len(need)
        rows = []
        for h in need:
            body = fetch(h)
            prefixes = parse_robots_txt(body or "", agent=cfg.robots_agent)
            if prefixes:
                rows.extend((h, p, float(now)) for p in prefixes)
            else:  # permissive marker row: TTL applies to empty rules too
                rows.append((h, None, float(now)))
        # driver-held rows (robots bodies were fetched ON the driver) ->
        # driver-side parquet append: no Spark job per refresh
        self.robots.append_local(rows, _ROBOTS_SCHEMA,
                                 {"wave": wave, "kind": "robots"})
        return len(need)

    def _robots_refresh_distributed(
        self, need: list[str], fetch, now: float, wave: int
    ) -> None:
        """Cold-start robots refresh: fetch + parse every host in ``need``
        executor-side in one mapInPandas pass and append the parsed rows
        as ONE Spark job (VERDICT r4 #5 — a 10^5-host frontier must not
        serialize 10^5 HTTP round-trips on the driver). ``fetch`` ships to
        the workers via cloudpickle (the injected-test seam and the
        requests-backed default both close over only picklable state);
        HostRateLimiter gives within-task pacing parity with the page
        fetch stage (operators/politeness handles cross-task fairness)."""
        from ..sources.http_fetch import HostRateLimiter

        agent = self.cfg.robots_agent

        def run(batches):
            limiter = HostRateLimiter(0.0)
            for pdf in batches:
                hs, ps, ts = [], [], []
                for h in pdf["host"]:
                    limiter.wait(h)
                    body = fetch(h)
                    prefixes = parse_robots_txt(body or "", agent=agent)
                    for p in (prefixes or [None]):
                        hs.append(h)
                        ps.append(p)
                        ts.append(now)
                yield _pd.DataFrame(
                    {"host": hs, "disallow_prefix": ps, "fetched_at": ts}
                )

        # parallelize slices the local host list over defaultParallelism
        # partitions already (even round-robin spread) — no repartition,
        # which under AQE would materialize its shuffle as a SECOND job
        hosts_df = self.spark.createDataFrame(
            [(h,) for h in need], "host string"
        )
        rows_df = hosts_df.mapInPandas(
            run, "host string, disallow_prefix string, fetched_at double"
        )
        k = max(1, min(self.spark.sparkContext.defaultParallelism,
                       (len(need) + 99) // 100))
        self.robots.append(rows_df, {"wave": wave, "kind": "robots"},
                           target_partitions=k)

    def robots_active_rules(self) -> DataFrame:
        """Current rules for robots_gate: per host, only the LATEST fetch's
        rows count (re-fetches supersede, append-only storage), and
        permissive marker rows (NULL prefix) drop out."""
        r = self.robots.read(self.spark)
        w_max = r.groupBy("host").agg(F.max("fetched_at").alias("_t"))
        return (
            r.join(w_max, "host")
            .filter(F.col("fetched_at") == F.col("_t"))
            .filter(F.col("disallow_prefix").isNotNull())
            .select("host", "disallow_prefix")
        )

    def flush_metrics(self) -> None:
        if not self._metrics_buf:
            return
        last_wave = max(r[0] for r in self._metrics_buf)
        # driver-held metadata -> driver-side parquet write (append_local):
        # the Spark write job this replaced cost ~1.3s of per-run fixed
        # overhead for a handful of rows
        self.metrics.append_local(
            self._metrics_buf,
            T.StructType([
                T.StructField("wave", T.IntegerType()),
                T.StructField("selected", T.LongType()),
                T.StructField("pages", T.LongType()),
                T.StructField("new_links", T.LongType()),
                T.StructField("seconds", T.DoubleType()),
            ]),
            {"wave": last_wave},
        )
        self._metrics_buf = []

    # ---------------------------------------------------------------- outputs

    def per_source_new_links(self) -> DataFrame:
        """Per-page new-link counts (reference A4: scraper.py logs how many
        of a page's links were newly inserted): how many frontier URLs each
        source page FIRST discovered, keyed by the source page's
        discovery_rank. Seed rows (no source) are excluded."""
        fr = self.frontier.read(self.spark)
        return (
            fr.filter(F.col("src_rank").isNotNull())
            .groupBy("src_rank")
            .agg(F.count("*").alias("n_new_links"))
        )

    def progress_counts(self) -> tuple[int, int]:
        """(total_links, visited_links) from manifest row counts — the
        reference progress bar's total/initial (scraper.py:278-283),
        driver-side with zero Spark jobs."""
        return (self.frontier.totals().get("total_rows") or 0,
                self.visited.totals().get("total_rows") or 0)

    def links_state(self) -> DataFrame:
        """The reference's links table: (url, visited) with deterministic
        rowid order materialized as discovery_rank."""
        fr = self.frontier.read(self.spark)
        vis = self.visited.read(self.spark).select(
            "url_hash", "url", F.lit(True).alias("visited")
        ).dropDuplicates(["url_hash", "url"])
        return (
            fr.join(vis, ["url_hash", "url"], "left")
            .select(
                "url", F.coalesce("visited", F.lit(False)).alias("visited"),
                "discovery_rank",
            )
            .orderBy("discovery_rank")
        )

    def pages_df(self) -> DataFrame:
        return self.pages.read(self.spark).orderBy("discovery_rank")

    def drop(self) -> None:
        for t in (self.frontier, self.visited, self.pages, self.metrics,
                  self.robots):
            t.drop()
        if os.path.exists(self._bloom_path):
            os.remove(self._bloom_path)
        if os.path.exists(self._commit_log):
            os.remove(self._commit_log)


def metadata_json(metadata_map_col):
    """map<string,string> -> the reference's JSON TEXT shape."""
    return F.to_json(metadata_map_col)
