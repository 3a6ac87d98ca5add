"""Resume-from-checkpoint (SURVEY.md §5.2 item 3 / reference C6):
kill after wave k, restart, final state identical to an uninterrupted run.
Also crash-mid-wave recovery: tables rolled back to the last wave whose
commit MARKER landed, partial wave re-derived idempotently — including the
parallel-commit failure mode where visited is ahead of the marker, and
stores written by the previous engine version (no marker log)."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from crawler_to_md_spark.crawl.corpus import synth_corpus
from crawler_to_md_spark.crawl.engine import CrawlConfig, CrawlEngine
from crawler_to_md_spark.tables import SnapshotTable


def _corpus(spark, n=60):
    return synth_corpus(spark, n_pages=n, n_hosts=3, branching=3, seed=42)


def _final_state(eng):
    links = [(r["url"], r["visited"]) for r in eng.links_state().collect()]
    pages = [(r["url"], r["content"]) for r in eng.pages_df().collect()]
    return links, pages


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs submitted while it ran), counted by
    statusTracker job ids before and after (the listener bus is drained
    first so every finished job is in the status store)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ids()
    out = fn()
    return out, len(ids() - before)


def test_resume_after_k_waves(spark, tmp_path):
    corpus = _corpus(spark)
    # uninterrupted run
    full = CrawlEngine(spark, str(tmp_path / "full"), CrawlConfig(use_bloom=False))
    full.run(corpus, single_url="https://host0.example/p/0")

    # interrupted: stop after 2 waves, then resume in a NEW engine instance
    part = CrawlEngine(
        spark, str(tmp_path / "part"),
        CrawlConfig(use_bloom=False, max_waves=2),
    )
    part.run(corpus, single_url="https://host0.example/p/0")
    resumed = CrawlEngine(spark, str(tmp_path / "part"), CrawlConfig(use_bloom=False))
    resumed.run(corpus, resume=True)

    assert _final_state(resumed) == _final_state(full)


def test_resume_with_bloom(spark, tmp_path):
    corpus = _corpus(spark, 40)
    cfg = dict(use_bloom=True, bloom_shards=4, bloom_bits_per_shard=1 << 14)
    full = CrawlEngine(spark, str(tmp_path / "full"), CrawlConfig(**cfg))
    full.run(corpus, single_url="https://host0.example/p/0")

    part = CrawlEngine(spark, str(tmp_path / "part"),
                       CrawlConfig(max_waves=1, **cfg))
    part.run(corpus, single_url="https://host0.example/p/0")
    resumed = CrawlEngine(spark, str(tmp_path / "part"), CrawlConfig(**cfg))
    resumed.run(corpus, resume=True)
    assert _final_state(resumed) == _final_state(full)


def _crash_mid_wave_recovery(spark, tmp_path, use_bloom):
    corpus = _corpus(spark, 40)
    full = CrawlEngine(spark, str(tmp_path / "full"),
                       CrawlConfig(use_bloom=use_bloom))
    full.run(corpus, single_url="https://host0.example/p/0")

    crash = CrawlEngine(spark, str(tmp_path / "crash"),
                        CrawlConfig(use_bloom=use_bloom, max_waves=1))
    crash.run(corpus, single_url="https://host0.example/p/0")

    # hand-craft the partial wave 2: append pages + frontier, but NOT visited
    eng2 = CrawlEngine(spark, str(tmp_path / "crash"),
                       CrawlConfig(use_bloom=use_bloom))
    pending = eng2.pending().limit(3).persist()
    eng2.pages.append(
        pending.selectExpr(
            "url_hash", "url", "host", "discovery_rank",
            "cast(null as string) as content",
            "map('title','junk') as metadata",
            "cast(null as string) as page_caption",
            "cast(null as string) as page_image_id",
            "cast(null as string) as image_id", "cast(null as binary) as bytes",
            "cast(null as int) as w", "cast(null as int) as h",
            "cast(null as string) as fmt", "cast(null as string) as caption",
            "cast(null as long) as phash", "cast(2 as int) as wave",
        ),
        {"wave": 2},
    )
    pending.unpersist()

    resumed = CrawlEngine(spark, str(tmp_path / "crash"),
                          CrawlConfig(use_bloom=use_bloom))
    resumed.run(corpus, resume=True)
    assert _final_state(resumed) == _final_state(full)


def test_crash_mid_wave_recovery(spark, tmp_path):
    """Simulate a crash between table commits: frontier/pages got wave k
    appends but visited didn't -> recover() must roll them back and replay
    wave k to the same final state."""
    _crash_mid_wave_recovery(spark, tmp_path, use_bloom=False)


def test_crash_mid_wave_recovery_with_bloom(spark, tmp_path):
    """As above with the seen-set bloom: the rolled-back store must not
    keep the bloom it loaded unchecked."""
    _crash_mid_wave_recovery(spark, tmp_path, use_bloom=True)


def test_metrics_lineage(spark, tmp_path):
    corpus = _corpus(spark, 40)
    eng = CrawlEngine(spark, str(tmp_path / "m"), CrawlConfig(use_bloom=False))
    waves = eng.run(corpus, single_url="https://host0.example/p/0")
    mdf = eng.metrics.read(spark).orderBy("wave").collect()
    assert [r["wave"] for r in mdf] == list(range(1, len(waves)))  # last wave empty
    assert all(r["seconds"] > 0 for r in mdf)
    total_pages = sum(r["pages"] for r in mdf)
    assert total_pages == eng.pages_df().count()


def _crash_after_visited_before_marker(spark, tmp_path, use_bloom):
    corpus = _corpus(spark, 40)
    full = CrawlEngine(spark, str(tmp_path / "full"),
                       CrawlConfig(use_bloom=use_bloom))
    full.run(corpus, single_url="https://host0.example/p/0")

    crash = CrawlEngine(spark, str(tmp_path / "crash"),
                        CrawlConfig(use_bloom=use_bloom, max_waves=1))
    crash.run(corpus, single_url="https://host0.example/p/0")

    # hand-craft the partial wave 2: pages AND visited appends land, the
    # marker does not (the crash window unique to parallel commits)
    eng2 = CrawlEngine(spark, str(tmp_path / "crash"),
                       CrawlConfig(use_bloom=use_bloom))
    pending = eng2.pending().limit(3).persist()
    eng2.pages.append(
        pending.selectExpr(
            "url_hash", "url", "host", "discovery_rank",
            "cast(null as string) as content",
            "map('title','junk') as metadata",
            "cast(null as string) as page_caption",
            "cast(null as string) as page_image_id",
            "cast(null as string) as image_id", "cast(null as binary) as bytes",
            "cast(null as int) as w", "cast(null as int) as h",
            "cast(null as string) as fmt", "cast(null as string) as caption",
            "cast(null as long) as phash", "cast(2 as int) as wave",
        ),
        {"wave": 2},
    )
    eng2.visited.append(
        pending.selectExpr(
            "url_hash", "url", "cast(2 as int) as wave_visited",
            "'done' as status",
        ),
        {"wave": 2},
    )
    pending.unpersist()
    assert eng2.last_committed_wave() == 1  # marker, not visited, decides

    resumed = CrawlEngine(spark, str(tmp_path / "crash"),
                          CrawlConfig(use_bloom=use_bloom))
    resumed.run(corpus, resume=True)
    assert _final_state(resumed) == _final_state(full)


def test_crash_after_visited_before_marker(spark, tmp_path):
    """Parallel-commit failure mode: ALL of wave k's table appends landed
    (including visited) but the crash hit before the marker line — the
    wave is uncommitted and recovery must roll every table back, visited
    included, then replay to the same final state."""
    _crash_after_visited_before_marker(spark, tmp_path, use_bloom=False)


def test_crash_after_visited_before_marker_with_bloom(spark, tmp_path):
    """As above with the seen-set bloom."""
    _crash_after_visited_before_marker(spark, tmp_path, use_bloom=True)


def test_resume_store_written_by_previous_version(spark, tmp_path):
    """Cross-version compatibility: a store written by the ROUND-2 engine
    (no commit-marker log; visited append as commit point) and checked in
    as a fixture must resume under the current code to the same final
    state as a fresh full crawl."""
    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "store_r2")
    with open(os.path.join(fixture, "fixture_meta.json")) as f:
        meta = json.load(f)
    root = str(tmp_path / "store_r2")
    shutil.copytree(fixture, root)
    # relocate: manifests carry absolute datafile paths (as Iceberg
    # manifests carry absolute URIs); rewrite the generation root
    for mpath in glob.glob(os.path.join(root, "*", "_manifests", "*.json")):
        with open(mpath) as f:
            txt = f.read()
        with open(mpath, "w") as f:
            f.write(txt.replace(meta["root"], root))

    corpus = synth_corpus(spark, n_pages=meta["n_pages"],
                          n_hosts=meta["n_hosts"],
                          branching=meta["branching"], seed=meta["seed"])
    cfg = CrawlConfig(use_bloom=True, bloom_shards=4,
                      bloom_bits_per_shard=1 << 16)
    eng = CrawlEngine(spark, root, cfg)
    assert eng.last_committed_wave() == meta["max_waves"]  # legacy fallback
    eng.run(corpus, resume=True)

    full = CrawlEngine(spark, str(tmp_path / "full"), cfg)
    full.run(corpus, single_url="https://host0.example/p/0")
    assert _final_state(eng) == _final_state(full)
    # the resumed store is upgraded: the marker log now exists
    assert os.path.exists(os.path.join(root, "commits.jsonl"))


def test_resume_inserts_new_seeds(spark, tmp_path):
    """Reference parity: every run re-validates and INSERT-OR-IGNOREs the
    full seed list into the existing store (scraper.py:258-272) — URLs
    newly added to --urls-file on a re-run must be crawled."""
    corpus = _corpus(spark, 40)
    cfg = CrawlConfig(seed_list_mode=True, use_bloom=False)
    seeds_a = ["https://host0.example/p/0", "https://host1.example/p/1"]
    eng = CrawlEngine(spark, str(tmp_path / "s"), cfg)
    eng.run(corpus, seeds=seeds_a)

    seeds_b = seeds_a + ["https://host2.example/p/2"]
    resumed = CrawlEngine(spark, str(tmp_path / "s"), cfg)
    resumed.run(corpus, seeds=seeds_b, resume=True)
    links, pages = _final_state(resumed)
    assert ("https://host2.example/p/2", True) in links
    assert "https://host2.example/p/2" in [u for u, _ in pages]
    # idempotent: a third run with the same list crawls nothing new
    again = CrawlEngine(spark, str(tmp_path / "s"), cfg)
    again.run(corpus, seeds=seeds_b, resume=True)
    assert _final_state(again) == (links, pages)


def test_resume_store_written_by_round4_format(spark, tmp_path):
    """Forward pin of TODAY's store format (VERDICT r4 #7): a checked-in
    round-4 store — commits.jsonl marker log, visited committed BY
    REFERENCE (virtual manifest deltas), JVM-sketch bloom — must resume
    under the current code to the same final state as a fresh full crawl.
    Regenerate with tools/make_fixture_store_r4.py only from a revision
    that still writes this format."""
    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "store_r4")
    with open(os.path.join(fixture, "fixture_meta.json")) as f:
        meta = json.load(f)
    root = str(tmp_path / "store_r4")
    shutil.copytree(fixture, root)
    for mpath in glob.glob(os.path.join(root, "*", "_manifests", "*.json")):
        with open(mpath) as f:
            txt = f.read()
        with open(mpath, "w") as f:
            f.write(txt.replace(meta["root"], root))

    # the fixture must actually exercise the round-4 artifacts
    assert os.path.exists(os.path.join(root, "commits.jsonl"))
    visited = SnapshotTable(os.path.join(root, "visited"))
    assert any("virtual" in m for m in visited.snapshots())
    with open(os.path.join(root, "bloom", "seen.npz"), "rb") as f:
        assert f.read(7) == b"JBLOOM1"

    corpus = synth_corpus(spark, n_pages=meta["n_pages"],
                          n_hosts=meta["n_hosts"],
                          branching=meta["branching"], seed=meta["seed"])
    cfg = CrawlConfig(use_bloom=True, bloom_shards=4,
                      bloom_bits_per_shard=1 << 16)
    eng = CrawlEngine(spark, root, cfg)
    assert eng.last_committed_wave() == meta["max_waves"]  # marker log
    # manifests from before running totals: folded over every version
    assert "total_rows" not in eng.frontier.current_snapshot()["summary"]
    assert eng.frontier.totals() == {"total_rows": 16,
                                     "running_max_rank": 2097163}
    eng.run(corpus, resume=True)

    full = CrawlEngine(spark, str(tmp_path / "full"), cfg)
    full.run(corpus, single_url="https://host0.example/p/0")
    assert _final_state(eng) == _final_state(full)
    # the resumed run's commits store the totals, and they are exact
    for tbl in (eng.frontier, eng.visited):
        assert "total_rows" in tbl.current_snapshot()["summary"]
        assert tbl.totals()["total_rows"] == tbl.read(spark).count()
    assert eng.frontier.totals()["running_max_rank"] == (
        eng.frontier.read(spark).agg({"discovery_rank": "max"}).first()[0])


def test_resume_after_crash_in_lag_window(spark, tmp_path):
    """Round-5 lagged commits open a NEW crash window: the wave's pages/
    visited appends may have LANDED in table manifests while the marker
    has not — a process death there must roll the wave back (marker
    decides, not table state) and a resume must converge to the
    uninterrupted final state without duplicate pages."""
    from concurrent.futures import ThreadPoolExecutor

    corpus = _corpus(spark)
    full = CrawlEngine(spark, str(tmp_path / "full"),
                       CrawlConfig(use_bloom=False))
    full.run(corpus, single_url="https://host0.example/p/0")

    root = str(tmp_path / "crash")
    eng = CrawlEngine(spark, root, CrawlConfig(use_bloom=False))
    # emulate run()'s lag-enabled loop for two waves, then "crash" with
    # the lag outstanding: tables carry wave 2's pages/visited manifests
    # but its marker was never written
    eng._commit_pool = ThreadPoolExecutor(max_workers=5)
    eng._lag_enabled = True
    try:
        eng.seed(single_url="https://host0.example/p/0")
        m1 = eng.run_wave(1, corpus)
        m2 = eng.run_wave(2, corpus)
        assert not m1.get("done") and not m2.get("done")
        lag = eng._lag
        assert lag is not None and lag["wave"] == 2
        for fut in lag["futs"]:   # the appends complete (worst case:
            fut.result()          # all table data landed), marker does NOT
        for df in lag["caches"]:
            df.unpersist()
        eng._lag = None
    finally:
        eng._lag_enabled = False
        eng._commit_pool.shutdown(wait=True)
        eng._commit_pool = None
    assert eng.last_committed_wave() == 1  # marker decides
    # wave 2's pages physically landed ahead of the (missing) marker
    assert any(s["summary"].get("wave") == 2
               for s in SnapshotTable(os.path.join(root, "pages")).snapshots())

    resumed = CrawlEngine(spark, root, CrawlConfig(use_bloom=False))
    resumed.run(corpus, resume=True)
    assert _final_state(resumed) == _final_state(full)
    # no duplicate page rows survived the replay
    pages = resumed.pages_df().collect()
    urls = [r["url"] for r in pages]
    assert len(urls) == len(set(urls))


_P0 = "https://host0.example/p/0"


@pytest.mark.parametrize("kind", ["single_url", "host_budget_seeds"])
def test_reopen_finished_store_runs_no_spark_jobs(spark, tmp_path, kind):
    """A finished store reopened with resume=True (what rerunning with the
    same cache folder does) answers "anything left?" from metadata: the
    bloom matches the frontier's row total, every seed is in the seed
    deltas, and the manifest totals show nothing pending — zero Spark
    jobs, and the state stays the uninterrupted crawl's."""
    corpus = _corpus(spark, 40)
    if kind == "single_url":
        cfg, start = {}, {"single_url": _P0}
    else:
        cfg = {"per_host_budget": 2}
        start = {"seeds": [f"https://host{j % 3}.example/p/{j}"
                           for j in (0, 1, 2, 3, 4, 6)]}
    root = str(tmp_path / "s")
    CrawlEngine(spark, root, CrawlConfig(**cfg)).run(corpus, **start)
    eng = CrawlEngine(spark, root, CrawlConfig(**cfg))
    state = _final_state(eng)

    metrics, jobs = _jobs_during(
        spark, lambda: eng.run(corpus, resume=True, **start))
    assert jobs == 0
    assert [m["done"] for m in metrics] == [True]
    assert _final_state(eng) == state


def test_reopen_rebuilds_bloom_missing_a_seed_append(spark, tmp_path):
    """A crash between a resumed seed's frontier append and its bloom save
    leaves a filter whose n_added is one short of the frontier: recover()
    must rebuild it (no false negative), and keep a filter that matches."""
    corpus = _corpus(spark, 40)
    root = str(tmp_path / "s")
    CrawlEngine(spark, root, CrawlConfig()).run(corpus, single_url=_P0)
    bloom_path = os.path.join(root, "bloom", "seen.npz")
    shutil.copy(bloom_path, bloom_path + ".old")
    eng = CrawlEngine(spark, root, CrawlConfig())
    assert eng.seed_if_new(seeds=["https://host0.example/new"]) == 1
    os.replace(bloom_path + ".old", bloom_path)  # the bloom save is lost

    eng = CrawlEngine(spark, root, CrawlConfig())
    stale = eng.bloom
    assert stale.n_added == eng.frontier.totals()["total_rows"] - 1
    eng.recover()
    assert eng.bloom is not stale
    assert eng.bloom.n_added == eng.frontier.totals()["total_rows"]
    fr = eng.frontier.read(spark)
    assert fr.filter(~eng.bloom.probe(spark, F.col("url_hash"))).count() == 0

    again = CrawlEngine(spark, root, CrawlConfig())
    kept = again.bloom
    again.recover()
    assert again.bloom is kept


def test_reopen_with_other_bloom_config_rebuilds_bloom(spark, tmp_path):
    """A finished store reopened under a different bloom config gets the
    filter that config builds, though n_added matches the frontier: a
    fixed-size config replaces the growable filter, and a numpy config
    replaces the JVM one."""
    from crawler_to_md_spark.operators.seen import BloomSeenSet

    corpus = _corpus(spark, 40)
    root = str(tmp_path / "s")
    CrawlEngine(spark, root, CrawlConfig()).run(corpus, single_url=_P0)
    fixed = CrawlConfig(bloom_initial_bits=None, bloom_shards=4,
                        bloom_bits_per_shard=1 << 12)
    eng = CrawlEngine(spark, root, fixed)
    grown = eng.bloom
    assert grown.n_added == eng.frontier.totals()["total_rows"]
    eng.recover()
    assert eng.bloom is not grown
    assert (eng.bloom.growable, eng.bloom.num_bits) == (False, 4 << 12)
    fr = eng.frontier.read(spark)
    assert fr.filter(~eng.bloom.probe(spark, F.col("url_hash"))).count() == 0

    again = CrawlEngine(spark, root, fixed)  # the config now fits: kept
    kept = again.bloom
    again.recover()
    assert again.bloom is kept

    numpy = CrawlEngine(spark, root, CrawlConfig(
        bloom_impl="numpy", bloom_shards=4, bloom_bits_per_shard=1 << 12))
    numpy.recover()
    assert isinstance(numpy.bloom, BloomSeenSet)
    assert (numpy.bloom.P, numpy.bloom.m) == (4, 1 << 12)


def test_resumed_seed_discovered_by_a_wave_is_not_duplicated(spark, tmp_path):
    """A resumed seed list naming a URL a wave already discovered misses
    the seed-delta check, takes the anti-join fallback and inserts
    nothing."""
    corpus = _corpus(spark, 40)
    root = str(tmp_path / "s")
    CrawlEngine(spark, root, CrawlConfig()).run(corpus, single_url=_P0)
    eng = CrawlEngine(spark, root, CrawlConfig())
    found = (eng.frontier.read(spark).filter(F.col("src_rank").isNotNull())
             .orderBy("discovery_rank").first()["url"])
    state = _final_state(eng)
    rows = eng.frontier.totals()["total_rows"]

    _, jobs = _jobs_during(
        spark, lambda: eng.run(corpus, seeds=[_P0, found], resume=True))
    assert jobs > 0  # the anti-join fallback ran
    assert eng.frontier.totals()["total_rows"] == rows
    fr = eng.frontier.read(spark)
    assert fr.count() == fr.select("url").distinct().count() == rows
    assert _final_state(eng) == state
