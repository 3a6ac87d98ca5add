"""Politeness budgets under the wave loop (SURVEY.md C3 generalized):
budgets defer rows — never drop them — so the FINAL crawl state equals the
unbudgeted run's, while each wave respects the cap (the reference's
rate_limit guarantees at most N requests per 60s window, scraper.py:302-314;
here one wave == one window)."""

from crawler_to_md_spark.crawl.corpus import synth_corpus
from crawler_to_md_spark.crawl.engine import CrawlConfig, CrawlEngine


def _state(eng):
    links = [(r["url"], r["visited"]) for r in eng.links_state().collect()]
    pages = sorted(r["url"] for r in eng.pages_df().collect())
    return set(links), pages


def test_budgeted_crawl_same_final_state(spark, tmp_path):
    corpus = synth_corpus(spark, n_pages=40, n_hosts=3, branching=3, seed=42)
    free = CrawlEngine(spark, str(tmp_path / "free"), CrawlConfig(use_bloom=False))
    free.run(corpus, single_url="https://host0.example/p/0")

    capped = CrawlEngine(
        spark, str(tmp_path / "cap"),
        CrawlConfig(use_bloom=False, global_budget=7),
    )
    metrics = capped.run(corpus, single_url="https://host0.example/p/0")

    # every wave respects the request budget (== the 60s-window guarantee)
    assert all(m["selected"] <= 7 for m in metrics if not m.get("done"))
    # budget defers, never drops: identical final membership + pages
    assert _state(capped) == _state(free)
    # and it genuinely throttled: more waves than the free run
    assert len(metrics) > 5


def test_host_budget_crawl_same_final_state(spark, tmp_path):
    corpus = synth_corpus(spark, n_pages=40, n_hosts=3, branching=3, seed=42)
    free = CrawlEngine(spark, str(tmp_path / "free"), CrawlConfig(use_bloom=False))
    free.run(corpus, single_url="https://host0.example/p/0")

    capped = CrawlEngine(
        spark, str(tmp_path / "hcap"),
        CrawlConfig(use_bloom=False, per_host_budget=3, salt=2,
                    salt_threshold=1000),
    )
    metrics = capped.run(corpus, single_url="https://host0.example/p/0")
    # <=3 per host per wave; frontier spans 4 hosts (host0-2 + the
    # off-base elsewhere.example links) -> <=12 selected per wave
    assert all(m["selected"] <= 12 for m in metrics if not m.get("done"))
    assert _state(capped) == _state(free)


def test_rank_cut_buckets_balanced_across_strides(spark):
    """A constrained pick spans several waves' rank strides. Buckets cut at
    the pick's rank quantiles (as run_wave derives them) stay monotone in
    the rank and evenly filled, where equal-span buckets over [min, max]
    would put nearly every row in the two buckets nearest each stride."""
    from pyspark.sql import functions as F

    from crawler_to_md_spark.crawl.engine import _RANK_STRIDE, _bucket_by_cuts

    nb = 16
    ranks = [s * _RANK_STRIDE + i
             for s, n in ((1, 300), (2, 500), (5, 200)) for i in range(n)]
    df = spark.createDataFrame([(r,) for r in ranks], "src_rank long")
    cuts = df.agg(F.percentile_approx(
        "src_rank", [i / nb for i in range(1, nb)]).alias("c")).first()["c"]
    rows = (df.select("src_rank",
                      _bucket_by_cuts(F.col("src_rank"), cuts).alias("b"))
            .orderBy("src_rank").collect())
    ids = [r["b"] for r in rows]
    assert ids == sorted(ids) and 0 <= ids[0] and ids[-1] <= nb - 1
    sizes = [ids.count(b) for b in range(nb)]
    assert max(sizes) <= 2 * len(ranks) / nb
