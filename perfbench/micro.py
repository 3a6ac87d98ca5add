"""Layers timed alone on generated input, in the traced run only.

Each rate is rows per second of one warm pass (a first pass runs
untimed), on inputs derived from the run's host salt so they change with
the seed like the crawl does.
"""

from __future__ import annotations

import time

SCRAPE_ROWS = 10_000
CANON_ROWS = 100_000
SEEN_KEYS = 100_000
CANDIDATES = 200_000  # ids 0..CANDIDATES-1: the first SEEN_KEYS are seen


def _timed(fn) -> tuple[float, object]:
    fn()
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _urls(spark, n: int, salt: str):
    """(id, url) rows in the crawl graph's URL form."""
    from pyspark.sql import functions as F

    pid = F.col("id")
    return spark.range(n).select(
        pid,
        F.concat(F.lit("https://host"), (pid % 64).cast("string"),
                 F.lit(f"-{salt}.example/p/"), pid.cast("string")).alias("url"))


def layer_rates(spark, seed: int, run_checked) -> dict:
    """{metric: (value, samples)} for the layers timed alone."""
    from pyspark.sql import functions as F

    from crawler_to_md_spark.functions.html import make_scrape_udf
    from crawler_to_md_spark.functions.urls import canonicalize, url_hash
    from crawler_to_md_spark.operators.seen import anti_join_new, new_seen_set
    from graph import Graph

    out: dict = {}
    cached = []
    try:
        # functions.html: the scrape UDF over the crawl's own page HTML
        g = Graph(SCRAPE_ROWS, 64, 128, seed)
        salt = g.salt
        pages = g.fetch_df_fn()(_urls(spark, SCRAPE_ROWS, salt)) \
            .select("html", "url").persist()
        cached.append(pages)
        pages.count()
        scrape = make_scrape_udf()
        dt, _ = _timed(lambda: pages.select(
            scrape(F.col("html"), F.col("url")).alias("s"))
            .write.format("noop").mode("overwrite").save())
        out["html.scrape_rows_per_s"] = SCRAPE_ROWS / dt

        # functions.urls: canonicalize + url_hash, reduced so no row is
        # pruned away
        raw = _urls(spark, CANON_ROWS, salt).select(
            F.concat(F.lit(" "), F.upper(F.col("url")), F.lit("#frag"))
            .alias("raw")).persist()
        cached.append(raw)
        raw.count()
        dt, _ = _timed(lambda: raw.agg(
            F.max(url_hash(canonicalize(F.col("raw"))))).collect())
        out["urls.canon_hash_rows_per_s"] = CANON_ROWS / dt

        # operators.seen: probe, exact confirm and the full dedup over a
        # candidate stream whose first SEEN_KEYS ids are already seen
        keyed = _urls(spark, CANDIDATES, salt).select(
            url_hash(F.col("url")).alias("url_hash"), "url", "id")
        seen = keyed.filter(F.col("id") < SEEN_KEYS).drop("id").persist()
        cands = keyed.drop("id").persist()
        cached += [seen, cands]
        seen.count()
        cands.count()
        bloom = new_seen_set(spark, initial_bits=1 << 16)
        bloom.add_distributed(seen)
        dt, n_maybe = _timed(lambda: cands.filter(
            bloom.probe(spark, F.col("url_hash"))).count())
        out["seen.probe_rows_per_s"] = CANDIDATES / dt
        out["seen.maybe_frac"] = n_maybe / CANDIDATES
        maybe = cands.filter(bloom.probe(spark, F.col("url_hash"))).persist()
        cached.append(maybe)
        maybe.count()
        dt, _ = _timed(lambda: anti_join_new(maybe, seen).count())
        out["seen.confirm_rows_per_s"] = n_maybe / dt

        def dedup():
            reg: list = []
            try:
                return anti_join_new(cands, seen, bloom=bloom,
                                     persist_registry=reg).count()
            finally:
                for df in reg:
                    df.unpersist()

        dt, n_new = _timed(dedup)
        out["seen.dedup_cands_per_s"] = CANDIDATES / dt

        def check():
            want = CANDIDATES - SEEN_KEYS
            return {"errors": [] if n_new == want else
                    [f"seen-set dedup kept {n_new} new keys, want {want}"]}

        run_checked(check)
    finally:
        for df in cached:
            df.unpersist()
    return {k: (v, 1) for k, v in out.items()}
