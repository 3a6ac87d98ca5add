"""Seeded synthetic web graph for the benchmark.

The same b-ary page tree as ``crawl/corpus.py`` (page ``i`` links to
children ``i*b+1 .. i*b+b`` below ``n``, plus a duplicate link back to
``i-1`` on every 6th page), rebuilt here so the seed reaches the URL
strings: host names carry a salt drawn from the seed. Hashes, bloom bits
and partition placement then change with the seed while the graph shape
and every wave's size stay fixed.

The fetch function answers a URL with the page's HTML computed from the
page id by JVM column expressions, so fetch cost grows with the wave, as
a real HTTP fetch does.
"""

from __future__ import annotations

import random

import numpy as np


class Graph:
    """One seeded graph: ``n_pages`` pages over ``n_hosts`` hosts with
    out-degree ``branching``."""

    def __init__(self, n_pages: int, n_hosts: int, branching: int, seed: int):
        self.n_pages = n_pages
        self.n_hosts = n_hosts
        self.branching = branching
        self.salt = f"{random.Random(seed).randrange(16 ** 6):06x}"

    def host(self, pid: int) -> str:
        return f"host{pid % self.n_hosts}-{self.salt}.example"

    def url(self, pid: int) -> str:
        return f"https://{self.host(pid)}/p/{pid}"

    @property
    def seed_url(self) -> str:
        return self.url(0)

    def fetch_df_fn(self):
        """``CrawlConfig.fetch_df_fn`` over this graph (see module doc)."""
        from pyspark.sql import functions as F

        n, nh, b, salt = self.n_pages, self.n_hosts, self.branching, self.salt

        def host_expr(pid_col):
            return F.concat(F.lit("host"), (pid_col % nh).cast("string"),
                            F.lit(f"-{salt}.example"))

        def child_anchor(c):
            cid = F.col("_fetch_pid") * b + c
            return F.when(
                cid < n,
                F.concat(F.lit('<a href="https://'), host_expr(cid),
                         F.lit("/p/"), cid.cast("string"), F.lit('">c</a>')),
            ).otherwise(F.lit(""))

        pid = F.col("_fetch_pid")
        anchors = F.concat_ws(
            "", F.transform(F.sequence(F.lit(1), F.lit(b)), child_anchor))
        dup = F.when(
            (pid % 6 == 2) & (pid > 0),
            F.concat(F.lit('<a href="https://'), host_expr(pid - 1),
                     F.lit("/p/"), (pid - 1).cast("string"), F.lit('">d</a>')),
        ).otherwise(F.lit(""))
        caption = F.when(
            pid % 2 == 0,
            F.concat(F.lit('<figure><img src="img-'), pid.cast("string"),
                     F.lit('"/><figcaption>caption '), pid.cast("string"),
                     F.lit(" words</figcaption></figure>")),
        ).otherwise(F.lit(""))
        html = F.concat(
            F.lit("<html><head><title>Page "), pid.cast("string"),
            F.lit("</title></head><body><h1>Heading "), pid.cast("string"),
            F.lit("</h1><p>body text "), pid.cast("string"),
            F.lit(" lorem ipsum dolor sit amet.</p><h2>Section</h2><p>more "),
            pid.cast("string"), F.lit(" text.</p>"),
            caption, anchors, dup, F.lit("</body></html>"),
        )
        tail = F.substring_index(F.col("url"), "/p/", -1)
        pid_col = F.when(tail != F.col("url"), tail.try_cast("long"))
        hit = pid.isNotNull() & (pid >= 0) & (pid < n)
        response = [
            F.when(hit, F.lit(200)).cast("int").alias("status"),
            F.when(hit, F.lit("text/html; charset=utf-8")).alias("content_type"),
            F.when(hit, html).alias("html"),
            F.lit(None).cast("string").alias("image_id"),
            F.lit(None).cast("binary").alias("bytes"),
            F.lit(None).cast("string").alias("fmt"),
            F.lit(None).cast("int").alias("w"),
            F.lit(None).cast("int").alias("h"),
            F.lit(None).cast("string").alias("caption"),
            F.lit(None).cast("long").alias("phash"),
        ]

        def fetch(pending):
            tmp = pending.withColumn("_fetch_pid", pid_col)
            return tmp.select(*pending.columns, *response)

        return fetch

    def page_ids(self, urls) -> np.ndarray:
        """Page ids of crawled URLs; -1 for a URL that is not one of this
        graph's pages (wrong host salt, host, or form)."""
        out = np.full(len(urls), -1, dtype=np.int64)
        for i, u in enumerate(urls):
            head, sep, tail = u.rpartition("/p/")
            if sep and tail.isdigit():
                pid = int(tail)
                if pid < self.n_pages and head == f"https://{self.host(pid)}":
                    out[i] = pid
        return out


def bfs_order_errors(graph: Graph, urls, ranks, visited) -> list[str]:
    """Check an unconstrained crawl's links table against the graph: the
    seen set is exactly the graph's pages, every one visited, and
    ``discovery_rank`` order is BFS order, which in this b-ary tree is
    ascending page id. Returns the violations (empty when correct)."""
    errors = []
    pids = graph.page_ids(urls)
    if len(pids) != graph.n_pages:
        errors.append(f"seen set has {len(pids)} urls, graph has {graph.n_pages}")
    if (pids < 0).any():
        errors.append(f"{int((pids < 0).sum())} urls are not graph pages")
    n_unvisited = len(visited) - int(np.count_nonzero(visited))
    if n_unvisited:
        errors.append(f"{n_unvisited} urls never visited")
    if len(ranks) != len(set(ranks)):
        errors.append("discovery_rank has duplicates")
    by_rank = pids[np.argsort(np.asarray(ranks, dtype=np.int64), kind="stable")]
    if not np.array_equal(by_rank, np.arange(len(by_rank))):
        errors.append("discovery_rank order is not BFS (ascending page id) order")
    return errors
