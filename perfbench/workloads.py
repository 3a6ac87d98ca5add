"""The benchmark's workloads: one operation each, run repeatedly.

Every operation is the command-line tool's full path over one seeded
graph: crawl to completion (``polite-resume`` stops part-way and resumes
on a fresh engine), reopen the finished store with ``resume=True`` as a
rerun with the same cache folder does, then write the compiled Markdown
and JSON exports. The same end-to-end metrics therefore exist on every
workload; which layer dominates differs by workload (see README.md).

An operation returns its measurements plus a list of correctness
violations; it never times its own checks.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil

import host
from graph import Graph, bfs_order_errors

# exports per operation; export_s is the median of all of them in the
# timed window
EXPORT_PASSES = 2


@dataclasses.dataclass(frozen=True)
class Spec:
    n_pages: int
    n_hosts: int
    branching: int
    per_host_budget: int | None = None
    stop_after_waves: int | None = None  # first leg's max_waves
    n_seeds: int = 1  # >1: pages 0..n_seeds-1 as a seed list


SPECS = {
    # unconstrained fast path: waves of 1 / 128 / 8192 URLs
    "wide-crawl": Spec(n_pages=8_321, n_hosts=64,
                       branching=128),
    # constrained path: 96 seeds over 8 hosts, 9 URLs per host per wave.
    # Wave 1 takes 72 seeds and finds pages 96..128 under the root; wave
    # 2 takes the other 57. The first leg stops after wave 1.
    "polite-resume": Spec(n_pages=129, n_hosts=8,
                          branching=128, per_host_budget=9,
                          stop_after_waves=1, n_seeds=96),
}


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class Workload:
    """Runs one spec's operation in a Spark session; ``hooks`` (a trace
    recorder, or None) sees each engine it creates."""

    def __init__(self, spark, spec: Spec, seed: int, workdir: str):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.graph = Graph(spec.n_pages, spec.n_hosts, spec.branching, seed)
        self.workdir = workdir
        self._fetch = self.graph.fetch_df_fn()
        self._n_ops = 0
        # (url, discovery_rank) list and export digests of one
        # uninterrupted crawl, the reference every operation must match
        self.reference: dict | None = None

    # -- engine plumbing -----------------------------------------------------

    def _config(self, max_waves: int | None, profile: bool):
        from crawler_to_md_spark.crawl.engine import CrawlConfig

        return CrawlConfig(
            fetch_df_fn=self._fetch,
            per_host_budget=self.spec.per_host_budget,
            max_waves=max_waves,
            profile=profile,
        )

    def _engine(self, root: str, max_waves: int | None, hooks):
        from crawler_to_md_spark.crawl.engine import CrawlEngine

        eng = CrawlEngine(self.spark, root,
                          self._config(max_waves, hooks is not None))
        if hooks is not None:
            hooks.on_engine(eng)
        return eng

    # -- the operation -------------------------------------------------------

    def run_op(self, hooks=None, stop_after: int | None = -1,
               crawl_only: bool = False,
               export_passes: int = EXPORT_PASSES) -> dict:
        """One operation. ``stop_after=-1`` uses the spec's stop point;
        None crawls uninterrupted (the reference run). ``crawl_only``
        times the crawl alone (the scaling leg): an interrupted crawl
        still resumes, but a finished one is not reopened and nothing is
        exported."""
        from crawler_to_md_spark.operators.export import (
            export_json,
            export_markdown,
        )

        if stop_after == -1:
            stop_after = self.spec.stop_after_waves
        self._n_ops += 1
        root = os.path.join(self.workdir, f"op{self._n_ops}")
        shutil.rmtree(root, ignore_errors=True)
        if self.spec.n_seeds > 1:
            seeds = {"seeds": [self.graph.url(p)
                               for p in range(self.spec.n_seeds)]}
        else:
            seeds = {"single_url": self.graph.seed_url}

        t0 = host.mark()
        eng = self._engine(root, stop_after, hooks)
        metrics = eng.run(None, **seeds)
        if stop_after is not None:  # a fresh engine resumes the crawl
            eng = self._engine(root, None, hooks)
            metrics = metrics + eng.run(None, resume=True, **seeds)
        wall, net = host.elapsed(t0)
        rec: dict = {"crawl_s": net, "root": root}
        exports = {}
        if not crawl_only:
            # reopen the finished store, as a rerun with the same cache
            # folder does: every wave's work is done, so all is restart
            t = host.mark()
            eng = self._engine(root, None, hooks)
            reran = eng.run(None, resume=True, **seeds)
            w, n = host.elapsed(t)
            rec["restart_s"] = (w - sum(m.get("seconds", 0.0)
                                        for m in reran)) * n / w
            metrics = metrics + reran
            exports = {"md": os.path.join(root, "out.md"),
                       "json": os.path.join(root, "out.json")}
            rec["export_s"] = []
            for _ in range(export_passes):
                t = host.mark()
                export_markdown(eng.pages_df(), "bench", exports["md"])
                export_json(eng.pages_df(), exports["json"])
                rec["export_s"].append(host.elapsed(t)[1])
            rec.update(
                wall_s=host.elapsed(t0)[0],
                export_bytes=sum(map(os.path.getsize, exports.values())),
            )
        # a wave's net seconds take the steal share of the crawl around it
        rec["waves"] = [
            {k: m[k] for k in ("wave", "selected", "new_links", "seconds",
                               "t_start", "t_end", "phases") if k in m}
            | {"net_s": m["seconds"] * net / wall}
            for m in metrics if not m.get("done")
        ]
        rec["urls"] = sum(w["selected"] for w in rec["waves"])
        rec["errors"] = self._check(eng, rec, exports)
        return rec

    # -- correctness ---------------------------------------------------------

    def _links(self, eng):
        pdf = eng.links_state().toPandas()
        return (pdf["url"].tolist(), pdf["discovery_rank"].to_numpy(),
                pdf["visited"].to_numpy(dtype=bool))

    def _check(self, eng, rec: dict, exports: dict | None = None) -> list[str]:
        urls, ranks, visited = self._links(eng)
        errors = bfs_order_errors(self.graph, urls, ranks, visited)
        if rec["urls"] != self.graph.n_pages:
            errors.append(f"waves fetched {rec['urls']} urls, "
                          f"graph has {self.graph.n_pages}")
        budget = self.spec.per_host_budget
        if budget is not None:
            cap = budget * self.graph.n_hosts
            over = [w["selected"] for w in rec["waves"] if w["selected"] > cap]
            if over:
                errors.append(f"waves over the per-host quota cap {cap}: {over}")
        got = {"links": list(zip(urls, ranks.tolist()))}
        for key, path in (exports or {}).items():
            got[key] = _digest(path)
        if self.reference is None:
            self.reference = got
        else:
            for key, value in got.items():
                if value != self.reference[key]:
                    errors.append(f"{key} differ from the uninterrupted crawl")
        return errors

    def prepare(self) -> dict:
        """Untimed reference: one uninterrupted crawl whose (url, rank)
        list and export bytes every later operation must reproduce."""
        return self.run_op(stop_after=None, export_passes=1)


def pooled_wave_seconds(ops: list[dict]) -> list[float]:
    return [w["net_s"] for op in ops for w in op["waves"]]


def largest_wave(op: dict) -> dict:
    return max(op["waves"], key=lambda w: w["selected"])


def steady_urls_per_s(ops: list[dict]) -> tuple[float, int]:
    """URLs per second over every operation's largest wave, pooled, with
    the number of waves it rests on."""
    waves = [largest_wave(op) for op in ops]
    return (sum(w["selected"] for w in waves)
            / sum(w["net_s"] for w in waves), len(waves))
