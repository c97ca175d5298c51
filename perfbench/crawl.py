"""Crawl workloads: the micro-batch engine over a seeded mock web.

One measured unit is one crawl: a fresh checkpoint, ``CrawlEngine.run`` up
to the workload's batch limit, then the results read back to the driver.
Crawls repeat in a closed loop (each starts after the previous one's last
manifest lands) until the measuring window has passed. Every crawl is then
compared with ``simulate_crawl`` on the same graph and batch limit, outside
the timed window: ordered crawl log, URL-seen set, documents with their
span sequences, and per-host fetch metrics.
"""

from __future__ import annotations

import json
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from crawler_spark.plans.parser import parse_page
from crawler_spark.simulator import simulate_crawl
from crawler_spark.sources.mock_web import (
    AS_OF,
    build_site_graph,
    page_key,
    seeds_df,
    site_graph_df,
)
from crawler_spark.streaming.crawl_loop import CrawlEngine

@dataclass(frozen=True)
class CrawlSpec:
    graph: dict  # build_site_graph arguments, seed excluded
    batch_seconds: float
    max_batches: int  # batches per measured crawl (fewer if it finishes)
    use_bloom: bool | None  # None = the engine's auto threshold
    flaky_lists: int = 0  # see pin_flakiness; 0 keeps the generated flakiness
    compact_every: int = 8  # the engine's default


SPECS = {
    # Few hosts, all five pagination rules, duplicate links, redirects and
    # two raw-HTML sites; ~20 requests a batch, so fixed per-batch cost
    # dominates. The seen set stays below the 4,096-doc bloom threshold.
    ("crawl_narrow", "full"): CrawlSpec(
        dict(n_sites=6, cats_per_site=2, pages_per_cat=3, entries_per_page=6,
             skew_pages=4, dup_fraction=0.25, html_sites=2),
        batch_seconds=1.0, max_batches=1000, use_bloom=None),
    ("crawl_narrow", "tiny"): CrawlSpec(
        dict(n_sites=3, cats_per_site=1, pages_per_cat=2, entries_per_page=3,
             html_sites=1),
        batch_seconds=1.0, max_batches=2, use_bloom=None),
    # Tens of hosts, a third raw HTML, flaky pages (retries) and jittered
    # publish times; a 20 s batch admits up to 100 requests per host, so the
    # third batch carries ~550 fetches and parses. The sharded URL-seen
    # bloom is on from the first batch, as in a crawl past the threshold.
    # Six pages per category keep the cutoff out of the first three batches.
    # Compacting every two batches puts one compaction (of batches 0-1)
    # inside each measured crawl, before its third batch reads the deltas.
    # Three batches, not more: a crawl run (JVM start, warm-up crawl, one
    # measured crawl) must stay near a minute to fit a full benchmark pass.
    ("crawl_wide", "full"): CrawlSpec(
        dict(n_sites=30, cats_per_site=2, pages_per_cat=6,
             entries_per_page=10, html_sites=10, flaky_fraction=0.1,
             jitter_times=True),
        batch_seconds=20.0, max_batches=3, use_bloom=True, flaky_lists=6,
        compact_every=2),
    ("crawl_wide", "tiny"): CrawlSpec(
        dict(n_sites=4, cats_per_site=1, pages_per_cat=2, entries_per_page=4,
             html_sites=2, flaky_fraction=0.3, jitter_times=True),
        batch_seconds=20.0, max_batches=2, use_bloom=True, flaky_lists=1,
        compact_every=2),
}

# The warm-up crawl: small, same engine options, its own seed-derived graph.
WARMUP_GRAPH = dict(n_sites=2, cats_per_site=1, pages_per_cat=2,
                    entries_per_page=3, html_sites=1)
WARMUP_BATCHES = 1


def pin_flakiness(graph: dict, seed: int, n_lists: int) -> None:
    """Make the number of retried list pages the same on every seed.

    A randomly flaky menu or first list page delays a whole site or category
    by a batch, which moves a short crawl's page count by ~10 % between
    seeds. Here menus and list pages never fail, except exactly ``n_lists``
    seed-chosen first-page lists, which fail once and are retried in the
    next batch. Article flakiness stays as generated."""
    pages = graph["pages"]
    first_lists = []
    for p in pages.values():
        if p["kind"] == "menu":
            first_lists += [
                page_key(c["href"], c.get("method", "GET"), c.get("body", ""))
                for c in (p["source"] or p["payload"])["categories"]
                if not c.get("excluded")
            ]
        if p["kind"] != "article":
            p["fail_times"] = 0
    for key in random.Random(seed).sample(sorted(first_lists), n_lists):
        pages[key]["fail_times"] = 1


def _doc_row(d: dict) -> tuple:
    return (
        d["doc_id"], d["title"], d["abstract"], d["category1"],
        d["category2"], d["pub_time"], d["request_url"], d["response_url"],
        d["html"], tuple(tuple(s) for s in d["spans"]),
    )


def expected_outputs(graph: dict, spec: CrawlSpec, n_batches: int) -> dict:
    """The reference simulator's outputs for the first ``n_batches``."""
    sim = simulate_crawl(graph, batch_seconds=spec.batch_seconds,
                         max_batches=n_batches)
    docs = [
        _doc_row({
            **d,
            "html": d.get("html"),
            "spans": [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in d["spans"]],
        })
        for d in sim["docs_rows"]
    ]
    return {
        "log": [(r["batch_id"], r["url"], r["method"], r["body"], r["attempt"])
                for r in sim["crawl_log_full"]],
        "url_seen": sorted(sim["url_seen"]),
        "docs": sorted(docs, key=repr),
        "metrics": sorted(sim["metrics"]),
    }


def read_back(res: dict) -> dict:
    """Collect a finished crawl's results into the oracle's shapes."""
    log = (
        res["crawl_log"]
        .orderBy("batch_id", F.desc("priority"), "seq")
        .select("batch_id", "url", "method", "body", "attempt")
        .collect()
    )
    docs = [
        _doc_row({
            "doc_id": r.doc_id, "title": r.title, "abstract": r.abstract,
            "category1": r.category1, "category2": r.category2,
            "pub_time": r.pub_time.strftime("%Y-%m-%d %H:%M:%S"),
            "request_url": r.request_url, "response_url": r.response_url,
            "html": r.html,
            "spans": [(s.kind, s.text, s.media_ref, s.offset)
                      for s in (r.spans or [])],
        })
        for r in res["docs"].collect()
    ]
    metrics = res["metrics"].collect()
    return {
        "log": [tuple(r) for r in log],
        "url_seen": sorted({r.url for r in res["url_seen"].select("url").collect()}),
        "docs": sorted(docs, key=repr),
        "metrics": sorted(
            (r.batch_id, r.host, r.scheduled, r.deduped, r.fetched, r.bytes,
             r.max_depth)
            for r in metrics
        ),
    }


def mismatched_rows(expected: dict, observed: dict) -> dict[str, int]:
    """Expected rows missing or different, per output. The crawl log is
    compared position by position; the other outputs as multisets (extra
    observed rows count too)."""
    out = {}
    for key, exp in expected.items():
        got = observed[key]
        if key == "log":
            out[key] = (sum(a != b for a, b in zip(exp, got))
                        + abs(len(exp) - len(got)))
        else:
            ce, co = Counter(exp), Counter(got)
            out[key] = sum((ce - co).values()) + sum((co - ce).values())
    return out


def corrupt(observed: dict) -> None:
    """Deliberately damage one output row (the oracle self-test)."""
    b, url, *rest = observed["log"][-1]
    observed["log"][-1] = (b, url + "#corrupted", *rest)


def _dir_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class CrawlWorkload:
    def __init__(self, spark, name: str, size: str, seed: int, cores: int,
                 work: Path, tracer=None):
        self.spark = spark
        self.spec = SPECS[(name, size)]
        self.seed = seed
        self.work = work
        self.tracer = tracer
        # One bloom shard per core, like the shuffle partitions.
        self.bloom_shards = cores
        self._n_crawls = 0
        self._expected: dict[int, dict] = {}
        # traced-run records
        self.parse_rows: list = []
        self.admission: list[tuple[int, int]] = []  # (admitted, deferred)
        self.batch_files: list[tuple[int, int]] = []  # (files, bytes)

    # -- set-up ---------------------------------------------------------------

    def generate_inputs(self) -> None:
        self.graph = build_site_graph(seed=self.seed, **self.spec.graph)
        if self.spec.flaky_lists:
            pin_flakiness(self.graph, self.seed, self.spec.flaky_lists)
        self.site_df = site_graph_df(self.spark, self.graph)
        self.seeds = seeds_df(self.spark, self.graph)

    def warm_up(self) -> None:
        g = build_site_graph(seed=self.seed + 1, **WARMUP_GRAPH)
        eng = self._engine(g, site_graph_df(self.spark, g),
                           seeds_df(self.spark, g))
        try:
            read_back(eng.run(max_batches=WARMUP_BATCHES))
        finally:
            self._dispose(eng)

    def _engine(self, graph, site_df, seeds) -> CrawlEngine:
        self._n_crawls += 1
        ckpt = self.work / f"ckpt-{self._n_crawls}"
        shutil.rmtree(ckpt, ignore_errors=True)
        return CrawlEngine(
            self.spark,
            site_graph=site_df,
            registry=graph["registry"],
            seeds=seeds,
            cutoff_epoch=graph["cutoff_epoch"],
            as_of=AS_OF,
            checkpoint_dir=str(ckpt),
            batch_seconds=self.spec.batch_seconds,
            use_bloom=self.spec.use_bloom,
            bloom_shards_n=self.bloom_shards,
            compact_every=self.spec.compact_every,
        )

    @staticmethod
    def _dispose(eng: CrawlEngine) -> None:
        eng.fetcher.unpersist()
        shutil.rmtree(eng.ckpt.root, ignore_errors=True)

    # -- measurement ------------------------------------------------------------

    def measure(self, seconds: float, corrupt_output: bool = False) -> list[dict]:
        """Closed loop of crawls until ``seconds`` have passed; stops at the
        first crawl whose outputs differ from the oracle."""
        self.parse_rows.clear()
        self.admission.clear()
        self.batch_files.clear()
        deadline = time.monotonic() + seconds
        units: list[dict] = []
        while True:
            unit = self._crawl_once(corrupt_output and not units)
            units.append(unit)
            if unit["bad_rows"] or time.monotonic() >= deadline:
                return units

    def _crawl_once(self, corrupt_output: bool) -> dict:
        eng = self._engine(self.graph, self.site_df, self.seeds)
        batch_s: list[float] = []
        inner = eng.run_batch

        def timed_batch(b, frontier):
            t0 = time.monotonic()
            nxt = inner(b, frontier)
            batch_s.append(time.monotonic() - t0)
            return nxt

        eng.run_batch = timed_batch
        try:
            t0 = time.monotonic()
            res = eng.run(max_batches=self.spec.max_batches)
            observed = read_back(res)
            seconds = time.monotonic() - t0
            n_batches = res["last_batch"] + 1
            # Frontier rows each committed batch consumed: the seeds, then
            # each manifest's next-frontier row count.
            frontier_in = len(self.graph["seeds"]) + sum(
                eng.ckpt.stats(b)["frontier"] for b in range(n_batches - 1)
            )
            if n_batches not in self._expected:
                self._expected[n_batches] = expected_outputs(
                    self.graph, self.spec, n_batches)
            expected = self._expected[n_batches]
            if corrupt_output:
                corrupt(observed)
            bad = mismatched_rows(expected, observed)
            unit = {
                "seconds": seconds,
                "batch_s": batch_s,
                "pages": len(observed["log"]),
                "frontier_in": frontier_in,
                "expected_rows": sum(len(v) for v in expected.values()),
                "bad_rows": sum(bad.values()),
                "bad_by_output": bad,
            }
            if self.tracer is not None:
                unit["layers"] = self._checkpoint_layers(eng, observed, n_batches)
            return unit
        finally:
            self._dispose(eng)

    # -- traced run -------------------------------------------------------------

    def instrument(self) -> None:
        """Wrap the public calls the per-layer metrics are read from."""
        import crawler_spark.streaming.crawl_loop as loop
        from crawler_spark.sources.fetcher import MockWebFetcher
        from crawler_spark.streaming.checkpoint import CrawlCheckpoint

        t = self.tracer
        t.wrap(CrawlEngine, "run", "crawl_loop.run")
        t.wrap(CrawlEngine, "run_batch", "crawl_loop.run_batch")
        t.wrap(CrawlEngine, "results", "crawl_loop.results")
        t.wrap(CrawlCheckpoint, "write_parts", "checkpoint.write_parts",
               after=self._count_batch_files)
        t.wrap(CrawlCheckpoint, "finalize", "checkpoint.finalize")
        t.wrap(CrawlCheckpoint, "read_part", "checkpoint.read_part")
        t.wrap(CrawlCheckpoint, "read_deltas", "checkpoint.read_deltas")
        t.wrap(CrawlCheckpoint, "compact", "checkpoint.compact")
        t.wrap(MockWebFetcher, "fetch", "fetcher.fetch",
               after=self._capture_parse_inputs)
        for fn, name in (
            ("intra_batch_dedup", "dedup.intra_batch_dedup"),
            ("url_seen_filter", "dedup.url_seen_filter"),
            ("url_seen_filter_sharded", "dedup.url_seen_filter_sharded"),
            ("build_bloom_sharded", "bloom.build_bloom_sharded"),
            ("merge_bloom_shards", "bloom.merge_bloom_shards"),
            ("apply_robots", "politeness.apply_robots"),
        ):
            t.wrap(loop, fn, name)
        t.wrap(loop, "admit_per_host", "politeness.admit_per_host",
               after=self._stage_admission)

    def _count_batch_files(self, _result, args) -> None:
        ckpt, batch_id = args[0], args[1]
        self.batch_files.append(
            _dir_size(Path(ckpt.root) / f"batch_{batch_id:05d}"))

    def _capture_parse_inputs(self, fetched, _args) -> None:
        """Collect the pages the parse stage will see (traced run only; the
        collect is its own span, excluded from per-batch Spark totals)."""
        with self.tracer.span("parser.capture"):
            self.parse_rows.extend(
                fetched.filter(F.col("f_status") == "ok").select(
                    "url", "meta_json", "depth", "seq", "website_id",
                    "method", "body", "parse_kind", "g_response_url",
                    "g_kind", "g_payload",
                ).collect()
            )

    def _stage_admission(self, result, _args) -> None:
        admitted, deferred = result
        with self.tracer.span("politeness.staged"):
            self.admission.append((admitted.count(), deferred.count()))

    def _checkpoint_layers(self, eng: CrawlEngine, observed: dict,
                           n_batches: int) -> dict:
        """Per-layer counts read from one crawl's committed checkpoint."""
        import pyarrow.parquet as pq

        root = Path(eng.ckpt.root)
        fresh = len(self.graph["seeds"]) + sum(
            int((pq.read_table(root / f"batch_{b:05d}" / "frontier",
                               columns=["attempt"])
                 .column("attempt").to_numpy() == 0).sum())
            for b in range(n_batches - 1)
        )
        bloom_dir = root / f"batch_{n_batches - 1:05d}" / "bloom"
        return {
            "fresh": fresh,
            "deduped": sum(m[3] for m in observed["metrics"]),
            "scheduled": sum(m[2] for m in observed["metrics"]),
            "fetched": sum(m[4] for m in observed["metrics"]),
            "retries": sum(1 for r in observed["log"] if r[4] > 0),
            "bloom_batches": sum("bloom" in eng.ckpt.stats(b)
                                 for b in range(n_batches)),
            "bloom_bytes": _dir_size(bloom_dir)[1] if bloom_dir.exists() else 0,
        }

    def replay_parse(self) -> dict:
        """Single-threaded ``parse_page`` over the captured pages, with the
        arguments the engine's parse stage passes."""
        registry = self.graph["registry"]
        n_docs = n_reqs = 0
        t0 = time.perf_counter()
        for row in self.parse_rows:
            rule = registry.get(row.website_id, {})
            doc, reqs = parse_page(
                url=row.url,
                response_url=row.g_response_url or row.url,
                kind=row.g_kind,
                payload_json=row.g_payload,
                meta=json.loads(row.meta_json) if row.meta_json else {},
                depth=row.depth,
                seq=row.seq,
                cutoff_epoch=self.graph["cutoff_epoch"],
                rule=rule.get("rule", "next_link"),
                as_of=AS_OF,
                probe_first=rule.get("probe_first", False),
                method=row.method,
                body=row.body,
                fmt=rule.get("format", "json"),
                extract=rule.get("extract"),
                site=rule,
                req_kind=row.parse_kind,
            )
            n_docs += doc is not None
            n_reqs += len(reqs)
        dt = time.perf_counter() - t0
        n = len(self.parse_rows)
        return {
            "parser.replay_pages_per_s": n / dt if n else 0.0,
            "parser.docs_per_page": n_docs / n if n else 0.0,
            "parser.reqs_per_page": n_reqs / n if n else 0.0,
        }
