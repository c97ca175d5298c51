"""frontier_bulk: the frontier pipeline alone, at bulk scale.

Candidate URLs come from a lineitem-shaped table (the shape of the TPC-H
fixture ``bench.py`` reads), replicated ``mult`` times with distinct URLs
over 400 hosts; the seen set is 80% of the rep-0 URLs. One measured unit is
one repetition: a fresh plan of canonicalize → host → xxhash64 →
intra-batch dedup → exact anti-join against the seen set → per-host
admission, forced by one aggregate (admitted count + order-independent
checksum). There is no fetch, parse or checkpoint, and the seen set never
changes.

Oracle, outside the timed window: every repetition's admitted count equals
a NumPy reference count and its checksum equals the first repetition's; the
admitted URLs and host ranks of a seed-chosen sample of hosts equal a
pure-Python reference (its own canonicalizer, dedup, anti-join and
admission).
"""

from __future__ import annotations

import math
import random
import re
import time
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from crawler_spark.functions.urlnorm import canonicalize_col, host_of
from crawler_spark.operators.dedup import intra_batch_dedup
from crawler_spark.operators.politeness import admit_per_host

N_HOSTS = 400
CRAWL_DELAY = 0.2
SAMPLE_HOSTS = 8
WARMUP_REPS = 4  # repetition times settle after about four (JIT)
# The ratios of bench.py's run on the sf0.1 fixture (600,000 rows x 10 =
# 6 M candidates, 600 URLs per host): every (orderkey, linenumber) is unique,
# so intra-batch dedup keeps every candidate; the seen set drops 80 % of
# rep 0, i.e. 8 % of the candidates; each host has ~23x its budget of
# survivors, so ~96 % of them are deferred. Here ~30,000 rows x 10 =
# ~300,000 candidates and a 6 s batch (30 URLs per host): every seed admits
# 400 x 30 = 12,000 URLs.
SIZES = {
    "full": dict(orders=7_500, mult=10, batch_seconds=6.0),
    "tiny": dict(orders=300, mult=10, batch_seconds=1.0),
}


def make_lineitem(seed: int, orders: int) -> pa.Table:
    """TPC-H-shaped lines: each order has 1-7 lines numbered from 1, each
    from a random one of 1,000 suppliers."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, orders)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    return pa.table({
        "l_orderkey": np.repeat(np.arange(1, orders + 1), lines),
        "l_suppkey": rng.integers(1, 1001, int(lines.sum())),
        "l_linenumber": (np.arange(int(lines.sum())) - first + 1
                         ).astype(np.int32),
    })


class FrontierPipeline:
    """The plan ``bench.py`` times, built fresh per repetition."""

    def __init__(self, spark, lineitem: Path, mult: int, batch_seconds: float):
        self.batch_seconds = batch_seconds
        par = spark.sparkContext.defaultParallelism
        # The input is one row group: fan out before the expensive map.
        li = spark.read.parquet(str(lineitem)).repartition(par * 4)
        li = li.withColumn("rep", F.explode(F.expr(f"sequence(0, {mult - 1})")))
        raw = F.concat(
            F.lit("HTTP://Site"),
            F.pmod(F.col("l_suppkey"), F.lit(N_HOSTS)).cast("string"),
            F.lit(".Example.COM/item/"), F.col("l_orderkey").cast("string"),
            F.lit("_"), F.col("l_linenumber").cast("string"),
            F.lit("_"), F.col("rep").cast("string"), F.lit("#ref"),
        )
        self.cand = li.select(
            raw.alias("raw_url"),
            F.lpad(
                F.concat(F.col("l_orderkey").cast("string"), F.lit("."),
                         F.col("l_linenumber").cast("string"), F.lit("."),
                         F.col("rep").cast("string")),
                20, "0",
            ).alias("seq"),
            F.lit(0.0).alias("priority"),
            F.lit(False).alias("dont_filter"),
        )
        li0 = spark.read.parquet(str(lineitem)).repartition(par)
        self.seen = li0.filter(F.col("l_orderkey") % 5 != 0).select(
            F.concat(
                F.lit("http://site"),
                F.pmod(F.col("l_suppkey"), F.lit(N_HOSTS)).cast("string"),
                F.lit(".example.com/item/"), F.col("l_orderkey").cast("string"),
                F.lit("_"), F.col("l_linenumber").cast("string"), F.lit("_0"),
            ).alias("url")
        )

    @staticmethod
    def canonical(cand):
        return cand.select(
            canonicalize_col(F.col("raw_url")).alias("url"),
            host_of(F.col("raw_url")).alias("host"),
            "seq", "priority", "dont_filter",
        ).withColumn("url_hash", F.xxhash64(F.col("url"))).withColumn(
            "crawl_delay", F.lit(CRAWL_DELAY)
        )

    def admitted(self):
        survivors = intra_batch_dedup(self.canonical(self.cand)).join(
            self.seen, on="url", how="left_anti")
        return admit_per_host(survivors, self.batch_seconds)[0]

    def aggregate(self):
        return self.admitted().agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(concat_ws('|', url, cast(host_rank as string))))"
            ).alias("checksum"),
        )


# -- pure-Python reference ------------------------------------------------------

_SCHEME_HOST = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)")


def canonicalize_py(url: str) -> str:
    """The rules of ``canonicalize_col``, written out independently."""
    c = url.split("#", 1)[0]
    m = _SCHEME_HOST.match(c)
    if m and m.group(1):
        c = m.group(1).lower() + c[m.end():]
    c = re.sub(r"^(http://[^/:?#]+):80(?=[/?]|$)", r"\1", c)
    c = re.sub(r"^(https://[^/:?#]+):443(?=[/?]|$)", r"\1", c)
    c = re.sub(r"^([A-Za-z0-9+.\-]+://[^/?#]+)$", r"\1/", c)
    return re.sub(r"^([A-Za-z0-9+.\-]+://[^/?#]+)\?", r"\1/?", c)


def host_py(url: str) -> str:
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?#]+)", url)
    return m.group(1).lower() if m else ""


def budget(batch_seconds: float) -> int:
    return max(1, math.floor(batch_seconds / CRAWL_DELAY))


def reference_total(table: pa.Table, mult: int, batch_seconds: float) -> int:
    """Admitted count: per host, min(budget, distinct surviving URLs)."""
    ok = table.column("l_orderkey").to_numpy().astype(np.int64)
    ln = table.column("l_linenumber").to_numpy().astype(np.int64)
    host = table.column("l_suppkey").to_numpy().astype(np.int64) % N_HOSTS
    span = int(ok.max()) + 1
    ident = np.unique((host * span + ok) * 8 + ln)
    u_host, u_ok = ident // (span * 8), (ident // 8) % span
    # Rep 0 survives the seen set only for orderkeys divisible by 5; the
    # other reps never match it.
    survivors = (np.bincount(u_host, minlength=N_HOSTS) * (mult - 1)
                 + np.bincount(u_host[u_ok % 5 == 0], minlength=N_HOSTS))
    return int(np.minimum(survivors, budget(batch_seconds)).sum())


def reference_sample(table: pa.Table, mult: int, batch_seconds: float,
                     hosts: list[int]) -> dict[str, list[tuple[str, int]]]:
    """Admitted (url, host_rank) per sampled host, row by row in Python."""
    sk = table.column("l_suppkey").to_numpy()
    keep = np.isin(sk % N_HOSTS, hosts)
    rows = zip(table.column("l_orderkey").to_numpy()[keep].tolist(),
               sk[keep].tolist(),
               table.column("l_linenumber").to_numpy()[keep].tolist())
    best: dict[str, dict[str, str]] = defaultdict(dict)
    seen: set[str] = set()
    for o, s, ln in rows:
        h = s % N_HOSTS
        if o % 5 != 0:
            seen.add(f"http://site{h}.example.com/item/{o}_{ln}_0")
        for rep in range(mult):
            raw = f"HTTP://Site{h}.Example.COM/item/{o}_{ln}_{rep}#ref"
            url, seq = canonicalize_py(raw), f"{o}.{ln}.{rep}".rjust(20, "0")
            per_url = best[host_py(raw)]
            if url not in per_url or seq < per_url[url]:
                per_url[url] = seq
    out = {}
    for host, per_url in best.items():
        survivors = sorted((seq, url) for url, seq in per_url.items()
                           if url not in seen)
        out[host] = [(url, rank) for rank, (_, url)
                     in enumerate(survivors[:budget(batch_seconds)], 1)]
    return out


def positional_mismatches(exp: list, got: list) -> int:
    return sum(a != b for a, b in zip(exp, got)) + abs(len(exp) - len(got))


class FrontierWorkload:
    def __init__(self, spark, size: str, seed: int, work: Path, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.size = SIZES[size]
        self.mult = self.size["mult"]
        self.batch_seconds = self.size["batch_seconds"]

    def generate_inputs(self) -> None:
        self.table = make_lineitem(self.seed, self.size["orders"])
        self.lineitem = self.work / f"lineitem-{self.seed}.parquet"
        pq.write_table(self.table, self.lineitem)
        self.pipeline = FrontierPipeline(self.spark, self.lineitem, self.mult,
                                         self.batch_seconds)
        self.n_candidates = self.table.num_rows * self.mult

    def warm_up(self) -> None:
        for _ in range(WARMUP_REPS):
            self.pipeline.aggregate().collect()

    def prepare_oracle(self) -> None:
        self.expected_total = reference_total(self.table, self.mult,
                                              self.batch_seconds)
        self.expected_checksum = None
        rng = random.Random(self.seed)
        self.sample = sorted(rng.sample(range(N_HOSTS), SAMPLE_HOSTS))
        self.expected_sample = reference_sample(
            self.table, self.mult, self.batch_seconds, self.sample)

    def measure(self, seconds: float, corrupt_output: bool = False) -> list[dict]:
        """Closed loop of repetitions until ``seconds`` have passed, then the
        sampled-host check; stops at the first mismatch."""
        deadline = time.monotonic() + seconds
        units: list[dict] = []
        while True:
            agg = self.pipeline.aggregate()
            with (self.tracer.span("frontier.rep") if self.tracer
                  else nullcontext()):
                t0 = time.monotonic()
                row = agg.collect()[0]
                dt = time.monotonic() - t0
            n, checksum = row.n, int(row.checksum)
            if corrupt_output and not units:
                n -= 1
            if self.expected_checksum is None:
                self.expected_checksum = checksum
            bad = abs(n - self.expected_total) + int(
                checksum != self.expected_checksum)
            units.append({"seconds": dt, "admitted": n, "checksum": checksum,
                          "expected_rows": self.expected_total,
                          "bad_rows": bad})
            if bad:
                return units
            if time.monotonic() >= deadline:
                break
        units.append(self._check_sample())
        return units

    def _check_sample(self) -> dict:
        names = [f"site{h}.example.com" for h in self.sample]
        rows = (self.pipeline.admitted()
                .filter(F.col("host").isin(names))
                .select("host", "url", "host_rank").collect())
        got: dict[str, list] = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r.host, r.host_rank)):
            got[r.host].append((r.url, r.host_rank))
        expected = sum(len(v) for v in self.expected_sample.values())
        bad = sum(positional_mismatches(self.expected_sample.get(h, []),
                                        got.get(h, []))
                  for h in set(self.expected_sample) | set(got))
        return {"seconds": None, "expected_rows": expected, "bad_rows": bad}

    def staged_layers(self) -> dict:
        """Materialize each stage into the noop sink from the cached output
        of the stage before it (traced run only)."""
        cached = []

        def stage(name, df):
            df = df.persist()
            cached.append(df)
            with self.tracer.span(name):
                t0 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
            return df, dt, df.count()

        cand, _, n_cand = stage("frontier.stage.input", self.pipeline.cand)
        seen, _, _ = stage("frontier.stage.seen", self.pipeline.seen)
        canon, urlnorm_s, _ = stage("frontier.stage.urlnorm",
                                    FrontierPipeline.canonical(cand))
        deduped, intra_s, n_intra = stage("frontier.stage.intra",
                                         intra_batch_dedup(canon))
        surv, seen_s, n_surv = stage(
            "frontier.stage.seen_join",
            deduped.join(seen, on="url", how="left_anti"))
        admitted, deferred = admit_per_host(surv, self.batch_seconds)
        admitted, admit_s, n_adm = stage("frontier.stage.admit", admitted)
        n_def = deferred.count()
        for df in cached:
            df.unpersist()
        return {
            "dedup.candidates": float(n_cand),
            "dedup.drop_ratio": 1.0 - n_surv / n_cand,
            "dedup.intra_s": intra_s,
            "dedup.intra_keep_ratio": n_intra / n_cand,
            "dedup.seen_s": seen_s,
            "dedup.seen_drop_ratio": 1.0 - n_surv / n_intra,
            "urlnorm.s": urlnorm_s,
            "politeness.admit_s": admit_s,
            "politeness.admit_ratio": n_adm / n_surv,
            "politeness.deferred_ratio": n_def / n_surv,
        }
