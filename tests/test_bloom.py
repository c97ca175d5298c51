"""Sharded bloom prefilter invariants (SURVEY §7.4): ZERO false negatives
ever; false-positive rate within a sane bound of the configured fpp; shard
bitsets independent of input partitioning and of incremental merging."""

import pytest
from pyspark.sql import functions as F


def test_sharded_probe_no_false_negatives(spark):
    """The 10^10-scale seam: per-shard bitsets built distributed (no
    driver merge), probed via cogroup. Invariants: every member probes
    positive in the sharded filter too, and FP rate stays bounded."""
    from crawler_spark.operators.bloom import (
        bloom_probe_sharded,
        build_bloom_sharded,
    )

    n, shards = 5000, 4
    members = spark.range(n).select(F.xxhash64("id").alias("url_hash"))
    bl = build_bloom_sharded(members, "url_hash", num_shards=shards,
                             expected_items=n, fpp=0.01)
    assert bl.count() == shards

    pos = bloom_probe_sharded(members, bl, "url_hash", shards)
    assert pos.filter(~F.col("_maybe")).count() == 0

    non = spark.range(n, 3 * n).select(F.xxhash64("id").alias("url_hash"))
    fp = bloom_probe_sharded(non, bl, "url_hash", shards).filter(
        F.col("_maybe")
    ).count()
    assert fp / (2 * n) < 0.05


def test_incremental_merge_matches_from_scratch(spark):
    """merge_bloom_shards (the crawl loop's per-batch maintenance path)
    must be BITWISE identical to a from-scratch build over the union —
    OR is commutative, parameters are pinned, so the shard bitsets agree
    exactly. The from-scratch build runs over 8 partitions and over 1: the
    bitsets must not depend on how the input is partitioned."""
    from crawler_spark.operators.bloom import (
        build_bloom_sharded,
        merge_bloom_shards,
        sharded_params,
    )

    shards, capacity = 4, 4000
    num_bits, k = sharded_params(shards, capacity)
    base = spark.range(1000).select(F.xxhash64("id").alias("url_hash"))
    d1 = spark.range(1000, 1600).select(F.xxhash64("id").alias("url_hash"))
    d2 = spark.range(1600, 2000).select(F.xxhash64("id").alias("url_hash"))

    inc = build_bloom_sharded(base, "url_hash", shards, expected_items=capacity)
    for d in (d1, d2):
        inc = merge_bloom_shards(inc, d, "url_hash", shards, num_bits, k)

    got = {r.shard: (r.bits, r.num_hashes, r.num_bits) for r in inc.collect()}
    assert len(got) == shards
    union = spark.range(2000).select(F.xxhash64("id").alias("url_hash"))
    for layout in (union.repartition(8), union.coalesce(1)):
        full = build_bloom_sharded(layout, "url_hash", shards,
                                   expected_items=capacity)
        want = {r.shard: (r.bits, r.num_hashes, r.num_bits)
                for r in full.collect()}
        assert got == want


def test_probe_shard_count_mismatch_raises(spark):
    """A probe modulus that disagrees with the build modulus must fail
    loudly instead of silently producing bloom false negatives (ADVICE r2
    #1)."""
    from crawler_spark.operators.bloom import (
        bloom_probe_sharded,
        build_bloom_sharded,
    )

    members = spark.range(500).select(F.xxhash64("id").alias("url_hash"))
    bl = build_bloom_sharded(members, "url_hash", num_shards=4,
                             expected_items=500)
    with pytest.raises(Exception, match="shard-count mismatch"):
        bloom_probe_sharded(members, bl, "url_hash", 8).filter(
            ~F.col("_maybe")
        ).count()


def test_probe_derives_num_shards(spark):
    """num_shards=None derives the modulus from the stored shard rows —
    callers cannot desynchronize what they never supply."""
    from crawler_spark.operators.bloom import (
        bloom_probe_sharded,
        build_bloom_sharded,
    )

    members = spark.range(500).select(F.xxhash64("id").alias("url_hash"))
    bl = build_bloom_sharded(members, "url_hash", num_shards=4,
                             expected_items=500)
    pos = bloom_probe_sharded(members, bl, "url_hash")
    assert pos.filter(~F.col("_maybe")).count() == 0


def test_sharded_url_seen_filter_matches_unsharded(spark):
    """url_seen_filter_sharded must produce the exact survivor set of the
    unsharded (and bloom-less) paths — bloom is a prefilter either way;
    the exact anti-join decides (num_shards > 1, VERDICT r1 #10)."""
    from crawler_spark.functions.urlnorm import canonicalize_col
    from crawler_spark.operators.bloom import build_bloom_sharded
    from crawler_spark.operators.dedup import (
        url_seen_filter,
        url_seen_filter_sharded,
    )

    seen = spark.createDataFrame(
        [(f"http://s/{i}",) for i in range(400)], "url string"
    ).withColumn("url_hash", F.xxhash64(canonicalize_col(F.col("url"))))
    cands = spark.createDataFrame(
        [(f"http://s/{i}", i % 17 == 0, f"{i:05d}") for i in range(300, 700)],
        "url string, dont_filter boolean, seq string",
    ).withColumn("url_hash", F.xxhash64(canonicalize_col(F.col("url"))))

    plain = {r.url for r in
             url_seen_filter(spark, cands, seen).collect()}
    bl = build_bloom_sharded(seen, "url_hash", num_shards=4,
                             expected_items=400)
    sharded = {r.url for r in
               url_seen_filter_sharded(spark, cands, seen, bl, 4).collect()}
    assert sharded == plain
    assert plain  # non-degenerate fixture
