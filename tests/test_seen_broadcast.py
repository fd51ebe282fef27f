"""Bloom bit-array distribution (VERDICT r3 task 5): the probe UDF must
read from an ``sc.broadcast`` handle (one transfer per executor,
cached) rather than a closure-captured byte array (re-serialized with
every task binary — ~120 MB/task at the documented 10^8-key scale)."""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.broadcast import Broadcast

from crawler_tjce_spark.plans import seen as seenmod


def _dfs(spark):
    seen_urls = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p/{i}",) for i in range(200)], "url string"
    )
    cands = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p/{i}",) for i in range(150, 350)], "url string"
    )
    return seen_urls, cands


def _bloom_tagger(bits, k):
    return partial(seenmod.maybe_seen_expr, url_col="url", bloom_bits=bits, k=k)


def test_broadcast_and_bytes_paths_agree(spark):
    seen_urls, cands = _dfs(spark)
    bits = seenmod.build_bloom(seen_urls, "url", expected_n=400)
    _, k = seenmod.bloom_params(400)

    via_bytes = set(
        r["url"]
        for r in seenmod.filter_unseen(
            cands, seen_urls, "url", _bloom_tagger(bits, k)
        ).collect()
    )
    bc = spark.sparkContext.broadcast(bits)
    assert isinstance(bc, Broadcast)
    via_bc = set(
        r["url"]
        for r in seenmod.filter_unseen(
            cands, seen_urls, "url", _bloom_tagger(bc, k)
        ).collect()
    )
    bc.unpersist()

    expected = {f"https://h{i % 5}.example/p/{i}" for i in range(200, 350)}
    assert via_bytes == expected
    assert via_bc == expected


def test_probe_udf_reads_live_broadcast_value(spark):
    """The UDF must dereference the broadcast at EXECUTION time (a
    rebroadcast after an update serves the new bits), and the driver-side
    length read must not have baked in a stale copy of the payload."""
    seen_urls, cands = _dfs(spark)
    bits = seenmod.build_bloom(seen_urls, "url", expected_n=400)
    _, k = seenmod.bloom_params(400)
    bc = spark.sparkContext.broadcast(bits)
    tagged = seenmod.maybe_seen_expr(cands, "url", bc, k)
    n_maybe = tagged.filter("_maybe_seen").count()
    # all 50 overlapping urls must be flagged maybe-seen (no false negatives)
    assert n_maybe >= 50
    bc.unpersist()


def test_runner_publishes_bloom_broadcast(spark, tmp_path):
    """The crawl runner must hold a Broadcast handle (not just bytes) and
    refresh it on bloom updates, unpersisting the stale generation."""
    from crawler_tjce_spark.datagen import WorldConfig, write_world
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    world = str(tmp_path / "world")
    write_world(WorldConfig(n_hosts=4, n_pages=60, n_seeds=4), world)
    runner = CrawlRunner(spark, world, str(tmp_path / "store"), max_waves=2,
                         bloom_expected=500)
    manifest = runner.prepare(resume=False)
    assert isinstance(runner._bloom_bc, Broadcast)
    gen0 = runner._bloom_bc
    runner.run_waves(manifest)
    assert isinstance(runner._bloom_bc, Broadcast)
    assert runner._bloom_bc is not gen0  # updated blooms were re-published
    assert runner._bloom_bc.value == runner._bloom_bits


def test_wave_shuffle_sizing_restored(spark, tmp_path):
    """The runner sizes spark.sql.shuffle.partitions per wave from the
    frontier's footer row count (AQE can only coalesce DOWN from the
    static ceiling) and restores the session's setting on loop exit."""
    from crawler_tjce_spark.datagen import WorldConfig, write_world
    from crawler_tjce_spark.streaming.runner import CrawlRunner

    world = str(tmp_path / "world_sp")
    write_world(WorldConfig(n_hosts=3, n_pages=40, n_seeds=3), world)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    runner = CrawlRunner(spark, world, str(tmp_path / "store_sp"), max_waves=1)
    runner.run(resume=False)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_filter_unseen_duplicate_rows_equals_not_in(spark):
    """Bloom-probed filter_unseen == exact NOT IN semantics for any bloom
    state: candidates with DUPLICATE rows per url, a seen set overlapping
    half of them, and a deliberately tiny (collision-heavy) bloom — false
    positives must be recovered, never dropped, and duplicate candidate
    rows must all survive."""
    cands = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p/{i % 40}", i) for i in range(120)],
        "url string, payload int",
    )
    seen = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p/{i}",) for i in range(0, 40, 2)], "url string"
    )
    # collision-heavy bloom: 64 bits for 20 keys → many false positives

    bits = seenmod.build_bloom(seen, "url", expected_n=2, fpp=0.5)
    _, k = seenmod.bloom_params(2, 0.5)
    got = sorted(
        (r["url"], r["payload"])
        for r in seenmod.filter_unseen(
            cands, seen, "url", _bloom_tagger(bits, k)
        ).collect()
    )
    seen_urls = {r["url"] for r in seen.collect()}
    want = sorted(
        (r["url"], r["payload"]) for r in cands.collect() if r["url"] not in seen_urls
    )
    assert got == want
    assert len(got) > 0 and np.frombuffer(bits, dtype=np.uint8).any()


def test_empty_seen_bloom_passes_every_candidate(spark):
    """An empty seen set builds an all-zero bloom, so the probe tags no
    candidate and filter_unseen returns every one of them."""
    seen_urls, cands = _dfs(spark)
    empty = seen_urls.filter("url = 'nope'")
    bits = seenmod.build_bloom(empty, "url", expected_n=400)
    _, k = seenmod.bloom_params(400)
    assert not np.frombuffer(bits, dtype=np.uint8).any()
    got = sorted(
        r["url"]
        for r in seenmod.filter_unseen(
            cands, empty, "url", _bloom_tagger(bits, k)
        ).collect()
    )
    assert got == sorted(r["url"] for r in cands.collect())
