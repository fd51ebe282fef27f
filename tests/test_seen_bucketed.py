"""Bucketed seen store (r6, VERDICT r5 #1): the exact anti-join's seen
side is read pre-partitioned from a catalog parquet table CLUSTERED BY
(url), so only the candidate side exchanges; the per-wave write moves
O(|wave|) discovered URLs, not O(|seen-history|)."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from crawler_tjce_spark.datagen import WorldConfig, write_world
from crawler_tjce_spark.streaming.runner import CrawlRunner


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bktworld"))
    write_world(WorldConfig(n_hosts=8, n_pages=300, n_seeds=4), d)
    return d


def test_seen_side_scans_bucketed_without_exchange(spark, world, tmp_path):
    """The left_anti against the seen index must show the seen side as a
    bucketed scan (no Exchange under it) — the whole point of the layout.
    Broadcast is disabled for the probe so the shuffle path is planned."""
    store = str(tmp_path / "store_plan")
    r = CrawlRunner(spark, world, store, max_waves=2)
    r.run(resume=False)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = r.seen_final_df()
        cand = spark.range(500).select(
            F.concat(F.lit("https://hx.example/p/"), F.col("id").cast("string")).alias(
                "url"
            )
        )
        plan = (
            cand.join(seen, "url", "left_anti")
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "Bucketed: true" in plan
    # exactly one Exchange operator: the candidate side's (the seen side
    # reads pre-partitioned from its bucket files)
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)) == 1, plan


def test_requeue_survives_wave_replay_overwrite(spark, world, tmp_path):
    """Replaying a wave dynamically overwrites index partition (d, wave)
    only — requeue entries under (r, wave) must survive, or a requeued
    URL would be silently re-discoverable."""
    store = str(tmp_path / "store_rq")
    r = CrawlRunner(spark, world, store, max_waves=2)
    m = r.run(resume=False)
    wave = m["wave"]
    some = [x["url"] for x in r.visits_df().limit(2).collect()]
    r.requeue(some)
    # simulate the replay write for the same wave number
    disc = spark.createDataFrame([("https://replay.example/x",)], "url string")
    r._seen_idx_insert(disc, "d", wave, overwrite=True)
    seen = {x["url"] for x in r.seen_final_df().collect()}
    assert set(some) <= seen
    assert "https://replay.example/x" in seen


def test_replay_overwrite_keeps_index_under_static_mode(spark, world, tmp_path):
    """The index's overwrite inserts replace only their own (src, wave)
    partition even on a session with static partition overwrite: a
    replay insert for (d, wave) keeps the seed and earlier-wave entries."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        r = CrawlRunner(spark, world, str(tmp_path / "store_static"), max_waves=3)
        m = r.run(resume=False)
        last = m["wave"] - 1
        before = {tuple(x) for x in spark.table(r._seen_table).collect()}
        assert any(src == "s" for _, src, _ in before)
        assert any(src == "d" and w < last for _, src, w in before)
        replay = spark.createDataFrame([("https://replay.example/y",)], "url string")
        r._seen_idx_insert(replay, "d", last, overwrite=True)
        after = {tuple(x) for x in spark.table(r._seen_table).collect()}
    finally:
        spark.conf.set(key, prior)
    kept = {e for e in before if (e[1], e[2]) != ("d", last)}
    assert after == kept | {("https://replay.example/y", "d", last)}


def test_resume_without_seen_index_raises(spark, world, tmp_path):
    """A committed store whose seen index is gone must not resume over an
    empty seen set (that would re-visit everything)."""
    store = str(tmp_path / "store_lost")
    CrawlRunner(spark, world, store, max_waves=2).run(resume=False)
    shutil.rmtree(os.path.join(store, "seen_idx"))
    with pytest.raises(RuntimeError, match="seen index missing"):
        CrawlRunner(spark, world, store, max_waves=4).prepare(resume=True)


def test_resume_in_fresh_catalog_recovers_index(spark, world, tmp_path):
    """The catalog entry is session-local; the files are the durable
    state. With the table gone from the catalog (a session restart) but
    seen_idx/ intact, resume re-registers the table over the existing
    files and recovers every (src, wave) partition."""
    store = str(tmp_path / "store_restart")
    r = CrawlRunner(spark, world, store, max_waves=2)
    m = r.run(resume=False)
    before = sorted(tuple(x) for x in spark.table(r._seen_table).collect())
    spark.sql(f"DROP TABLE {r._seen_table}")  # external: files stay
    assert os.path.isdir(os.path.join(store, "seen_idx"))
    r2 = CrawlRunner(spark, world, store, max_waves=4)
    assert r2.prepare(resume=True)["wave"] == m["wave"]
    after = sorted(tuple(x) for x in spark.table(r2._seen_table).collect())
    assert before and after == before
