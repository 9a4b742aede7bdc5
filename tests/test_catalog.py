"""Snapshot catalog: time travel + rollback (the Iceberg analogues the
parquet+manifest shim can honestly provide — sources/catalog.py)."""

from __future__ import annotations

import json

import pytest

from wormpy_spark.fixtures.webgen import generate_corpus
from wormpy_spark.plans.crawl import CrawlConfig, run_crawl
from wormpy_spark.sources.catalog import SnapshotCatalog

from conftest import corpus_to_spark


def test_time_travel_and_rollback_resume(spark, tmp_path):
    """Run a crawl to completion with checkpoints; time-travel reads
    must return each round's pages as committed; rolling back to round
    0 and resuming must reproduce the uninterrupted final state."""
    corpus = generate_corpus()
    tables = corpus_to_spark(spark, corpus)
    cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7)

    full = run_crawl(
        spark, tables["web"], CrawlConfig(**cfg), sitemaps=tables["sitemaps"]
    )
    want_order = [r["url_norm"] for r in full.order.collect()]

    ckpt = str(tmp_path / "ckpt")
    run_crawl(
        spark, tables["web"], CrawlConfig(**cfg, checkpoint_dir=ckpt),
        sitemaps=tables["sitemaps"],
    )
    cat = SnapshotCatalog(ckpt)
    rounds = cat.rounds()
    assert len(rounds) >= 2

    # time travel: pages at round r == exactly the rows committed then;
    # cumulative counts must be strictly increasing and prefix-closed
    seen_counts = []
    for r in rounds:
        pages_r = cat.read(spark, "pages", r)
        n = pages_r.count()
        assert n > 0
        seen_counts.append(cat.state(r)["processed"])
    assert seen_counts == sorted(seen_counts)
    assert cat.state(rounds[0])["round"] == rounds[0]
    # head state is the last round's state
    assert cat.state()["processed"] == seen_counts[-1]

    # rollback to the first round, resume, and compare with full run
    cat.rollback(rounds[0])
    assert cat.latest_round() == rounds[0]
    assert cat.rounds() == [rounds[0]]
    resumed = run_crawl(
        spark, tables["web"],
        CrawlConfig(**cfg, checkpoint_dir=ckpt, resume=True),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in resumed.order.collect()] == want_order


def test_resume_refuses_an_incompatible_checkpoint(spark, tmp_path):
    """Resume reads a checkpoint only under the snapshot format it was
    written in, and only with the per-host cap and shard count it was
    written with: a tampered manifest must raise, not resume."""
    corpus = generate_corpus(seed=11, n_hosts=2, pages_per_host=12, n_images_per_host=4)
    tables = corpus_to_spark(spark, corpus)
    cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7)
    ckpt = str(tmp_path / "ckpt")
    run_crawl(
        spark, tables["web"], CrawlConfig(**cfg, checkpoint_dir=ckpt, max_rounds=1),
        sitemaps=tables["sitemaps"],
    )
    manifest_path = tmp_path / "ckpt" / SnapshotCatalog.MANIFEST
    good = json.loads(manifest_path.read_text())

    def resume_with(state_edit, **cfg_edit):
        m = json.loads(json.dumps(good))
        state_edit(m["state"])
        manifest_path.write_text(json.dumps(m))
        return run_crawl(
            spark, tables["web"],
            CrawlConfig(**{**cfg, **cfg_edit}, checkpoint_dir=ckpt, resume=True),
            sitemaps=tables["sitemaps"],
        )

    with pytest.raises(ValueError, match="format"):
        resume_with(lambda st: st.pop("format"))
    with pytest.raises(ValueError, match="format"):
        resume_with(lambda st: st.update(format=99))
    with pytest.raises(ValueError, match="max_per_host_per_round"):
        resume_with(lambda st: None, max_per_host_per_round=3)
    with pytest.raises(ValueError, match="n_host_shards"):
        resume_with(lambda st: None, n_host_shards=8)
    # the untampered checkpoint still resumes
    assert resume_with(lambda st: None).processed > 1


def test_iceberg_config_contract(spark):
    """SURVEY §7.5-4's config-only swap, exercised instead of prose:
    iceberg_conf() is the exact public SparkCatalog wiring, a live
    session accepts every key at runtime, and backend selection falls
    back to the shim when iceberg-spark-runtime is absent (as in this
    sandbox)."""
    from wormpy_spark.session import (
        iceberg_available,
        iceberg_conf,
        select_catalog_backend,
    )

    conf = iceberg_conf(warehouse="/tmp/wh")
    assert conf["spark.sql.catalog.wormpy"] == (
        "org.apache.iceberg.spark.SparkCatalog"
    )
    assert conf["spark.sql.catalog.wormpy.type"] == "hadoop"
    assert conf["spark.sql.catalog.wormpy.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]

    # a live session accepts the catalog keys at runtime (the swap is
    # config-only — no engine code changes)
    for k, v in iceberg_conf(catalog="wormpy_test").items():
        if k == "spark.sql.extensions":
            continue  # builder-time-only key
        spark.conf.set(k, v)
        assert spark.conf.get(k) == v

    # no jar in this environment -> the shim is selected
    assert iceberg_available(spark) is False
    assert select_catalog_backend(spark) == "shim"
