"""Property-based + invariance tests (SURVEY.md §5.3-4/5):

- canonicalize idempotence over adversarial URL-ish strings
- Bloom filter: never a false negative (correctness of the sidecar)
- distribution invariance: the crawl's (seq, url) sequence must be
  IDENTICAL at different partition counts — the core property that
  makes the ordering claim survive a 1000-executor cluster
- checkpoint resume ≡ uninterrupted run, on every round path, with
  and without the per-host throttle
- skewed corpus (one host holding ~2/3 of pages) crawls identically
  to the oracle
- the global seq: bucket offsets ≡ a driver sort, and the property
  that makes buckets valid under per-host deferral
"""

from __future__ import annotations

import glob

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wormpy_spark.fixtures.spark_tables import corpus_to_spark
from wormpy_spark.fixtures.webgen import generate_corpus
from wormpy_spark.functions.urlnorm import normalize_url
from wormpy_spark.operators.seen import Bloom
from wormpy_spark.oracle import crawl_oracle
from wormpy_spark.plans.crawl import CrawlConfig, run_crawl

url_like = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters=":/?#.&=_- "),
    min_size=0,
    max_size=60,
)


@given(url_like)
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(u):
    try:
        once = normalize_url(u)
    except ValueError:
        return  # urlparse rejects some garbage; the engine sees pre-parsed URLs
    assert normalize_url(once) == once


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500))
@settings(max_examples=50, deadline=None)
def test_bloom_no_false_negatives(keys):
    b = Bloom.sized(len(keys), fpp=0.01)
    arr = np.array(keys, dtype=np.int64)
    b.add(arr)
    assert b.might_contain(arr).all()


@pytest.fixture(scope="module")
def small_corpus():
    return generate_corpus(seed=11, n_hosts=2, pages_per_host=12, n_images_per_host=4)


def _crawl_order(spark, tables, shuffle_partitions):
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        cfg = CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7)
        res = run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
        return [(r["seq"], r["url_norm"]) for r in res.order.collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_partition_count_invariance(spark, small_corpus):
    tables = corpus_to_spark(spark, small_corpus)
    o2 = _crawl_order(spark, tables, 2)
    o13 = _crawl_order(spark, tables, 13)
    assert o2 == o13 and len(o2) > 5


_FULL_RUNS: dict = {}


@pytest.mark.parametrize("max_rounds", [1, 2])
@pytest.mark.parametrize("cap", [None, 3], ids=["uncapped", "cap3"])
@pytest.mark.parametrize("fast_round_max", [None, 0], ids=["fast_default", "spark"])
def test_resume_equals_uninterrupted(spark, small_corpus, tmp_path, fast_round_max, cap, max_rounds):
    """A crawl stopped after ``max_rounds`` and resumed equals the
    uninterrupted crawl: order and politeness clocks. Covers the
    driver and Spark round paths, with and without a per-host cap —
    a capped Spark round that ends a run must not lose the rows it
    deferred."""
    tables = corpus_to_spark(spark, small_corpus)
    cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7,
               max_per_host_per_round=cap)
    if fast_round_max is not None:
        cfg["fast_round_max"] = fast_round_max
    key = (fast_round_max, cap)
    if key not in _FULL_RUNS:
        full = run_crawl(spark, tables["web"], CrawlConfig(**cfg),
                         sitemaps=tables["sitemaps"])
        _FULL_RUNS[key] = (
            [r["url_norm"] for r in full.order.collect()],
            {r["host"]: (r["attempts"], round(r["clock_s"], 6))
             for r in full.host_state.collect()},
        )
    full_order, full_state = _FULL_RUNS[key]
    ckpt = str(tmp_path / "ckpt")
    run_crawl(
        spark, tables["web"],
        CrawlConfig(**cfg, checkpoint_dir=ckpt, max_rounds=max_rounds),
        sitemaps=tables["sitemaps"],
    )
    resumed = run_crawl(
        spark, tables["web"],
        CrawlConfig(**cfg, checkpoint_dir=ckpt, resume=True),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in resumed.order.collect()] == full_order
    assert len(full_order) > 5
    # politeness clocks must survive the resume too
    res_state = {r["host"]: (r["attempts"], round(r["clock_s"], 6)) for r in resumed.host_state.collect()}
    assert res_state == full_state


def test_skewed_host_parity(spark):
    corpus = generate_corpus(
        seed=23, n_hosts=2, pages_per_host=15, n_images_per_host=4,
        skew_host=0, skew_factor=3,
    )
    tables = corpus_to_spark(spark, corpus)
    oracle = crawl_oracle(corpus, "https://host0.test", budget=60, politeness_seed=9)
    res = run_crawl(
        spark, tables["web"],
        CrawlConfig(base_url="https://host0.test", budget=60, politeness_seed=9),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in res.order.collect()] == oracle.order
    assert {r["url_norm"] for r in res.seen.collect()} == oracle.seen


@pytest.mark.parametrize("fast_round_max", [None, 0, 12],
                         ids=["fast_default", "spark", "handover"])
def test_host_throttle_mode(spark, small_corpus, fast_round_max):
    """Production politeness throttle (max k fetches/host/round): caps
    per-round host load, defers (never drops) — the final seen set and
    the per-host relative order match the unthrottled run. Runs on the
    driver rounds, on the Spark rounds (deferral at admission), and
    with a fast-round frontier handed over to the Spark rounds
    mid-crawl (the 12 seeds run on the driver; the 18-row frontier
    they leave, deferred rows and repeats included, does not)."""
    tables = corpus_to_spark(spark, small_corpus)
    base_cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7)
    if fast_round_max is not None:
        base_cfg["fast_round_max"] = fast_round_max
    free = run_crawl(spark, tables["web"], CrawlConfig(**base_cfg), sitemaps=tables["sitemaps"])
    capped = run_crawl(
        spark, tables["web"],
        CrawlConfig(**base_cfg, max_per_host_per_round=3),
        sitemaps=tables["sitemaps"],
    )
    if fast_round_max == 12:
        handed = glob.glob(f"{capped.checkpoint_dir}/frontier/snap-000000/*.parquet")
        assert "host_rank" in pq.read_schema(handed[0]).names
    per_round = {
        (r["round"], r["host"]): r["n"]
        for r in capped.pages.groupBy("round", "host").agg(F.count("*").alias("n")).collect()
    }
    assert per_round and all(n <= 3 for n in per_round.values())
    assert {r["url_norm"] for r in capped.seen.collect()} == {
        r["url_norm"] for r in free.seen.collect()
    }
    order_free = [r["url_norm"] for r in free.order.collect()]
    order_capped = [r["url_norm"] for r in capped.order.collect()]
    # deferral preserves relative priority within the single host
    assert order_capped == order_free


def test_bloom_engaged_parity(spark, small_corpus):
    """Force the bloom sidecar on from the first round: results must be
    identical to the bloom-off run (false positives only re-route rows
    through the exact anti-join, never drop them)."""
    tables = corpus_to_spark(spark, small_corpus)
    # fast_round_max=0: the bloom branch only exists on the Spark path
    base_cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7,
                    fast_round_max=0)
    off = run_crawl(
        spark, tables["web"], CrawlConfig(**base_cfg, use_bloom=False),
        sitemaps=tables["sitemaps"],
    )
    on = run_crawl(
        spark, tables["web"],
        CrawlConfig(**base_cfg, use_bloom=True, bloom_min_seen=0),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in on.order.collect()] == [
        r["url_norm"] for r in off.order.collect()
    ]


def test_probe_fast_and_join_paths_agree(spark, small_corpus):
    """P5/P6 probe: the broadcast skip-set fast path and the per-round
    semi-join scale path must produce identical crawls."""
    tables = corpus_to_spark(spark, small_corpus)
    # fast_round_max=0: compare the two SPARK probe strategies (the
    # driver fast path has its own skip-set check, tested separately)
    base_cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7,
                    fast_round_max=0)
    fast = run_crawl(
        spark, tables["web"], CrawlConfig(**base_cfg), sitemaps=tables["sitemaps"]
    )
    joined = run_crawl(
        spark, tables["web"],
        CrawlConfig(**base_cfg, probe_broadcast_max=0),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in fast.order.collect()] == [
        r["url_norm"] for r in joined.order.collect()
    ]


def _full_outputs(spark, tables, **cfg_kwargs):
    cfg = CrawlConfig(base_url="https://host0.test", budget=50,
                      politeness_seed=7, **cfg_kwargs)
    res = run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
    order = [(r["seq"], r["url_norm"]) for r in res.order.collect()]
    seen = sorted(r["url_norm"] for r in res.seen.collect())
    pages = {r["seq"]: r.asDict(recursive=True) for r in res.pages.collect()}
    errors = [m["errors"] for m in res.metrics_rows]
    return order, seen, pages, errors


def test_driver_fast_path_equals_spark_path(spark, small_corpus):
    """The driver fast path (plans/fastround.py) must be output-
    identical to the Spark path — order, seen set, every page row, and
    per-round error counts — both when the whole crawl fits in fast
    mode and when it transitions to the Spark path mid-crawl."""
    tables = corpus_to_spark(spark, small_corpus)
    spark_path = _full_outputs(spark, tables, fast_round_max=0)
    all_fast = _full_outputs(spark, tables, fast_round_max=4096)
    # fast_round_max=10: early rounds driver-side, later rounds hand
    # over to the Spark path mid-crawl (snapshot-mediated transition)
    mixed = _full_outputs(spark, tables, fast_round_max=10)
    assert all_fast == spark_path
    assert mixed == spark_path
    assert len(spark_path[0]) > 5


def test_assign_global_seq_equals_sorted_oracle(spark):
    """assign_global_seq numbers a bucket-stamped frontier exactly as a
    driver sort of the priority triple does — with tight bucket
    bounds, loose bounds, clamping bounds (rows outside the range fall
    into the end buckets), and empty input — and starts no Spark job."""
    import random

    from wormpy_spark.operators.frontier import (
        FRONTIER_SCHEMA,
        assign_global_seq,
        seq_bucket_col,
    )

    rng = random.Random(31337)
    rows = []
    for i in range(5000):
        parent = rng.randrange(1000, 9000)
        rows.append(
            (f"https://h.test/p/{i}", 7, parent, rng.randrange(1, 300),
             f"https://h.test/p/{i}")
        )
    oracle = [
        (123 + i, row[0])
        for i, row in enumerate(sorted(rows, key=lambda t: t[1:4]))
    ]
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    sc = spark.sparkContext
    group = "test_assign_global_seq_equals_sorted_oracle"
    for lo, span in [(1000, 8000), (0, 100000), (2000, 1000)]:  # tight/loose/clamped
        stamped = df.withColumn("seq_bucket", seq_bucket_col(lo, span, 8))
        counts = {
            r["seq_bucket"]: r["count"]
            for r in stamped.groupBy("seq_bucket").count().collect()
        }
        try:
            sc.setJobGroup(group, "assign_global_seq")
            out = assign_global_seq(stamped, counts, start=123)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == [], "assign_global_seq started a Spark job"
        got = sorted((r["seq"], r["url"]) for r in out.select("seq", "url").collect())
        assert got == oracle, f"bucket range ({lo}, {span}) diverged"

    empty = spark.createDataFrame([], FRONTIER_SCHEMA).withColumn(
        "seq_bucket", seq_bucket_col(-1, 1, 8)
    )
    assert assign_global_seq(empty, {}, start=0).count() == 0


@given(st.data())
@settings(max_examples=100, deadline=None)
def test_priority_order_is_parent_seq_order_under_deferral(data):
    """The premise of the seq buckets: in every frontier of a crawl with
    per-host deferral, the priority triple's order is non-decreasing in
    parent_seq — a row enqueued in a later round has a parent fetched
    in a later round — so any monotone bucket map of parent_seq (with
    the previous round's seq range as its bounds) is non-decreasing in
    priority order too. A pure-Python BSP crawl over a random link
    graph: dedup, seen anti-join, rank per host, defer rank > k."""
    from wormpy_spark.operators.frontier import seq_bucket

    n_hosts = data.draw(st.integers(1, 3), label="hosts")
    cap = data.draw(st.integers(1, 4), label="cap")
    urls = [f"h{i % n_hosts}/{i}" for i in range(40)]
    links = {
        u: data.draw(st.lists(st.sampled_from(urls), max_size=6)) for u in urls
    }
    seeds = data.draw(st.lists(st.sampled_from(urls), min_size=1, max_size=5), label="seeds")
    frontier = [(0, -1, i + 1, u) for i, u in enumerate(seeds)]
    seen: set[str] = set()
    seq = 0
    lo, span = -1, 1  # the seeds' parent range
    for r in range(10):
        rows = sorted(frontier)  # priority order
        parents = [row[1] for row in rows]
        assert parents == sorted(parents), f"round {r}"
        buckets = [seq_bucket(p, lo, span, 8) for p in parents]
        assert buckets == sorted(buckets), f"round {r}"
        first: dict[str, tuple] = {}
        for row in rows:
            if row[3] not in seen:
                first.setdefault(row[3], row)
        per_host: dict[str, int] = {}
        due, deferred = [], []
        for row in first.values():
            host = row[3].split("/")[0]
            per_host[host] = per_host.get(host, 0) + 1
            (due if per_host[host] <= cap else deferred).append(row)
        if not due:
            break
        lo, span = seq, len(due)
        frontier = list(deferred)
        for row in due:
            seen.add(row[3])
            for pos, child in enumerate(sorted(set(links[row[3]]))):
                frontier.append((r + 1, seq, pos + 1, child))
            seq += 1


def test_prepared_compressed_web_parity(spark, small_corpus):
    """prepare_fetch_table(compress_bodies=True) stores bodies
    zlib-compressed in the pinned table; the fetch kernel inflates them
    transparently — every page payload must equal the raw-web crawl's
    byte for byte."""
    from wormpy_spark.plans.crawl import prepare_fetch_table

    tables = corpus_to_spark(spark, small_corpus)
    cfg = CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7)
    raw = run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
    prep = prepare_fetch_table(spark, tables["web"])
    assert "body_z" in prep.columns and "body" not in prep.columns
    comp = run_crawl(spark, prep, cfg, sitemaps=tables["sitemaps"])
    raw_pages = [r.asDict(recursive=True) for r in raw.pages.orderBy("seq").collect()]
    comp_pages = [r.asDict(recursive=True) for r in comp.pages.orderBy("seq").collect()]
    assert raw_pages == comp_pages and len(raw_pages) > 10
    prep.unpersist()
