"""Tests of the benchmark's own accounting: the trace adds up, the
kernel microbench parts add up, the summaries and oracles are sound.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.box import percentile, summarize  # noqa: E402
from perfbench.inputs import popcount_pairs  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Job,
    Spans,
    account,
    exclusive_walls,
    job_layer,
    jobs_in,
    layer_totals,
    read_event_log,
    stage_task_counts,
)


def _job(jid, start, end, desc=None, stages=()):
    return Job(jid, start, end, desc, list(stages))


def test_exclusive_walls_count_overlap_once():
    jobs = [_job(0, 1.0, 3.0), _job(1, 2.0, 4.0), _job(2, 2.5, 2.8)]
    walls = exclusive_walls(jobs, 0.0, 10.0)
    assert walls == [2.0, 1.0, 0.0]
    assert sum(walls) == 3.0  # the union of [1, 4]


def test_account_adds_up_with_overlapping_jobs():
    jobs = [_job(0, 10.2, 11.0), _job(1, 10.9, 11.5), _job(2, 12.0, 12.5)]
    acc = account(jobs, 10.0, 13.0)
    assert acc["adds_up"]
    assert abs(acc["job_s"] - 1.8) < 1e-9
    assert abs(acc["driver_gap_s"] - 1.2) < 1e-9
    assert abs(acc["overlap_s"] - 0.1) < 1e-9
    assert abs(acc["job_s"] + acc["driver_gap_s"] - acc["wall_s"]) < 1e-9


def test_account_flags_a_job_outside_the_window():
    acc = account([_job(0, 10.5, 14.0)], 10.0, 12.0)
    assert acc["jobs_outside"] == [0]
    assert not acc["adds_up"]


def test_job_layer_follows_the_engine_labels():
    assert job_layer(None) == "plans.crawl"
    assert job_layer("crawl r3") == "plans.crawl"
    assert job_layer("crawl r0: fast round") == "plans.fastround"
    assert job_layer("crawl r2: global seq") == "operators.frontier"
    assert job_layer("crawl r2: fetch+extract+pages-write") == "operators.fetch"
    assert job_layer("crawl r2: bloom sidecar") == "operators.seen.bloom"
    assert job_layer("crawl r2: expand+admit+frontier-write") == "operators.seen"
    assert job_layer("perfbench: verify tail") == "other"


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_event_log_totals_per_layer(tmp_path):
    def task(stage, run_ms, gc_ms, sw):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "crawl r1: fetch+extract+pages-write"}},
        task(0, 300, 10, 100),
        task(0, 200, 0, 50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1700,
         "Stage IDs": [2], "Properties": {}},
        task(2, 100, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
        # a job outside the window
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
    ]
    path = tmp_path / "app"
    _write_log(path, events)
    log = read_event_log(str(path))
    jobs = jobs_in(log, 0.9, 2.0)
    assert [j.job_id for j in jobs] == [0, 1]
    totals = layer_totals(log, jobs, 0.9, 2.0)
    fetch = totals["operators.fetch"]
    assert fetch["jobs"] == 1
    assert abs(fetch["job_s"] - 0.6) < 1e-9
    assert abs(fetch["task_s"] - 0.5) < 1e-9
    assert abs(fetch["gc_s"] - 0.01) < 1e-9
    assert fetch["shuffle_write_bytes"] == 150
    assert totals["plans.crawl"]["jobs"] == 1
    # stage 1 was skipped (no tasks): not counted
    assert stage_task_counts(log, jobs) == (2, 3)
    acc = account(jobs, 0.9, 2.0)
    assert acc["adds_up"]
    layer_job_s = sum(t["job_s"] for t in totals.values())
    assert abs(layer_job_s - acc["job_s"]) < 1e-9


def test_spans_self_time_excludes_children():
    import time

    spans = Spans()

    def inner():
        time.sleep(0.02)

    def outer():
        w_inner()
        time.sleep(0.01)

    w_inner = spans.wrap("inner", inner)
    w_outer = spans.wrap("outer", outer)
    spans.op = 0
    w_outer()
    t = spans.totals(0)
    assert t["outer"]["calls"] == 1 and t["inner"]["calls"] == 1
    assert t["outer"]["total_s"] >= t["inner"]["total_s"]
    assert abs(t["outer"]["self_s"] - (t["outer"]["total_s"] - t["inner"]["total_s"])) < 1e-9


def test_spans_install_restores_the_engine():
    import wormpy_spark.plans.crawl as crawl_mod
    from wormpy_spark.sources.catalog import SnapshotCatalog

    before = (crawl_mod.run_crawl, crawl_mod.assign_global_seq, SnapshotCatalog.commit)
    spans = Spans()
    spans.install()
    assert crawl_mod.run_crawl is not before[0]
    assert crawl_mod.run_crawl.__wrapped__ is before[0]
    spans.uninstall()
    assert (crawl_mod.run_crawl, crawl_mod.assign_global_seq, SnapshotCatalog.commit) == before


def test_summarize_reports_the_tail_with_ten_samples_beyond():
    vals = [float(i) for i in range(1, 101)]
    s = summarize(vals)
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["p90"] == 90.0  # 10 samples above it; p95 would leave 5
    assert "p75" in summarize(vals[:40]) and len(summarize(vals[:10])) == 2
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_popcount_reference_matches_the_engine_driver_count():
    from wormpy_spark.bench_crawl import neardup_count_driver

    rng = random.Random(3)
    base = [rng.getrandbits(64) for _ in range(40)]
    near = [b ^ (1 << rng.randrange(64)) for b in base[:10]]
    signed = [h - (1 << 64) if h >= 1 << 63 else h for h in base + near]
    assert popcount_pairs(signed, 6) == neardup_count_driver(signed, 6) >= 10


def test_kernel_parts_add_up_to_the_kernel(tmp_path):
    from perfbench.inputs import BASE_URL, write_corpus
    from perfbench.kernel import load_batches, microbench
    from wormpy_spark.fixtures.webgen import generate_corpus
    from wormpy_spark.functions.urlnorm import normalize_url

    corpus = generate_corpus(seed=5, n_hosts=1, pages_per_host=400, n_images_per_host=2)
    write_corpus(corpus, str(tmp_path))
    urls = list(corpus["web"]["url_norm"])
    batches = load_batches(str(tmp_path / "web.parquet"), urls)
    kb = microbench(batches, normalize_url(BASE_URL))
    assert kb["pages"] == len(urls)
    assert kb["adds_up"], kb
    assert 0.0 <= kb["memo_hit_ratio"] <= 1.0
