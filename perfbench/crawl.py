"""Crawl workloads: closed loop, one client, oracle-checked.

Set-up (timed as ``setup_s``):

1. A child process (``perfbench/inputs.py``) generates the corpus from
   the seed, writes it as parquet, then computes the reference-semantics
   ``crawl_oracle`` digests.
2. Meanwhile this process starts Spark, loads the written tables, runs
   ``prepare_fetch_table`` and one full warm-up crawl.
3. It waits for the oracle digests.

Measurement: crawls (each followed by the image verify tail where the
workload has one) run back to back until ``--seconds`` have passed, at
least ``MIN_OPS`` of them.
Every crawl is checked against the oracle outside the timed window.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench.box import peak_rss_mb, summarize
from perfbench.inputs import (
    BASE_URL,
    NEARDUP_MAX_HAMMING,
    POLITENESS_SEED,
    digest,
    expected_prefix,
)

# Crawls keep getting faster for several crawls after the warm-up
# crawl, while the JVM compiles the engine's hot paths. Every run times
# at least three, so its median is never pulled toward the slower first
# crawl, as a mean of two would be, however fast the box is.
MIN_OPS = 3
# decode tasks of the verify tail: two per core of a 4-core box, so the
# per-image decode cost, which varies with each image's size and
# format, balances across the cores without a task-scheduling floor
VERIFY_PARTITIONS = 8
NEARDUP_DRIVER_MAX = 4096  # phashes counted on the driver up to this many


@dataclass(frozen=True)
class CrawlWorkload:
    name: str
    corpus: dict
    # the crawl stops after this many rounds: seeds differ in how many
    # one-page tail rounds follow, and each costs a full round floor
    max_rounds: int
    max_per_host_per_round: int | None = None
    # rounds whose frontier has at most this many rows run on the
    # driver (plans.fastround), larger ones on the Spark fetch path
    fast_round_max: int = 4096
    # the image verify tail (decode_verify + near-dup count) after each crawl
    verify_tail: bool = True


WORKLOADS = {
    w.name: w
    for w in (
        CrawlWorkload(
            name="crawl_wide",
            # one fat Spark round does most of the extraction, then a
            # floor-bound tail and the image verify tail.
            # bench.py's shape (2 hosts, host0 skewed x16) at box scale.
            # Only pages 1..branching have children, so with bench.py's
            # branching 300 whether one of ten parents is a special page
            # moved 300 pages between rounds; forty parents keep the
            # round sizes within several per cent across seeds.
            # fast_round_max is lowered so that the fat round (~1.4k
            # pages) runs on the Spark fetch path and the next (~0.5k)
            # on the driver
            corpus=dict(
                n_hosts=2,
                pages_per_host=100,
                n_images_per_host=30,
                skew_host=0,
                skew_factor=16,
                branching=40,
            ),
            # root, 40 pages, the fat round, the tail
            max_rounds=4,
            fast_round_max=900,
        ),
        CrawlWorkload(
            name="crawl_throttled",
            # the per-host cap defers most of a narrow frontier over many
            # rounds, so the per-round floor dominates, not extraction.
            # Every round stays below fast_round_max (driver fast rounds).
            # No verify tail: it would cost as much as the crawl itself.
            corpus=dict(
                n_hosts=2,
                pages_per_host=20,
                n_images_per_host=10,
                skew_host=0,
                skew_factor=16,
                branching=3,
            ),
            # two ramp rounds, then four rounds at the cap
            max_rounds=6,
            max_per_host_per_round=16,
            verify_tail=False,
        ),
    )
}


class InputsChild:
    """The corpus/oracle generator (``python3 -m perfbench.inputs``) as
    a child process; it prints one JSON line per stage."""

    def __init__(self, corpus_params: dict, seed: int, out_dir: str):
        spec = json.dumps({"corpus": corpus_params, "seed": seed, "out_dir": out_dir})
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs", spec],
            stdout=subprocess.PIPE,
            text=True,
        )

    def get(self, kind: str) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            self.proc.wait()
            raise RuntimeError(
                f"input generator exited ({self.proc.returncode}) before {kind!r}"
            )
        got, payload = json.loads(line)
        if got != kind:
            raise RuntimeError(f"input generator sent {got!r}, expected {kind!r}")
        return payload

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        if not self.proc.stdout.closed:
            self.proc.stdout.close()


# ---------------------------------------------------------------- Spark


def persistent_rdds(spark) -> dict[int, object]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): jmap.get(k) for k in jmap.keySet().toArray()}


def unpersist_except(spark, keep: set[int]) -> None:
    """Drop every persisted RDD not in ``keep``: what an earlier
    operation left cached must not serve the next one."""
    for rid, rdd in persistent_rdds(spark).items():
        if rid not in keep:
            rdd.unpersist(True)


def cached_after(spark, keep: set[int]) -> tuple[int, int]:
    """(RDDs, bytes) still cached beyond the set-up's own tables."""
    n = size = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() in keep:
            continue
        n += 1
        size += info.memSize() + info.diskSize()
    return n, size


def dir_stats(path: str) -> dict:
    n_files = n_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
    manifest = os.path.join(path, "_manifest.json")
    return {
        "files": n_files,
        "bytes": n_bytes,
        "manifest_bytes": os.path.getsize(manifest) if os.path.exists(manifest) else 0,
    }


def frontier_rows(ckpt: str) -> int:
    """Rows in every frontier snapshot the crawl wrote."""
    import pyarrow.parquet as pq

    total = 0
    root = os.path.join(ckpt, "frontier")
    if not os.path.isdir(root):
        return 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


@dataclass
class CrawlOp:
    t0: float
    t_crawl: float
    t_verify: float
    pages: int
    rounds: int
    round_walls: list[float]
    fetched: list[int]
    images_verified: int
    verify_failures: int
    neardup_pairs: int
    store: dict
    frontier_rows: int
    cached_rdds: int
    cached_bytes: int
    failures: list[str] = field(default_factory=list)
    discovered_links: int = 0

    @property
    def crawl_s(self) -> float:
        return self.t_crawl - self.t0

    @property
    def verify_s(self) -> float:
        return self.t_verify - self.t_crawl


class CrawlBench:
    def __init__(self, wl: CrawlWorkload, spark, work: str):
        self.wl = wl
        self.spark = spark
        self.work = work
        self.web = None
        self.images = None
        self.truth = None
        self.keep: set[int] = set()
        self.oracle: dict = {}
        self.n_ops = 0

    def load(self) -> None:
        from wormpy_spark.plans.crawl import prepare_fetch_table

        corpus = os.path.join(self.work, "corpus")
        read = self.spark.read.parquet
        self.web = prepare_fetch_table(self.spark, read(f"{corpus}/web.parquet"))
        self.images = read(f"{corpus}/images.parquet")
        self.truth = read(f"{corpus}/images_truth.parquet")
        self.keep = set(persistent_rdds(self.spark))

    def config(self, ckpt: str):
        from wormpy_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            base_url=BASE_URL,
            budget=10**9,
            politeness_seed=POLITENESS_SEED,
            checkpoint_dir=ckpt,
            max_rounds=self.wl.max_rounds,
            max_per_host_per_round=self.wl.max_per_host_per_round,
            fast_round_max=self.wl.fast_round_max,
        )

    def verify_tail(self, pages) -> tuple[int, int, int]:
        """bench_crawl's verify tail, with the near-dup size gate: the
        driver pair count up to NEARDUP_DRIVER_MAX phashes, the
        distributed LSH pairing above it."""
        from pyspark.sql import functions as F

        import wormpy_spark.operators.multimodal as mm
        from wormpy_spark.bench_crawl import neardup_count_driver

        fetched = pages.filter(F.col("image_id").isNotNull()).select("image_id")
        subset = self.images.join(F.broadcast(fetched), on="image_id", how="left_semi")
        ver = mm.decode_verify(subset.repartition(VERIFY_PARTITIONS, "image_id"), self.truth)
        probe = ver.select("image_id", "sha_ok", "caption_ok", "phash").collect()
        bad = sum(1 for r in probe if r["sha_ok"] is False or r["caption_ok"] is False)
        phashes = [r["phash"] for r in probe if r["phash"] is not None]
        if len(phashes) <= NEARDUP_DRIVER_MAX:
            pairs = neardup_count_driver(phashes, NEARDUP_MAX_HAMMING)
        else:
            pairs = mm.phash_neardup_pairs(
                ver.filter(F.col("phash").isNotNull()), NEARDUP_MAX_HAMMING
            ).count()
        return len(probe), bad, pairs

    def check(self, res, op: CrawlOp) -> None:
        """Order, seen set, throttle cap and verify tail against the
        oracle; every mismatch is recorded on the operation."""
        from pyspark.sql import functions as F

        rows = res.order.select("seq", "url_norm").collect()
        if [r["seq"] for r in rows] != list(range(op.pages)):
            op.failures.append(f"seq is not 0..{op.pages - 1}")
        if len(rows) > len(self.oracle["order"]):
            op.failures.append(f"{len(rows)} pages, oracle {len(self.oracle['order'])}")
        if op.rounds < self.wl.max_rounds and len(rows) != len(self.oracle["order"]):
            op.failures.append("the crawl ended before the oracle's")
        o = expected_prefix(self.oracle, len(rows))
        if digest(r["url_norm"] for r in rows) != o["order_digest"]:
            op.failures.append("crawl order differs from the oracle's")
        seen = sorted(r["url_norm"] for r in res.seen.select("url_norm").collect())
        if digest(seen) != o["seen_digest"]:
            op.failures.append("seen set differs from oracle")
        k = self.wl.max_per_host_per_round
        if k is not None:
            over = (
                res.pages.groupBy("round", "host")
                .count()
                .filter(F.col("count") > k)
                .count()
            )
            if over:
                op.failures.append(f"{over} (round, host) groups fetched more than {k}")
        if not self.wl.verify_tail:
            return
        if op.verify_failures:
            op.failures.append(f"{op.verify_failures} images failed verification")
        if op.images_verified != o["images"]:
            op.failures.append(f"verified {op.images_verified} images, oracle {o['images']}")
        if op.neardup_pairs != o["neardup_pairs"]:
            op.failures.append(f"{op.neardup_pairs} near-dup pairs, oracle {o['neardup_pairs']}")

    def warm_up(self) -> float:
        """One full, unchecked crawl with the verify tail: it compiles
        the code of every round path and starts the Python workers, so
        the timed crawls do not pay for that. Returns its wall."""
        t0 = time.time()
        self.run_op(check=False)
        return time.time() - t0

    def run_op(self, count_links: bool = False, check: bool = True) -> CrawlOp:
        import wormpy_spark.plans.crawl as crawl_mod

        sc = self.spark.sparkContext
        unpersist_except(self.spark, self.keep)
        ckpt = os.path.join(self.work, f"ckpt-{self.n_ops}")
        self.n_ops += 1
        sc.setJobDescription(None)
        t0 = time.time()
        res = crawl_mod.run_crawl(self.spark, self.web, self.config(ckpt))
        t_crawl = time.time()
        n_ver = n_bad = pairs = 0
        if self.wl.verify_tail:
            sc.setJobDescription("perfbench: verify tail")
            n_ver, n_bad, pairs = self.verify_tail(res.pages)
        t_verify = time.time()
        sc.setJobDescription("perfbench: checks")
        n_cached, cached_bytes = cached_after(self.spark, self.keep)
        op = CrawlOp(
            t0=t0,
            t_crawl=t_crawl,
            t_verify=t_verify,
            pages=res.processed,
            rounds=res.rounds,
            round_walls=[m["wall_s"] for m in res.metrics_rows],
            fetched=[m["fetched"] for m in res.metrics_rows],
            images_verified=n_ver,
            verify_failures=n_bad,
            neardup_pairs=pairs,
            store=dir_stats(ckpt),
            frontier_rows=frontier_rows(ckpt),
            cached_rdds=n_cached,
            cached_bytes=cached_bytes,
        )
        if check:
            self.check(res, op)
        if count_links:
            from pyspark.sql import functions as F

            op.discovered_links = res.pages.select(
                F.sum(F.size("discovered_urls"))
            ).first()[0]
        shutil.rmtree(ckpt, ignore_errors=True)
        return op

    def loop(self, seconds: float, spans=None, min_ops: int = MIN_OPS) -> list[CrawlOp]:
        """Closed loop: the next crawl starts when the last one is
        checked. With ``spans``, each crawl's spans carry its index."""
        ops: list[CrawlOp] = []
        t_start = time.time()
        while len(ops) < min_ops or time.time() - t_start < seconds:
            if spans is not None:
                spans.op = len(ops)
            ops.append(self.run_op(count_links=spans is not None))
        return ops


def end_to_end(ops: list[CrawlOp], setup_s: float, jvm_pid: int | None) -> tuple[dict, dict]:
    """(metrics, detail summaries) of the untraced measurement."""
    crawl = [o.crawl_s for o in ops]
    verify = [o.verify_s for o in ops]
    ups = [o.pages / (o.crawl_s + o.verify_s) for o in ops]
    rounds = [w for o in ops for w in o.round_walls]
    per_page = [o.store["bytes"] / o.pages for o in ops]
    metrics = {
        "setup_s": (setup_s, "s"),
        "crawl_wall_s": (statistics.median(crawl), "s"),
        "urls_per_s": (statistics.median(ups), "1/s"),
        "round_wall_p50_s": (statistics.median(rounds), "s"),
        "round_wall_p90_s": (statistics.quantiles(rounds, n=10, method="inclusive")[8], "s"),
        "store_bytes_per_page": (statistics.median(per_page), "B"),
        "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
    }
    detail = {
        "crawl_wall_s": summarize(crawl),
        "verify_wall_s": summarize(verify),
        "urls_per_s": summarize(ups),
        "round_wall_s": summarize(rounds),
        "rounds_per_crawl": [o.rounds for o in ops],
        "pages_per_crawl": [o.pages for o in ops],
        "ops": [
            {
                "crawl_s": o.crawl_s,
                "verify_s": o.verify_s,
                "round_walls_s": o.round_walls,
                "fetched": o.fetched,
            }
            for o in ops
        ],
    }
    return metrics, detail


def per_layer(
    traced: list[CrawlOp], untraced: list[CrawlOp], spans, log, kernel: dict
) -> dict:
    """Per-layer metrics of the traced phase, keyed ``<module>.<metric>``
    (median over the traced crawls), plus the tracing overhead against
    the untraced phase of the same run. Crawls whose trace does not add
    up get a failure recorded."""
    from perfbench.trace import account, job_layer, jobs_in, layer_totals, stage_task_counts

    def layers_of(jobs) -> set[str]:
        return {job_layer(j.desc) for j in jobs}

    rows = []
    for i, op in enumerate(traced):
        jobs = jobs_in(log, op.t0, op.t_crawl)
        acc = account(jobs, op.t0, op.t_crawl)
        if not acc["adds_up"]:
            op.failures.append(
                f"trace does not add up: jobs {acc['job_s']:.3f} s + gap "
                f"{acc['driver_gap_s']:.3f} s vs wall {acc['wall_s']:.3f} s, "
                f"jobs outside the window {acc['jobs_outside']}"
            )
        if "other" in layers_of(jobs):
            op.failures.append("a job inside the crawl carries no crawl label")
        layers = layer_totals(log, jobs, op.t0, op.t_crawl)
        n_stages, n_tasks = stage_task_counts(log, jobs)
        st = spans.totals(i)

        def job(layer: str, key: str) -> float:
            return layers.get(layer, {}).get(key, 0)

        def span(name: str, key: str) -> float:
            return st.get(name, {}).get(key, 0)

        rows.append(
            {
                "plans.crawl.rounds": (op.rounds, "count"),
                "plans.crawl.spark_jobs": (len(jobs), "count"),
                "plans.crawl.driver_gap_s": (acc["driver_gap_s"], "s"),
                "plans.crawl.round0_s": (op.round_walls[0], "s"),
                "plans.fastround.rounds": (span("plans.fastround.run_fast_round", "calls"), "count"),
                "plans.fastround.self_s": (span("plans.fastround.run_fast_round", "self_s"), "s"),
                "operators.fetch.job_s": (job("operators.fetch", "job_s"), "s"),
                "operators.fetch.task_s": (job("operators.fetch", "task_s"), "s"),
                "operators.fetch.gc_s": (job("operators.fetch", "gc_s"), "s"),
                "operators.fetch.shuffle_write_bytes": (
                    job("operators.fetch", "shuffle_write_bytes"), "B"),
                "operators.frontier.seq_job_s": (job("operators.frontier", "job_s"), "s"),
                "operators.frontier.assign_global_seq_calls": (
                    span("operators.frontier.assign_global_seq", "calls"), "count"),
                "operators.frontier.admit_ratio": (op.pages / max(op.discovered_links, 1), "ratio"),
                "operators.seen.expand_job_s": (job("operators.seen", "job_s"), "s"),
                "operators.seen.shuffle_bytes": (job("operators.seen", "shuffle_write_bytes"), "B"),
                "operators.seen.bloom_job_s": (job("operators.seen.bloom", "job_s"), "s"),
                "operators.politeness.deferred_rows": (
                    op.frontier_rows - sum(op.fetched[1:]), "count"),
                "sources.catalog.commit_s": (span("sources.catalog.commit", "total_s"), "s"),
                "sources.catalog.bytes_written": (op.store["bytes"], "B"),
                "sources.catalog.files_written": (op.store["files"], "count"),
                "sources.catalog.manifest_bytes": (op.store["manifest_bytes"], "B"),
                "operators.multimodal.verify_s": (op.verify_s, "s"),
                "operators.multimodal.images_verified": (op.images_verified, "count"),
                "spark.stages": (n_stages, "count"),
                "spark.tasks": (n_tasks, "count"),
                "session.cached_rdds_after": (op.cached_rdds, "count"),
                "session.cached_bytes_after": (op.cached_bytes, "B"),
            }
        )
    metrics = {
        k: (statistics.median(r[k][0] for r in rows), unit)
        for k, (_v, unit) in rows[0].items()
    }
    parts = kernel["parts_ms_per_page"]
    metrics.update(
        {
            "operators.fetch.inflate_ms_per_page": (parts["inflate"], "ms"),
            "operators.fetch.to_pylist_ms_per_page": (parts["to_pylist"], "ms"),
            "functions.extract.extract_all_ms_per_page": (parts["extract_all"], "ms"),
            "operators.fetch.process_row_rest_ms_per_page": (parts["process_row_rest"], "ms"),
            "functions.urlnorm.normalize_ms_per_page": (parts["normalize"], "ms"),
            "operators.fetch.arrow_build_ms_per_page": (parts["arrow_build"], "ms"),
            "operators.fetch.kernel_ms_per_page": (kernel["kernel_ms_per_page"], "ms"),
            "operators.fetch.memo_hit_ratio": (kernel["memo_hit_ratio"], "ratio"),
        }
    )
    traced_wall = statistics.median(o.crawl_s for o in traced)
    untraced_wall = statistics.median(o.crawl_s for o in untraced)
    metrics["trace.crawl_wall_s"] = (traced_wall, "s")
    metrics["trace.overhead_frac"] = (traced_wall / untraced_wall - 1.0, "ratio")
    return metrics
