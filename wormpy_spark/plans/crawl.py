"""The BSP crawl driver loop (T4; SURVEY.md §3.2 engine lifecycle).

Every frontier is ADMITTED once, by the job that writes it, and a
round only numbers and fetches what admission wrote. Admission
(``FrontierAdmission``) runs over the candidates of a frontier — the
expansions of the round just fetched plus the rows it deferred, the
seeds, or a resumed checkpoint's frontier:

    candidates → within-round first-occurrence dedup (J2 equivalence)
               → derive host / url_hash / host_shard
               → ANTI JOIN seen [bloom pre-filter] (J1)
               → HEAD-model probe dropping suspicious image/* (P5/P6)
               → [robots filter — north_rule option]
               → [per-host rank — the max_per_host_per_round throttle]
               → seq_bucket stamp + per-bucket counts (Observation)
               → frontier snapshot write

A Spark round then does three things, with no job of its own before
the fetch:

    due = frontier [host_rank ≤ k]
        → global seq on (round, parent_seq, sibling_rank) (O1-O4) from
          driver-known bucket offsets, inside the fetch job
        → budget cut seq < B (P9/O7)
        → GET-model join vs web + one mapInArrow extract pass
        → seen += pages (J3), bloom sidecar refresh
        → admission of the next frontier (above)
        → snapshot commit {frontier, pages} + state (T6 — resumable)

Tiny rounds run on the driver instead (plans/fastround.py); a fast
round whose next frontier outgrows ``fast_round_max`` stamps it the
way admission would, and the Spark rounds take over. Politeness clocks
(T1/T2) are derived once from the pages snapshots at the end.

Ordering-parity proof obligations (vs the sequential reference; tested
against the golden oracle in tests/test_golden.py):
- round-r frontier rows all precede round-r expansions in FIFO order
  (tail appends) ⇒ BSP rounds preserve pop order;
- within-round duplicates: first occurrence by priority wins — later
  dupes are pop-skipped by the sequential visited check (J1) and
  contribute nothing;
- selenium-requeue (T3) retries in place and emits no row on failure ⇒
  the (seq, url) sequence is identical to the no-failure sequence; the
  engine therefore retries in-round and only accounts the extra
  politeness draws;
- expansions admitted against end-of-round seen ≡ admission-time seen
  (a dupe admitted mid-round is pop-skipped later either way); probe,
  robots and the throttle are pure functions of the URL and of the
  frontier, so applying them at admission instead of at pop time
  changes no output;
- the seq buckets are a monotone map of parent_seq, and parent_seq
  order is priority order within any frontier, deferred rows included
  (operators/frontier.py) ⇒ bucket offsets + a per-bucket row_number
  equal a global sort.

Scale posture: frontier/seen/pages are parquet snapshots (Iceberg when
the jar is present — sources.catalog shim), re-read each round, so
lineage never grows; the global sequence is a per-bucket rank with
driver-known offsets (no one-task sort, no sampling job); the seen
anti-join gets a bloom sidecar pre-filter; hosts shard by
pmod(xxhash64(host), n_host_shards) and AQE splits skewed joins at
runtime.
"""

from __future__ import annotations

import tempfile
import time
from dataclasses import dataclass, field

import pandas as pd  # noqa: F401  (resolves prepare_fetch_table's UDF type hints)
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import (
    host_udf,
    normalize_url,
    suspicious_pred,
)
from ..operators.fetch import (
    PAGES_SCHEMA,
    PAGES_SCHEMA_EXPAND,
    make_fetch_extract,
)
from ..operators.frontier import (
    FRONTIER_SCHEMA,
    FRONTIER_SCHEMA_BUCKETED,
    FRONTIER_SCHEMA_RANKED,
    PRIORITY_COLS,
    assign_global_seq,
    dedup_within_round,
    expand_frontier,
    seq_bucket_col,
)
from ..operators.politeness import SCHEDULE_SCHEMA, make_schedule_fn
from ..operators.robots import RobotsCache, robots_allows_udf
from ..operators.seen import (
    add_bloom_delta,
    anti_join_seen,
    build_bloom_shards_sized,
)
from ..sources.catalog import SnapshotCatalog
from ..sources.sitemap import expand_sitemaps
from .fastround import (
    run_fast_round,
    stamp_frontier,
    write_frontier_parquet,
    write_pages_parquet,
)

SEEN_SCHEMA = "url_hash long, url_norm string, host_shard int"
HOST_STATE_SCHEMA = "host string, next_ix long, clock_s double, attempts long"
# version of the checkpoint layout and state a resume can read; a
# checkpoint without it, or with another, is refused
SNAPSHOT_FORMAT = 1


@dataclass
class CrawlConfig:
    base_url: str
    budget: int = 100           # MAX_URLS_TO_SCRAPE (config.py:18)
    discovery: bool = True
    politeness_seed: int = 42
    respect_robots: bool = False  # north_rule addition; OFF for golden parity
    checkpoint_dir: str | None = None
    resume: bool = False
    max_rounds: int = 256
    use_bloom: bool = True
    n_host_shards: int = 64
    # below this, the seen keys broadcast whole (anti_join_seen); above
    # it the bloom sidecar takes over as the no-shuffle pre-filter —
    # its bitmap broadcast is ~30x smaller than the raw keys. The
    # broadcast anti-join is ONE plan subtree; the bloom path's
    # definite-new ∪ checked-suspects union evaluates its upstream
    # (explode + dedup + UDF flag) once per branch unless checkpointed
    # (see anti_join_seen), so prefer the broadcast ladder rung while
    # the keys fit: 2M keys ≈ 140 MB of (hash, url) broadcast — fine
    # under the 24g bench driver; size DOWN on small drivers. At 10^9+
    # seen the sidecar takes over regardless.
    bloom_min_seen: int = 2_000_000
    # max suspicious-image rows collectable for the probe fast path
    # (above this, admission probes with a semi-join instead); 0
    # forces the join path (used by parity tests)
    probe_broadcast_max: int = 2_000_000
    # production politeness throttle: at most k fetches per host per
    # round; excess rows are DEFERRED to the next round with their
    # priority preserved (not dropped). None = reference semantics
    # (golden runs) — the reference rate-limits wall-clock, never
    # reorders, so the throttle is opt-in (SURVEY.md §2.7-T1).
    max_per_host_per_round: int | None = None
    # frontiers at or below this row count run the whole round driver-
    # side (plans/fastround.py) — one JVM-only Spark job instead of ~4,
    # killing the fixed per-round floor for the tiny head/tail rounds
    # every crawl has. Its extraction is serial on the driver, so it
    # loses to a Spark round past ~2.8k due pages: measured at local[4]
    # on a 4-core box, round walls (fast vs Spark) were 0.80/2.76 s at
    # 528 pages, 1.78/2.40 s at 1.9k, 2.37/2.31 s at 2.8k and 3.77/3.06 s
    # at 3.8k. 0 disables (parity tests compare paths).
    fast_round_max: int = 2800


@dataclass
class CrawlResult:
    pages: DataFrame
    order: DataFrame        # (seq, url_norm, round)
    seen: DataFrame         # (url_hash, url_norm)
    metrics: DataFrame      # one row per round
    host_state: DataFrame   # politeness clocks
    sitemap_urls: list[str] = field(default_factory=list)
    rounds: int = 0
    checkpoint_dir: str | None = None
    processed: int = 0
    metrics_rows: list[dict] = field(default_factory=list)


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


def prepare_fetch_table(
    spark: SparkSession, web: DataFrame, compress_bodies: bool = True
) -> DataFrame:
    """One-time fetch-table preparation: hash-partition the web table
    on the join key and pin it, so every crawl round joins against
    co-located partitions with zero web-side exchange. On a cluster
    this is writing the web snapshot as a bucketed/sorted Iceberg
    table — data loading, done once, amortized across every crawl that
    follows (and excluded from steady-state throughput the same way
    the table write itself is). The returned handle is marked so
    run_crawl skips its own per-crawl preparation.

    ``compress_bodies``: store page bodies zlib-compressed in the
    pinned table (like the encoded column chunks of a real columnar
    table). Body bytes are the dominant traffic of every fetch round —
    cache scan, Arrow transfer to the Python workers — and at high
    core counts that traffic is bound by the SHARED memory bus, the
    one resource local-mode scaling cannot multiply (a cluster adds a
    bus per executor). Compressing trades ~5x fewer bytes on the bus
    for a cheap per-batch zlib inflate in the (per-core, scalable)
    Python workers; the fetch kernel decompresses transparently
    (operators/fetch.py) and every downstream byte is identical —
    parity-tested against the uncompressed path."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if compress_bodies:
        import zlib as _zlib

        import pandas as pd
        from pyspark.sql.functions import pandas_udf as _pandas_udf

        @_pandas_udf("binary")
        def _deflate(b: pd.Series) -> pd.Series:
            return pd.Series(
                [None if v is None else _zlib.compress(bytes(v), 1) for v in b],
                dtype=object,
            )

        for col in ("body", "dynamic_body"):
            if col in web.columns:
                web = web.withColumn(f"{col}_z", _deflate(F.col(col))).drop(col)
    # sortWithinPartitions: hash partitioning (the join contract) is
    # preserved, and the columnar cache's per-batch min/max statistics
    # become range-tight — a literal IN filter over the cache (the
    # fastround key lookup) then SKIPS whole batches without decoding
    # their body columns, instead of decoding the entire cached table
    # to select a few hundred rows.
    prepared = (
        web.repartition(n_part, "url_norm")
        .sortWithinPartitions("url_norm")
        .persist()
    )
    prepared.count()  # materialize the layout now
    prepared._wormpy_prepared = True
    # The HEAD-probe skip set (suspicious URLs whose content type is
    # image/*) is a pure function of the web snapshot — compute it
    # once here, alongside the layout, and attach it to the handle so
    # every crawl against this snapshot reuses it instead of paying a
    # cold scan + driver collect per crawl (~3-5 s on a 500k-row
    # snapshot). On a cluster this is a sidecar of the bucketed-table
    # write. run_crawl falls back to computing it per-crawl for
    # unprepared inputs, capped by config.probe_broadcast_max.
    skip_rows = (
        prepared.filter(suspicious_pred(F.col("url_norm")))
        .filter(F.col("content_type").startswith("image/"))
        .select("url_norm")
        .limit(2_000_001)
        .collect()
    )
    if len(skip_rows) <= 2_000_000:
        # broadcast once here too: re-broadcasting ~100k strings per
        # crawl costs ~0.5 s of driver pickling that every crawl
        # against this snapshot would repay for no reason. The size is
        # recorded so run_crawl can honor a smaller per-crawl
        # probe_broadcast_max (round-5 ADVICE: a crawl configured with
        # a tighter cap must fall back to the semi-join scale path, not
        # silently get a bigger broadcast than it asked for).
        prepared._wormpy_probe_skip = spark.sparkContext.broadcast(
            frozenset(r["url_norm"] for r in skip_rows)
        )
        prepared._wormpy_probe_skip_size = len(skip_rows)
    del skip_rows
    return prepared


@dataclass
class FrontierAdmission:
    """Writes a frontier a Spark round can consume as it is:
    deduplicated, not seen, probe- and robots-filtered, ranked per host
    under a cap, and stamped with ``seq_bucket``, with its per-bucket
    due counts collected by an Observation on the write job. Its
    candidates are in scope already (expansions are scope-filtered at
    discovery, seeds when they are made). Built once per crawl; its
    column expressions are loop-invariant."""

    catalog: SnapshotCatalog
    config: CrawlConfig
    probe: DataFrame  # (url_norm, _probe_ct) projection of the web table
    robots_filter: object  # pandas UDF url_norm → allowed, or None
    n_part: int

    def __post_init__(self):
        # built once: rebuilding the per-bucket metrics and the window
        # costs a few hundred py4j round-trips per round otherwise
        k = self.config.max_per_host_per_round
        in_bucket = [F.col("seq_bucket") == i for i in range(self.n_part)]
        if k is None:
            self.metrics = [
                F.sum(b.cast("long")).alias(f"b{i}") for i, b in enumerate(in_bucket)
            ]
            self.schema = FRONTIER_SCHEMA_BUCKETED
        else:
            # only rows within the cap are due; the rest are counted so
            # the loop knows a round deferred rows
            due = F.col("host_rank") <= k
            self.metrics = [
                F.sum((b & due).cast("long")).alias(f"b{i}")
                for i, b in enumerate(in_bucket)
            ] + [F.count(F.lit(1)).alias("rows")]
            self.schema = FRONTIER_SCHEMA_RANKED
        self.host_window = Window.partitionBy("host").orderBy(
            *[F.col(c) for c in PRIORITY_COLS]
        )

    def _probe_join(self, f: DataFrame) -> DataFrame:
        """P5/P6 — HEAD-model probe for candidates the fetch kernel did
        not already filter: only suspicious URLs consult the content
        type; image/* are skipped (scraper.py:81-84). The probe table
        is semi-pruned by the (tiny) suspicious key set first, so the
        planner never broadcasts the full probe projection."""
        susp = f.filter(suspicious_pred(F.col("url_norm")))
        rest = f.filter(~suspicious_pred(F.col("url_norm")))
        probe_small = self.probe.join(
            F.broadcast(susp.select("url_norm")), on="url_norm", how="left_semi"
        )
        susp_kept = (
            susp.join(F.broadcast(probe_small), on="url_norm", how="left")
            .filter(
                F.col("_probe_ct").isNull()
                | ~F.col("_probe_ct").startswith("image/")
            )
            .drop("_probe_ct")
        )
        return rest.unionByName(susp_kept)

    def __call__(
        self,
        cand: DataFrame,
        round_id: int,
        table: str,
        seen: DataFrame,
        seen_count: int,
        bloom_bc=None,
        probe_filtered: bool = False,
        bucket_lo: int = -1,
        bucket_span: int = 1,
    ) -> tuple[DataFrame, dict[int, int], int]:
        """Admit ``cand`` (FRONTIER_SCHEMA rows without ``url``) and
        write it as ``table`` at ``round_id``. ``probe_filtered``: the
        candidates already dropped the probe-skip set — the fetch
        kernel's ``discovered_norm`` expansions (plus rows admitted
        before), or seeds filtered on the driver.
        ``[bucket_lo, bucket_lo + bucket_span)`` is the seq range of the
        round whose pages are the candidates' parents.

        Returns (frontier read back, due rows per seq bucket, rows
        deferred by the per-host cap)."""
        config = self.config
        k = config.max_per_host_per_round
        # candidates carry no ``url`` (it is url_norm verbatim for every
        # expansion row), so each row crosses the dedup exchange with
        # one string, not two (guide §2.3: shuffle fewer bytes); it is
        # re-aliased after the anti-join
        cand = dedup_within_round(cand)
        # derive (host, url_hash, host_shard) ONCE — they ride the
        # frontier file so no later round recomputes them
        cand = (
            cand.withColumn("host", host_udf(F.col("url_norm")))
            .withColumn("url_hash", F.xxhash64(F.col("url_norm")))
            .withColumn(
                "host_shard",
                F.pmod(
                    F.xxhash64(F.col("host")),
                    F.lit(config.n_host_shards),
                ).cast("int"),
            )
        )
        admitted = anti_join_seen(
            cand, seen, bloom_bc,
            seen_count=seen_count, broadcast_below=config.bloom_min_seen,
        )
        f = admitted.select(
            F.col("url_norm").alias("url"),
            "round_enqueued", "parent_seq", "sibling_rank",
            "url_norm", "host", "url_hash", "host_shard"
        )
        if not probe_filtered:
            f = self._probe_join(f)
        if self.robots_filter is not None:
            f = f.filter(self.robots_filter(F.col("url_norm")))
        if k is not None:
            f = f.withColumn("host_rank", F.row_number().over(self.host_window))
        f = f.withColumn(
            "seq_bucket", seq_bucket_col(bucket_lo, bucket_span, self.n_part)
        )
        obs = Observation(f"{table}_{round_id}")
        f = f.observe(obs, *self.metrics)
        f.sparkSession.sparkContext.setJobDescription(
            f"crawl r{round_id}: expand+admit+frontier-write"
        )
        path = self.catalog.write_table(table, round_id, f)
        row = obs.get  # free: rode the write job
        counts = {i: int(row[f"b{i}"] or 0) for i in range(self.n_part)}
        deferred = 0 if k is None else int(row["rows"]) - sum(counts.values())
        return f.sparkSession.read.schema(self.schema).parquet(path), counts, deferred


def _check_resumable(state: dict, base: str, config: CrawlConfig) -> None:
    """Refuse a checkpoint this crawl cannot continue exactly."""
    if state.get("format") != SNAPSHOT_FORMAT:
        raise ValueError(
            f"checkpoint format {state.get('format')!r} is not "
            f"{SNAPSHOT_FORMAT}; it cannot be resumed"
        )
    if state["base"] != base:
        raise ValueError(f"resume with base {base!r}, checkpoint has {state['base']!r}")
    # a different shard count would mis-route bloom lookups for keys
    # seen before the resume; host ranks were stamped at admission under
    # the checkpoint's cap, so a changed cap cannot be honoured either
    for key in ("n_host_shards", "max_per_host_per_round"):
        if state[key] != getattr(config, key):
            raise ValueError(
                f"resume with {key}={getattr(config, key)} but the "
                f"checkpoint was written with {state[key]}; use the same value"
            )


def run_crawl(
    spark: SparkSession,
    web: DataFrame,
    config: CrawlConfig,
    sitemaps: DataFrame | None = None,
    robots: DataFrame | None = None,
) -> CrawlResult:
    base = normalize_url(config.base_url)  # main.py:111
    budget = config.budget if config.discovery else 1
    cap = config.max_per_host_per_round
    catalog = SnapshotCatalog(
        config.checkpoint_dir or tempfile.mkdtemp(prefix="wormpy_spark_ckpt_")
    )

    robots_filter = None
    robots_cache_obj = None
    if config.respect_robots and robots is not None:
        cache = RobotsCache.from_fixture(robots.toPandas())
        robots_cache_obj = cache
        robots_filter = robots_allows_udf(spark.sparkContext.broadcast(cache))

    # narrow projection used by the HEAD-model probe (column pruning:
    # the probe scan reads only url_norm + content_type)
    probe = web.select("url_norm", F.col("content_type").alias("_probe_ct"))

    # HEAD-probe skip set: suspicious URLs (media extensions / query
    # strings) are the only ones that consult a content type, and only
    # "image/*" skips (P5/P6). Collect the suspicious slice's content
    # types ONCE and broadcast the skip SET: the fetch kernel then drops
    # those URLs from each page's expansions, and fast rounds look them
    # up on the driver. Gated: above the cap admission probes with a
    # semi-join (at 10^10 scale the probe is a bucketed lookup table).
    probe_skip_bc = None
    prepared_skip = getattr(web, "_wormpy_probe_skip", None)
    prepared_skip_size = getattr(web, "_wormpy_probe_skip_size", None)
    if (
        prepared_skip is not None
        and config.probe_broadcast_max > 0
        and (
            prepared_skip_size is None
            or prepared_skip_size <= config.probe_broadcast_max
        )
    ):
        # snapshot-level skip set, computed AND broadcast once by
        # prepare_fetch_table — used only when it fits this crawl's cap
        probe_skip_bc = prepared_skip
    elif config.probe_broadcast_max > 0:
        susp_rows = (
            probe.filter(suspicious_pred(F.col("url_norm")))
            .filter(F.col("_probe_ct").startswith("image/"))
            .select("url_norm")
            .limit(config.probe_broadcast_max + 1)
            .collect()
        )
        if len(susp_rows) <= config.probe_broadcast_max:
            probe_skip_bc = spark.sparkContext.broadcast(
                frozenset(r["url_norm"] for r in susp_rows)
            )
        del susp_rows

    # fetch side prepared ONCE: hash-partitioned on the join key and
    # persisted, so every round's fetch join exchanges only the (tiny)
    # due side — page BODIES cross a shuffle exactly once per crawl,
    # not once per round (the dominant memory-bandwidth cost measured
    # in round-1 event logs). On a cluster this is the bucketed-table
    # layout of the web snapshot; callers may prepare it once up front
    # with prepare_fetch_table() and reuse it across crawls.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prepared = getattr(web, "_wormpy_prepared", False)
    if prepared:
        web_fetch = web.drop("url", "host", "links")
    else:
        web_fetch = (
            web.drop("url", "host", "links")
            .repartition(n_part, "url_norm")
            .persist()
        )

    sitemap_urls: list[str] = []
    metrics_rows: list[dict] = []

    def read_pages_snaps(paths: list[str]) -> DataFrame:
        """Snapshot read with the known PAGES_SCHEMA — skips the
        per-call footer/schema-inference job."""
        return spark.read.schema(PAGES_SCHEMA).parquet(*paths)

    def seen_from_pages(rounds_list: list[int]) -> DataFrame:
        """The seen set IS the processed pages' keys (J3): read them
        column-pruned from the per-round pages snapshots instead of
        rewriting an ever-growing seen table every round (O(total)
        write per round → O(delta))."""
        if not rounds_list:
            return _empty(spark, SEEN_SCHEMA)
        paths = [catalog.table_path("pages", rr) for rr in sorted(set(rounds_list))]
        return read_pages_snaps(paths).select(
            F.xxhash64("url_norm").alias("url_hash"), "url_norm", "host_shard"
        )

    def commit(r: int, tables: dict[str, str], **extra) -> None:
        catalog.commit(
            r,
            tables,
            state={
                "format": SNAPSHOT_FORMAT,
                "base": base,
                "processed": processed,
                "round": r,
                "budget": budget,
                "sitemap_urls": sitemap_urls,
                "metrics_rows": metrics_rows,
                "n_host_shards": config.n_host_shards,
                "max_per_host_per_round": cap,
                **extra,
            },
        )

    admit = FrontierAdmission(catalog, config, probe, robots_filter, n_part)
    # the frontier a round consumes: driver-resident rows for a fast
    # round, or an admitted snapshot with its due rows per seq bucket
    # and the rows its per-host cap defers
    frontier_rows: list[tuple] | None = None
    seen_set: set[str] | None = None
    frontier: DataFrame | None = None
    counts: dict[int, int] = {}
    n_deferred = 0
    # admitted on Spark by the first round: (candidates, whether the
    # probe already filtered them, parent seq range start, span)
    entry = None
    if config.resume and catalog.latest_round() is not None:
        state = catalog.state()
        _check_resumable(state, base, config)
        last = state["round"]
        start_round = last + 1
        processed = state["processed"]
        sitemap_urls = state["sitemap_urls"]
        metrics_rows = state["metrics_rows"]
        seen = seen_from_pages(catalog.rounds())
        if "expansion_pending" in state:
            # the final committed round deferred its expansion (no
            # round it ran would read it, and it deferred no rows):
            # rebuild it from the committed pages snapshot
            cand = expand_frontier(
                read_pages_snaps([catalog.table_path("pages", last)]),
                base, next_round=start_round,
            )
        else:
            cand = spark.read.schema(FRONTIER_SCHEMA).parquet(
                catalog.table_path("frontier", last)
            )
        # the candidates' parents are the last round's pages
        fetched_last = metrics_rows[-1]["fetched"]
        entry = (cand.drop("url"), False, processed - fetched_last, fetched_last)
    else:
        start_round = 0
        processed = 0
        seen = _empty(spark, SEEN_SCHEMA)
        seed_rows = [(base, 0, -1, 0, base)]
        if config.discovery and sitemaps is not None:
            bases = spark.createDataFrame([(base,)], "base_url string")
            found = expand_sitemaps(spark, sitemaps, bases)
            sitemap_urls = sorted(r["url"] for r in found.collect())
            # sorted(set(...)) seeding order (sitemap_parser.py:22,
            # main.py:52-58): base first, then sitemap URLs by rank.
            # Seeds are the only rows canonicalized here (driver-side,
            # handful of rows); expansions arrive pre-canonicalized.
            seed_rows += [
                (u, 0, -1, i + 1, normalize_url(u))
                for i, u in enumerate(sitemap_urls)
            ]
        # P4 scope, and P5/P6 when the skip set exists: the fetch
        # kernel filters expansions at discovery, and seeds here — on a
        # handful of driver rows, instead of a probe semi-join job
        skip = probe_skip_bc.value if probe_skip_bc is not None else ()
        seed_rows = [
            row for row in seed_rows
            if row[4].startswith(base) and row[4] not in skip
        ]
        if (
            config.fast_round_max > 0
            and probe_skip_bc is not None
            and len(seed_rows) <= config.fast_round_max
        ):
            frontier_rows = seed_rows
            seen_set = set()
        else:
            seeds = spark.createDataFrame(seed_rows, FRONTIER_SCHEMA)
            # seeds carry parent_seq -1
            entry = (seeds.drop("url"), probe_skip_bc is not None, -1, 1)

    pages_rounds: list[int] = catalog.rounds() if config.resume else []
    bloom_bc = None
    bloom_state = None  # incremental sharded-bloom sidecar (built once,
    # grown by per-round deltas — see the engagement block below)
    seen_cache = None  # persisted incremental seen set (guide §2.4: the
    # admission anti-join's seen side was re-derived from EVERY pages
    # snapshot every round — an O(total-seen) parquet re-read + re-hash
    # per round; the cache makes it O(delta): cached seen ∪ this
    # round's snapshot)

    sc = spark.sparkContext
    r = start_round
    while r < config.max_rounds and processed < budget:
        t0 = time.time()
        sc.setJobDescription(f"crawl r{r}")

        # ---- driver fast path: whole tiny round on the driver, one
        # JVM-only Spark job (the web key lookup collected as Arrow),
        # the extraction kernel in-process — see plans/fastround.py ----
        if frontier_rows is not None:
            sc.setJobDescription(f"crawl r{r}: fast round")
            fr = run_fast_round(
                r, frontier_rows, seen_set, processed, budget, base,
                config, web_fetch, probe_skip_bc, robots_cache_obj,
            )
            if fr.n_eligible == 0:
                break
            pages_r_path = catalog.table_path("pages", r)
            write_pages_parquet(pages_r_path, fr.pages)
            frontier_path = catalog.table_path("frontier", r)
            handover = len(fr.frontier_next) > config.fast_round_max
            rows, buckets, ranks = fr.frontier_next, None, None
            if cap is None or handover:
                # stamped the way admission stamps a Spark-round
                # frontier, so a handover round needs no job before its
                # fetch (uncapped fast frontiers are always stamped)
                rows, buckets, ranks, counts, n_deferred = stamp_frontier(
                    fr.frontier_next, processed, fr.due_count, n_part, cap
                )
            write_frontier_parquet(
                frontier_path, rows, config.n_host_shards, buckets, ranks
            )
            pages_rounds.append(r)
            processed += fr.due_count
            metrics_rows.append(
                {
                    "round": r,
                    "frontier_size": fr.n_eligible,
                    "fetched": fr.due_count,
                    "errors": fr.n_errors,
                    "processed_total": processed,
                    "wall_s": time.time() - t0,
                    "seq_s": fr.seq_s,
                    "fetch_s": fr.fetch_s,
                    "bloom_s": 0.0,
                    "expand_s": fr.expand_s,
                }
            )
            commit(r, {"pages": pages_r_path, "frontier": frontier_path})
            if handover:
                # hand over to the Spark path: frontier + seen continue
                # from the snapshots just written
                frontier_rows = None
                seen_set = None
                frontier = spark.read.schema(admit.schema).parquet(frontier_path)
                seen = seen_from_pages(pages_rounds)
            else:
                frontier_rows = fr.frontier_next
            r += 1
            continue

        # ---- Spark round: admission wrote this frontier filtered and
        # stamped, and published its due rows per seq bucket, so the
        # seq assignment is driver arithmetic plus a bucket window that
        # rides the fetch job — no job runs before the fetch, except
        # the admission of the seeds or of a resumed frontier. ----
        if entry is not None:
            cand, probed, lo, span = entry
            entry = None
            frontier, counts, n_deferred = admit(
                cand, r, "entry", seen, processed, probe_filtered=probed,
                bucket_lo=lo, bucket_span=span,
            )
        n_eligible = sum(counts.values())
        t_seq = time.time()
        if n_eligible == 0:
            break
        due = frontier if cap is None else frontier.filter(F.col("host_rank") <= cap)
        due = (
            assign_global_seq(due, counts, start=processed)
            .filter(F.col("seq") < budget)
            .withColumn("round", F.lit(r).cast("int"))
        )
        due_count = min(n_eligible, budget - processed)

        # only the columns the fetch kernel consumes cross the exchange
        # and the Arrow boundary (mapInPandas ships every input column):
        # url/priority/url_hash/seq_bucket are dead past this point
        due = due.select("url_norm", "seq", "round", "host", "host_shard")

        # GET-model fetch join + one Arrow extraction pass (S4-S7, F1-F3).
        # Strategy by round size:
        # - small rounds: broadcast-semi prune — broadcast the due KEYS
        #   (tiny) to filter the cached web partitions, so page bodies
        #   are never broadcast for rows not fetched this round (the
        #   runtime-filter pattern; at cluster scale a bloom pushdown
        #   into the bucketed web scan plays this role);
        # - big rounds: co-partitioned hash join against the persisted
        #   web cache — only the due keys are exchanged, the cached
        #   body partitions stream in place.
        if due_count <= 50_000:
            web_small = web_fetch.join(
                F.broadcast(due.select("url_norm")), on="url_norm", how="left_semi"
            )
            joined = due.join(web_small, on="url_norm", how="left")
        else:
            # hint on the DUE side => ShuffledHashJoin BuildLeft: the
            # hash relation is built from this round's (small) due keys
            # and the persisted web partitions STREAM through the probe.
            # The previous hint on the web side made the WEB the build
            # side (LeftOuter defaults to BuildRight) — a multi-GB hash
            # relation of page bodies rebuilt per round, with the GC to
            # match (guide §3.1: check the build side in the plan).
            joined = due.hint("shuffle_hash").join(web_fetch, on="url_norm", how="left")
        obs = Observation(f"round_{r}")
        # scope_base: the kernel also emits the pre-canonicalized
        # expansion column (discovered_norm) so the expansion below is
        # a shuffle-free posexplode — see operators/fetch.py
        pages_out = joined.mapInArrow(
            make_fetch_extract(
                config.discovery, scope_base=base,
                probe_skip_bc=probe_skip_bc,
            ),
            PAGES_SCHEMA_EXPAND,
        ).observe(obs, F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"))
        # persist BEFORE the (synchronous) snapshot write: the write job
        # materializes the cache, and the expansion below reads the
        # CACHED pages instead of re-reading the snapshot files —
        # removes the per-round read-back listing job + re-scan.
        # (An async write overlapping the expansion was tried and
        # REVERTED: both jobs race to materialize the same cache, and
        # the loser's tasks occupy task slots blocked on per-partition
        # cache locks, starving the winner — measured net-slower at
        # every parallelism level.)
        pages_r = pages_out.persist()
        # snapshots keep the exact PAGES_SCHEMA contract (sinks, resume,
        # fastround parity): the expansion column lives only in the
        # cached frame the expansion below consumes
        sc.setJobDescription(f"crawl r{r}: fetch+extract+pages-write")
        pages_r_path = catalog.write_table(
            "pages", r, pages_r.drop("discovered_norm")
        )
        n_errors = int(obs.get["errors"] or 0)  # free: rides the write job
        t_fetch = time.time()

        # seen += processed rows (J3; error rows included, R2/R3) —
        # derived from the pages snapshots, no separate table write.
        # Incremental: cached seen-so-far ∪ THIS round's snapshot only;
        # reading the delta from the just-written snapshot (not the
        # pages cache) keeps the lineage rooted in parquet, so a cache
        # eviction can never re-trigger the fetch kernel.
        pages_rounds.append(r)
        delta = spark.read.schema(PAGES_SCHEMA).parquet(pages_r_path).select(
            F.xxhash64("url_norm").alias("url_hash"),
            "url_norm",
            F.col("host_shard"),
        )
        if seen_cache is not None:
            seen_next = seen_cache.unionByName(delta)
        elif len(pages_rounds) > 1:
            # first Spark round after fastround/resume: fold the earlier
            # snapshots in once; every later round unions only its delta
            seen_next = seen_from_pages(
                [rr for rr in pages_rounds if rr != r]
            ).unionByName(delta)
        else:
            seen_next = delta
        processed_next = processed + due_count
        # After the crawl's LAST round (budget exhausted or max_rounds
        # reached) the expansion — and the bloom refresh that only
        # feeds its admission — would build a frontier no round ever
        # consumes. Defer it: commit the pages snapshot with an
        # expansion_pending flag; a resume rebuilds the frontier
        # deterministically from that snapshot, so resumability is
        # unchanged while every non-resumed crawl saves a full
        # expansion's work. A round that deferred rows under the cap
        # admits eagerly instead: its deferred rows live only in the
        # frontier it consumed, not in any pages snapshot.
        will_expand = processed_next < budget and (
            r + 1 < config.max_rounds or n_deferred > 0
        )
        if will_expand:
            # materialized by the admission job below; the previous
            # cache is released after the frontier write
            seen_next = seen_next.persist()
        seen = seen_next

        # bloom sidecar (covering seen through round r) builds BEFORE
        # the expansion admission, so admission sees a FRESH bitmap and
        # (bloom prefilter + exact suspects anti-join) is EXACT wrt
        # seen-through-r: no round ever re-checks its frontier against
        # seen. (The former side-thread overlap saved ~1s/round of
        # bloom-build wall but handed admission a stale bitmap, whose
        # repair — a full-frontier re-check next round — cost far more
        # at scale.)
        if (
            config.use_bloom
            and will_expand
            and processed_next >= config.bloom_min_seen
        ):
            sc.setJobDescription(f"crawl r{r}: bloom sidecar")
            if bloom_state is None:
                # first engagement: ONE per-shard counts job sizes each
                # shard's bitmap from its observed key share
                # extrapolated to the full crawl budget (2x margin) —
                # uniform total/n_shards sizing saturates the hot shard
                # of a skewed crawl (FPP → 1: the sidecar then costs a
                # build + UDF pass and filters nothing). One sizing
                # lasts the whole crawl, so later rounds only FOLD IN
                # their delta: O(new pages) per round, not O(total).
                shard_counts = {
                    int(row["host_shard"]): int(row["cnt"])
                    for row in seen.groupBy("host_shard")
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                }
                total_seen = sum(shard_counts.values()) or 1
                horizon = max(budget, total_seen)
                expected = {
                    s: int(c / total_seen * horizon * 2)
                    for s, c in shard_counts.items()
                }
                bloom_state = build_bloom_shards_sized(
                    seen,
                    "url_hash",
                    "host_shard",
                    expected,
                    default_expected=max(
                        horizon * 2 // config.n_host_shards, 1024
                    ),
                )
            else:
                add_bloom_delta(
                    bloom_state,
                    pages_r.select(
                        F.xxhash64("url_norm").alias("url_hash"),
                        F.col("host_shard"),
                    ),
                    "url_hash",
                    "host_shard",
                    default_expected=max(
                        budget * 2 // config.n_host_shards, 1024
                    ),
                )
            bloom_bc = spark.sparkContext.broadcast(bloom_state)
        t_bloom = time.time()

        # expansions → next frontier (J2/J4/O4): this round's
        # expansions plus the rows its cap deferred, admitted against
        # seen-through-r. The kernel already dropped probe-skip URLs
        # from discovered_norm when the skip set exists, and deferred
        # rows were probed at their own admission.
        if will_expand:  # never without discovery: its budget is 1
            cand = expand_frontier(pages_r, base, next_round=r + 1).drop("url")
            if n_deferred:
                cand = (
                    frontier.filter(F.col("host_rank") > cap)
                    .select(*cand.columns)
                    .unionByName(cand)
                )
            frontier, counts, n_deferred = admit(
                cand, r, "frontier", seen, processed_next, bloom_bc,
                probe_filtered=probe_skip_bc is not None,
                bucket_lo=processed, bucket_span=processed_next - processed,
            )
            # the admission job above materialized seen_next; rotate the
            # incremental cache (unpersisting earlier frees the old
            # blocks the new cache's lineage just read)
            if seen_cache is not None:
                seen_cache.unpersist()
            seen_cache = seen_next
        pages_r.unpersist()
        t_expand = time.time()

        processed = processed_next
        metrics_rows.append(
            {
                "round": r,
                "frontier_size": n_eligible,
                "fetched": due_count,
                "errors": n_errors,
                "processed_total": processed,
                "wall_s": time.time() - t0,
                # phase walls (driver-observed job boundaries)
                "seq_s": round(t_seq - t0, 2),
                "fetch_s": round(t_fetch - t_seq, 2),
                "bloom_s": round(t_bloom - t_fetch, 2),
                "expand_s": round(t_expand - t_bloom, 2),
            }
        )
        if will_expand:
            commit(r, {"pages": pages_r_path, "frontier": catalog.table_path("frontier", r)})
        else:
            commit(r, {"pages": pages_r_path}, expansion_pending=r)

        r += 1

    if not prepared:
        web_fetch.unpersist()
    if seen_cache is not None:
        seen_cache.unpersist()

    # the loop may end while still in fast mode (seen_set-resident):
    # the authoritative seen set is always derivable from the pages
    # snapshots, for fast and Spark rounds alike
    seen = seen_from_pages(pages_rounds)

    # assemble results across rounds
    if pages_rounds:
        pages = read_pages_snaps(
            [catalog.table_path("pages", rr) for rr in sorted(set(pages_rounds))]
        )
    else:
        pages = _empty(spark, PAGES_SCHEMA)
    order = pages.select("seq", "url_norm", "round").orderBy("seq")

    # politeness clocks (T1/T2) — derived ONCE from the pages snapshots
    # (attempts + fetch_failed_first columns): identical to per-round
    # accumulation because per-host draw indices follow the global seq,
    # and free at resume time (recomputed from the same snapshots).
    sched_in = pages.select(
        "host",
        "seq",
        F.col("attempts").cast("int").alias("draws"),
        F.when(F.col("fetch_failed_first"), 1.0).otherwise(0.0).alias("debit"),
    ).withColumn("start_ix", F.lit(0).cast("long"))
    host_state = (
        sched_in.groupBy("host")
        .applyInPandas(make_schedule_fn(config.politeness_seed), SCHEDULE_SCHEMA)
        .groupBy("host")
        .agg(
            F.max("start_ix").alias("next_ix"),
            F.sum("delay_s").alias("clock_s"),
            F.sum("draws").cast("long").alias("attempts"),
        )
    )
    metrics = (
        spark.createDataFrame(metrics_rows)
        if metrics_rows
        else _empty(
            spark,
            "round int, frontier_size long, fetched long, errors long, "
            "processed_total long, wall_s double, seq_s double, "
            "fetch_s double, bloom_s double, expand_s double",
        )
    )
    return CrawlResult(
        pages=pages,
        order=order,
        seen=seen,
        metrics=metrics,
        host_state=host_state,
        sitemap_urls=sitemap_urls,
        rounds=r,
        checkpoint_dir=catalog.root,
        processed=processed,
        metrics_rows=metrics_rows,
    )
