"""The BSP crawl driver loop (T4; SURVEY.md §3.2 engine lifecycle).

Each round is one Catalyst-optimizable batch job over the whole
frontier:

    frontier → canonicalize/hash/host → scope filter (P4)
             → ANTI JOIN seen [bloom pre-filter] (J1)
             → within-round first-occurrence dedup (J2 equivalence)
             → HEAD-model probe join dropping suspicious image/* (P5/P6)
             → [robots filter — north_rule option]
             → global seq on (round, parent_seq, sibling_rank) (O1-O4)
             → budget cut seq < B (P9/O7)
             → GET-model join vs web + one mapInPandas extract pass
             → politeness schedule (applyInPandas per host, T1/T2)
             → expansions (J4/O4) → anti-join seen → next frontier
             → snapshot commit {frontier, seen, pages, host_state,
               metrics} (T6 — resumable, per-partition lineage)

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
  (a dupe admitted mid-round is pop-skipped later either way).

Scale posture: frontier/seen/pages are parquet snapshots (Iceberg when
the jar is present — sources.catalog shim), re-read each round, so
lineage never grows; the global sequence is the range-partition rank
pattern (no one-task sort); the seen anti-join gets a bloom sidecar
pre-filter; hosts shard by pmod(xxhash64(host), n_host_shards) and AQE
splits skewed joins at runtime.
"""

from __future__ import annotations

import tempfile
import time
from dataclasses import dataclass, field

import pandas as pd
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
    FRONTIER_SCHEMA_V2,
    PRIORITY_COLS,
    assign_global_seq,
    dedup_within_round,
    expand_frontier,
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
    write_frontier_parquet,
    write_pages_parquet,
)

SEEN_SCHEMA = "url_hash long, url_norm string, host_shard int"
HOST_STATE_SCHEMA = "host string, next_ix long, clock_s double, attempts long"


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
    # (above this the per-round probe semi-join runs instead); 0
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


def run_crawl(
    spark: SparkSession,
    web: DataFrame,
    config: CrawlConfig,
    sitemaps: DataFrame | None = None,
    robots: DataFrame | None = None,
) -> CrawlResult:
    base = normalize_url(config.base_url)  # main.py:111
    budget = config.budget if config.discovery else 1
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

    # HEAD-probe fast path: suspicious URLs (media extensions / query
    # strings) are the only ones that consult a content type, and only
    # "image/*" skips (P5/P6). Collect the suspicious slice's content
    # types ONCE and broadcast the skip SET — this replaces a per-round
    # full probe scan + two broadcast-join jobs with one JVM isin-style
    # lookup. Gated: above the cap the per-round semi-join path below
    # stays (at 10^10 scale the probe is a bucketed lookup table).
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

    if probe_skip_bc is not None:
        from pyspark.sql.functions import pandas_udf as _pandas_udf

        @_pandas_udf("boolean")
        def _probe_skips(urls: pd.Series) -> pd.Series:
            return urls.isin(probe_skip_bc.value)

    # fetch side prepared ONCE: hash-partitioned on the join key and
    # persisted, so every round's fetch join exchanges only the (tiny)
    # due side — page BODIES cross a shuffle exactly once per crawl,
    # not once per round (the dominant memory-bandwidth cost measured
    # in round-1 event logs). On a cluster this is the bucketed-table
    # layout of the web snapshot; callers may prepare it once up front
    # with prepare_fetch_table() and reuse it across crawls.
    prepared = getattr(web, "_wormpy_prepared", False)
    if prepared:
        web_fetch = web.drop("url", "host", "links")
    else:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        web_fetch = (
            web.drop("url", "host", "links")
            .repartition(n_part, "url_norm")
            .persist()
        )

    sitemap_urls: list[str] = []
    metrics_rows: list[dict] = []

    def read_pages_snaps(paths: list[str]) -> DataFrame:
        """Snapshot read with the known PAGES_SCHEMA — skips the
        per-call footer/schema-inference job. Resumed crawls keep
        inference: an old checkpoint may predate newer columns and the
        explicit schema would null them instead of triggering the
        documented backfill paths."""
        if config.resume:
            return spark.read.parquet(*paths)
        return spark.read.schema(PAGES_SCHEMA).parquet(*paths)

    def seen_from_pages(rounds_list: list[int]) -> DataFrame:
        """The seen set IS the processed pages' keys (J3): read them
        column-pruned from the per-round pages snapshots instead of
        rewriting an ever-growing seen table every round (O(total)
        write per round → O(delta))."""
        if not rounds_list:
            return _empty(spark, SEEN_SCHEMA)
        paths = [f"{catalog.root}/pages/snap-{rr:06d}" for rr in sorted(set(rounds_list))]
        df = read_pages_snaps(paths)
        if "host_shard" in df.columns:
            shard = F.col("host_shard")
        else:
            # pre-host_shard checkpoint (resume compatibility): backfill
            # the shard from url_norm — same formula the loop uses
            shard = F.pmod(
                F.xxhash64(host_udf(F.col("url_norm"))),
                F.lit(config.n_host_shards),
            ).cast("int")
        return df.select(
            F.xxhash64("url_norm").alias("url_hash"),
            "url_norm",
            shard.alias("host_shard"),
        )

    if config.resume and catalog.latest_round() is not None:
        state = catalog.state()
        assert state["base"] == base, "resume with a different base URL"
        ck_shards = state.get("n_host_shards")
        if ck_shards is not None and ck_shards != config.n_host_shards:
            # a different shard count would mis-route bloom lookups for
            # keys seen before the resume — refuse rather than corrupt
            raise ValueError(
                f"resume with n_host_shards={config.n_host_shards} but the "
                f"checkpoint was written with {ck_shards}; use the same value"
            )
        start_round = state["round"] + 1
        processed = state["processed"]
        # frontier parent_seq bounds for the bucketed seq path; old
        # checkpoints lack the key — (-1, processed) is always valid
        # (loose bounds skew buckets, never ordering)
        parent_bounds = tuple(state.get("parent_bounds", (-1, processed)))
        sitemap_urls = state.get("sitemap_urls", [])
        seen = seen_from_pages(catalog.rounds())
        pending_round = state.get("expansion_pending")
        if pending_round is not None:
            # the final committed round deferred its expansion (its
            # frontier would only ever be read by a resume like this
            # one): rebuild it deterministically from the committed
            # pages snapshot — same expansion, same dedup, same
            # admission anti-join the eager path would have run
            pages_prev = catalog.read(spark, "pages")
            cand = expand_frontier(
                pages_prev, base, next_round=pending_round + 1
            )
            cand = dedup_within_round(cand)
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
            frontier = anti_join_seen(
                cand, seen, None,
                seen_count=processed,
                broadcast_below=config.bloom_min_seen,
            ).select(
                "url", "round_enqueued", "parent_seq", "sibling_rank",
                "url_norm", "host", "url_hash", "host_shard"
            )
        else:
            frontier = catalog.read(spark, "frontier")
        resume_frontier_exact = pending_round is not None
        metrics_rows = state.get("metrics_rows", [])
        # resume always re-enters on the Spark path (frontier/seen are
        # snapshot-resident); tiny post-resume rounds still work, they
        # just do not take the driver shortcut
        frontier_rows = None
        seen_set = None
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
        frontier = spark.createDataFrame(seed_rows, FRONTIER_SCHEMA)
        resume_frontier_exact = False
        frontier_rows = list(seed_rows)
        seen_set = set()
        parent_bounds = (-1, 0)  # seeds carry parent_seq = -1

    pages_rounds: list[int] = catalog.rounds() if config.resume else []
    bloom_bc = None
    bloom_state = None  # incremental sharded-bloom sidecar (built once,
    # grown by per-round deltas — see the engagement block below)
    seen_cache = None  # persisted incremental seen set (guide §2.4: the
    # admission anti-join's seen side was re-derived from EVERY pages
    # snapshot every round — an O(total-seen) parquet re-read + re-hash
    # per round; the cache makes it O(delta): cached seen ∪ this
    # round's snapshot)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # True when the current frontier is KNOWN globally dedup'd at write
    # time (expansion/fastround output with no per-host deferral in
    # play): the loop's J2 dedup shuffle is then an identity and is
    # skipped — one full frontier exchange per round saved. Seeds (base
    # may repeat in the sitemap list) and resumed frontiers (writer
    # config unknown) keep the dedup.
    frontier_deduped = False
    # True when the current frontier's ADMISSION already anti-joined
    # every row against the complete seen set at write time (expansion
    # with the fresh-at-admission bloom + exact suspects join, or
    # fastround's driver seen_set) — the loop's J1 re-check (a bloom
    # UDF pass + exact anti-join over the whole frontier, the biggest
    # fixed cost of a big round's seq phase) is then an identity and is
    # skipped. Seeds and resumed frontiers keep it.
    frontier_admission_exact = False
    # Fused-seq state: when the expansion ALSO applied the probe-skip
    # (P5/P6) and robots filters at admission — provably output-
    # identical, a skipped URL never gets a seq and never enters seen
    # on either path — and stamped each row's deterministic range
    # bucket (``seq_bucket``), the per-bucket row counts ride the
    # frontier WRITE job as an Observation. The next round then knows
    # its offsets (and n_eligible) driver-side: the whole filter chain
    # is an identity and the seq assignment fuses into the fetch job —
    # zero extra Spark jobs per round (guide §2.4: the counts job was
    # a pure per-round floor, ~1s + planning per round at any core
    # count). Seeds, resumed frontiers and deferral rounds fall back.
    fused_counts: dict[int, int] | None = None
    if resume_frontier_exact:
        # the resume-rebuilt frontier went through dedup + the exact
        # admission anti-join just above
        frontier_deduped = True
        frontier_admission_exact = True

    sc = spark.sparkContext
    # loop-invariant expression trees, built once: Column/Window
    # objects are immutable and reusable, and rebuilding the 32
    # per-bucket observation metrics plus the bucket window costs a
    # few hundred py4j round-trips per round otherwise
    bucket_metrics = [
        F.sum((F.col("seq_bucket") == i).cast("long")).alias(f"b{i}")
        for i in range(n_part)
    ]
    bucket_window = Window.partitionBy("seq_bucket").orderBy(
        *[F.col(c) for c in PRIORITY_COLS]
    )

    r = start_round
    while r < config.max_rounds and processed < budget:
        t0 = time.time()
        sc.setJobDescription(f"crawl r{r}")

        # ---- driver fast path: whole tiny round on the driver, one
        # JVM-only Spark job (the web key lookup collected as Arrow),
        # the extraction kernel in-process — see plans/fastround.py ----
        if (
            frontier_rows is not None
            and seen_set is not None
            and config.fast_round_max > 0
            and probe_skip_bc is not None
            and len(frontier_rows) <= config.fast_round_max
        ):
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
            # fused-seq info, driver-side (mirrors the Spark expansion's
            # Observation): fastround admission already applied probe/
            # robots filters, so bucket counts here let a handover round
            # take the fused path with zero standalone actions
            fast_counts: dict[int, int] | None = None
            seq_buckets = None
            if config.max_per_host_per_round is None:
                lo = processed
                span = max(fr.due_count, 1)
                seq_buckets = []
                fast_counts = {}
                for (_u, _renq, pseq, _srank, _un) in fr.frontier_next:
                    b = (pseq - lo) * n_part // span
                    b = 0 if b < 0 else (n_part - 1 if b >= n_part else b)
                    seq_buckets.append(b)
                    fast_counts[b] = fast_counts.get(b, 0) + 1
            write_frontier_parquet(
                frontier_path, fr.frontier_next, config.n_host_shards,
                seq_buckets,
            )
            pages_rounds.append(r)
            processed += fr.due_count
            parent_bounds = (processed - fr.due_count, processed)
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
            catalog.commit(
                r,
                {"pages": pages_r_path, "frontier": frontier_path},
                state={
                    "base": base,
                    "processed": processed,
                    "round": r,
                    "budget": budget,
                    "sitemap_urls": sitemap_urls,
                    "metrics_rows": metrics_rows,
                    "n_host_shards": config.n_host_shards,
                "parent_bounds": list(parent_bounds),
                },
            )
            if len(fr.frontier_next) <= config.fast_round_max:
                frontier_rows = fr.frontier_next
            else:
                # hand over to the Spark path: frontier + seen continue
                # from the snapshots just written
                frontier_rows = None
                seen_set = None
                frontier = spark.read.parquet(frontier_path)
                # fastround's frontier_next is globally first-wins
                # dedup'd (best-dict, fastround.py) unless deferral
                # rows were unioned in; its admission is exact (driver
                # seen_set membership)
                frontier_deduped = config.max_per_host_per_round is None
                frontier_admission_exact = True
                seen = seen_from_pages(pages_rounds)
                fused_counts = fast_counts
            r += 1
            continue
        frontier_rows = None
        seen_set = None

        # ---- fused-seq fast path: the previous round's expansion
        # already applied the complete filter chain at admission and
        # published per-bucket counts via its write-job Observation, so
        # this round needs NO standalone action before the fetch: the
        # offsets are driver arithmetic and the bucket-window seq
        # assignment rides the fetch job itself. ----
        if fused_counts is not None:
            deferred = None
            seq_cache = None
            n_eligible = sum(fused_counts.values())
            t_seq = time.time()
            if n_eligible == 0:
                break
            offsets: dict[int, int] = {}
            acc = processed
            for pid in sorted(fused_counts):
                if fused_counts[pid]:
                    offsets[pid] = acc
                    acc += fused_counts[pid]
            mapping = F.create_map(
                *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
            )
            seqd = frontier.withColumn(
                "seq",
                (
                    mapping[F.col("seq_bucket")]
                    + F.row_number().over(bucket_window)
                    - 1
                ).cast("long"),
            )
            due = seqd.filter(F.col("seq") < budget).withColumn(
                "round", F.lit(r).cast("int")
            )
        else:
            # url_norm is carried by the frontier (seeds canonicalized at
            # seeding, expansions at discovery), and v2 frontiers also
            # carry (host, url_hash, host_shard) from admission — no
            # per-round UDF/hash re-derivation. v1 frontiers (seeds, old
            # checkpoints) are backfilled here.
            if "host" in frontier.columns:
                f = frontier
            else:
                f = (
                    frontier.withColumn("host", host_udf(F.col("url_norm")))
                    .withColumn("url_hash", F.xxhash64(F.col("url_norm")))
                    .withColumn(
                        "host_shard",
                        F.pmod(
                            F.xxhash64(F.col("host")), F.lit(config.n_host_shards)
                        ).cast("int"),
                    )
                )
            in_scope = f.filter(F.col("url_norm").startswith(base))  # P4
            if frontier_admission_exact:
                # J1 already applied exactly at admission (fresh bloom +
                # exact suspects join, or fastround's driver set) and seen
                # only grows by rows FETCHED since — which are disjoint
                # from this frontier by construction
                not_seen = in_scope
            else:
                not_seen = anti_join_seen(  # J1
                    in_scope, seen, bloom_bc,
                    seen_count=processed, broadcast_below=config.bloom_min_seen,
                )
            deduped = (                                               # J2 equiv.
                not_seen if frontier_deduped else dedup_within_round(not_seen)
            )

            # P5/P6 — HEAD-model probe: only suspicious URLs consult the
            # content type; image/* are skipped (scraper.py:81-84).
            susp = deduped.filter(suspicious_pred(F.col("url_norm")))
            rest = deduped.filter(~suspicious_pred(F.col("url_norm")))
            if probe_skip_bc is not None:
                # fast path: membership in the once-collected skip set
                susp_kept = susp.filter(~_probe_skips(F.col("url_norm")))
            else:
                # scale path: semi-prune the probe table by the (tiny)
                # suspicious key set first — otherwise the planner
                # broadcasts the full probe projection every round
                probe_small = probe.join(
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
            eligible = rest.unionByName(susp_kept)
            if robots_filter is not None:
                eligible = eligible.filter(robots_filter(F.col("url_norm")))

            deferred = None
            if config.max_per_host_per_round is not None:
                hw = Window.partitionBy("host").orderBy(
                    *[F.col(c) for c in PRIORITY_COLS]
                )
                ranked = eligible.withColumn("_hr", F.row_number().over(hw))
                deferred = (
                    ranked.filter(F.col("_hr") > config.max_per_host_per_round)
                    .select("url", "round_enqueued", "parent_seq", "sibling_rank",
                            "url_norm", "host", "url_hash", "host_shard")
                )
                eligible = ranked.filter(
                    F.col("_hr") <= config.max_per_host_per_round
                ).drop("_hr")

            # one computation of the whole filter chain per round: the seq
            # assignment persists its range-partitioned output (also pinning
            # the partitioning so offsets stay valid — see assign_global_seq),
            # its count collect materializes the cache, and the fetch reuses it.
            # Without deferral every frontier row shares round_enqueued, and
            # parent_seq is bounded by the previous round's seq range (driver-
            # known) — deterministic bucket boundaries, which drops the range
            # partitioner's per-round SAMPLING job (half the seq phase's fixed
            # job cost). Deferral mixes round_enqueued values, where parent_seq
            # alone is not monotone in the priority order → sampling path.
            bucket_hint = (
                ("parent_seq", parent_bounds[0], parent_bounds[1])
                if config.max_per_host_per_round is None
                else None
            )
            sc.setJobDescription(f"crawl r{r}: global seq")
            seqd, n_eligible, seq_cache = assign_global_seq(
                eligible, PRIORITY_COLS, start=processed, range_bucket=bucket_hint
            )
            t_seq = time.time()
            if n_eligible == 0:
                seq_cache.unpersist()
                break
            due = seqd.filter(F.col("seq") < budget).withColumn(
                "round", F.lit(r).cast("int")
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
        will_expand = (
            processed_next < budget and (r + 1) < config.max_rounds
        )
        if will_expand:
            # materialized by the admission job below; the previous
            # cache is released after the frontier write
            seen_next = seen_next.persist()
        seen = seen_next

        # bloom sidecar (covering seen through round r) builds BEFORE
        # the expansion admission, so admission sees a FRESH bitmap and
        # (bloom prefilter + exact suspects anti-join) is EXACT wrt
        # seen-through-r. That exactness is what lets the NEXT round
        # skip re-checking its whole frontier against seen (the
        # admission-exact fast path above) — the biggest fixed cost of
        # a big round's seq phase. (The former side-thread overlap
        # saved ~1s/round of bloom-build wall but handed admission a
        # stale bitmap, whose repair — a full-frontier re-check next
        # round — cost far more at scale.)
        # After the crawl's LAST round (budget exhausted or max_rounds
        # reached) the expansion — and the bloom refresh that only
        # feeds its admission — would build a frontier no round ever
        # consumes. Defer it: commit the pages snapshot with an
        # expansion_pending flag; a resume rebuilds the frontier
        # deterministically from that snapshot (same expansion, same
        # admission), so resumability is unchanged while every
        # non-resumed crawl saves a full expansion's work.
        final_round = not will_expand
        if (
            config.use_bloom
            and not final_round
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

        # expansions → next frontier (J2/J4/O4). Candidates are deduped
        # GLOBALLY (first occurrence by priority — the same rule
        # dedup_within_round applies next round, so semantics are
        # unchanged) BEFORE hashing/sharding/admission: with ~300
        # outlinks/page the raw candidate stream is ~50x larger than
        # its distinct set, and everything downstream of this dedup
        # (anti-join UDF, frontier write, next round's whole filter
        # chain) now runs on the small side.
        if config.discovery and not final_round:
            cand = expand_frontier(pages_r, base, next_round=r + 1)
            # ``url`` is url_norm verbatim for every expansion row
            # (expand_frontier selects url_norm twice) — drop the copy
            # BEFORE the dedup exchange so each candidate row carries
            # one string, not two, through the round's biggest shuffle;
            # re-aliased after admission (guide §2.3: shuffle fewer
            # bytes).
            cand = dedup_within_round(cand.drop("url"))
            # derive (host, url_hash, host_shard) ONCE — they ride the
            # v2 frontier file so no later round recomputes them
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
                seen_count=processed_next, broadcast_below=config.bloom_min_seen,
            )
            frontier_next = admitted.select(
                F.col("url_norm").alias("url"),
                "round_enqueued", "parent_seq", "sibling_rank",
                "url_norm", "host", "url_hash", "host_shard"
            )
        else:
            frontier_next = _empty(spark, FRONTIER_SCHEMA_V2)
        if deferred is not None:
            # deferred rows keep their original priority, so they sort
            # ahead of this round's expansions next round
            frontier_next = deferred.unionByName(frontier_next)
        # ---- fused-seq instrumentation for the NEXT round: the fetch
        # kernel already dropped probe-skip URLs (P5/P6) from
        # discovered_norm at discovery (set lookups on strings already
        # in the Python worker — no UDF pass here), robots (when on)
        # filters here, the deterministic parent_seq range bucket is
        # stamped, and the per-bucket counts ride the write job as an
        # Observation. Next round then assigns seq with driver-known
        # offsets inside the fetch job: no standalone action at all.
        obs_f = None
        if (
            config.discovery
            and not final_round
            and deferred is None
            and config.max_per_host_per_round is None
            and probe_skip_bc is not None
        ):
            if robots_filter is not None:
                frontier_next = frontier_next.filter(
                    robots_filter(F.col("url_norm"))
                )
            # candidates' parent_seq ∈ [processed, processed_next) by
            # construction (parents are this round's due pages); integer
            # DIV keeps the bucket map exactly monotone (same contract
            # as assign_global_seq's range_bucket path)
            lo = processed
            span = max(processed_next - processed, 1)
            bucket = F.expr(
                f"CAST(((parent_seq - {lo}L) * {n_part}L) DIV {span}L AS INT)"
            )
            bucket = F.least(
                F.lit(n_part - 1), F.greatest(F.lit(0), bucket)
            )
            frontier_next = frontier_next.withColumn("seq_bucket", bucket)
            obs_f = Observation(f"frontier_{r}")
            frontier_next = frontier_next.observe(obs_f, *bucket_metrics)
        if final_round:
            frontier_path = None
        else:
            sc.setJobDescription(f"crawl r{r}: expand+admit+frontier-write")
            frontier_path = catalog.write_table("frontier", r, frontier_next)
            # the writer's schema is known exactly (v2 + seq_bucket iff
            # the fused-seq observation ran): an explicit schema skips
            # the per-round footer/schema-inference job
            frontier_schema = FRONTIER_SCHEMA_V2 + (
                ", seq_bucket int" if obs_f is not None else ""
            )
            frontier = spark.read.schema(frontier_schema).parquet(frontier_path)
            # the admission job above materialized seen_next; rotate the
            # incremental cache (unpersisting earlier frees the old
            # blocks the new cache's lineage just read)
            if seen_cache is not None:
                seen_cache.unpersist()
            seen_cache = seen_next
        if obs_f is not None:
            counts_row = obs_f.get  # free: rode the write job
            fused_counts = {
                i: int(counts_row[f"b{i}"] or 0) for i in range(n_part)
            }
        else:
            fused_counts = None
        # admitted is dedup_within_round output; deferral union may
        # reintroduce a URL the expansion also discovered
        frontier_deduped = config.max_per_host_per_round is None
        # admission above used the FRESH bloom + exact suspects join
        # (or the exact broadcast path below bloom_min_seen): next
        # round's J1 re-check is an identity
        frontier_admission_exact = True
        if seq_cache is not None:
            seq_cache.unpersist()
        pages_r.unpersist()
        t_expand = time.time()

        # next frontier's parents are this round's pages (seq range
        # [processed, processed_next)) — the bucketed seq path's bounds
        parent_bounds = (processed, processed_next)
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
        commit_tables = {"pages": pages_r_path}
        commit_state = {
            "base": base,
            "processed": processed,
            "round": r,
            "budget": budget,
            "sitemap_urls": sitemap_urls,
            "metrics_rows": metrics_rows,
            "n_host_shards": config.n_host_shards,
            "parent_bounds": list(parent_bounds),
        }
        if frontier_path is not None:
            commit_tables["frontier"] = frontier_path
        else:
            commit_state["expansion_pending"] = r
        catalog.commit(r, commit_tables, state=commit_state)

        r += 1

    if not prepared:
        web_fetch.unpersist()
    if seen_cache is not None:
        seen_cache.unpersist()

    # the loop may end while still in fast mode (seen_set-resident):
    # the authoritative seen set is always derivable from the pages
    # snapshots, for fast and Spark rounds alike
    seen = seen_from_pages(sorted(set(pages_rounds)))

    # assemble results across rounds
    if pages_rounds:
        pages = read_pages_snaps(
            [f"{catalog.root}/pages/snap-{rr:06d}" for rr in sorted(set(pages_rounds))]
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
