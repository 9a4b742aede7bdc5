"""Frontier ordering + expansion operators (O1-O7, J2, J4).

The reference's frontier is a FIFO deque (url_tracker.py:28,64,75,87).
With the canonical single-scraper + sorted-expansion determinism shim
(SURVEY.md §2.5-O4), FIFO order is exactly the lexicographic order of
the priority triple

    (round_enqueued, parent_seq, sibling_rank)

because every URL processed in round r precedes every URL enqueued
during round r (tail appends), expansions are appended parent-by-
parent in parent processing order, and within a parent in sorted
url_norm order. BSP rounds therefore reproduce the reference's
sequential pop order exactly (proof sketch in SURVEY.md §3.2).

Within one frontier the triple's order is also ``parent_seq`` order,
per-host deferral included: a row enqueued in round e was discovered
by a page fetched in round e-1, so its ``parent_seq`` is strictly
larger than that of every row enqueued earlier (seeds carry -1). That
is what lets admission stamp each row with a ``seq_bucket`` — a
monotone map of ``parent_seq`` (``seq_bucket``/``seq_bucket_col``)
— and publish the per-bucket row counts on the driver.
``assign_global_seq`` then numbers a frontier with driver-known
bucket offsets plus a row_number within each bucket: one expression,
evaluated inside the job that consumes it, no sampling and no extra
job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import canonicalize_udf

PRIORITY_COLS = ["round_enqueued", "parent_seq", "sibling_rank"]

# url_norm rides the frontier: expansions are canonicalized when they
# are discovered (expand_frontier), so no round ever re-canonicalizes
# its input — at ~300 outlinks/page the frontier is the engine's
# biggest row stream and a repeated pandas-UDF pass over it was the
# top cost in round-2 phase profiles. normalize is idempotent
# (hypothesis-tested), so admission semantics are unchanged.
FRONTIER_SCHEMA = (
    "url string, round_enqueued int, parent_seq long, sibling_rank int, "
    "url_norm string"
)

# v2: admission-derived columns ride the frontier file so no round ever
# re-derives them — host (a pandas-UDF urlparse pass over the engine's
# biggest row stream), url_hash, host_shard are computed exactly once,
# at admission.
FRONTIER_SCHEMA_V2 = FRONTIER_SCHEMA + ", host string, url_hash long, host_shard int"
# what a Spark round consumes: + the seq bucket, and under a per-host
# cap the row's rank within its host in priority order (rank > k rows
# are deferred to the next admission)
FRONTIER_SCHEMA_BUCKETED = FRONTIER_SCHEMA_V2 + ", seq_bucket int"
FRONTIER_SCHEMA_RANKED = FRONTIER_SCHEMA_V2 + ", host_rank int, seq_bucket int"


def seq_bucket(parent_seq: int, lo: int, span: int, n_buckets: int) -> int:
    """The seq bucket of one row: ``parent_seq`` mapped monotonically
    onto [0, n_buckets). ``[lo, lo + span)`` is the seq range of the
    round that discovered the frontier; rows outside it (deferred rows,
    loose bounds) clamp to the end buckets, which skews bucket sizes but
    never the order. ``seq_bucket_col`` is the same formula as a Spark
    column; integer DIV keeps it exactly monotone at any magnitude."""
    b = (parent_seq - lo) * n_buckets // max(span, 1)
    return min(n_buckets - 1, max(0, b))


def seq_bucket_col(lo: int, span: int, n_buckets: int) -> Column:
    b = F.expr(
        f"CAST(((parent_seq - {int(lo)}L) * {n_buckets}L) DIV {max(int(span), 1)}L AS INT)"
    )
    return F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), b))


def assign_global_seq(
    df: DataFrame,
    bucket_counts: dict[int, int],
    start: int = 0,
    seq_col: str = "seq",
) -> DataFrame:
    """Dense global sequence in PRIORITY_COLS order, offset by
    ``start``, for a frontier stamped with ``seq_bucket``.
    ``bucket_counts`` are its rows per bucket, known on the driver
    (admission's Observation), so each bucket's offset is driver
    arithmetic and a row's seq is its offset plus its row_number
    within the bucket. Buckets are monotone in the priority order (see
    the module docstring), so the result equals a global sort. Builds
    an expression only: no Spark job runs here."""
    offsets: dict[int, int] = {}
    acc = start
    for b in sorted(bucket_counts):
        if bucket_counts[b]:
            offsets[b] = acc
            acc += bucket_counts[b]
    if not offsets:  # no rows to number — keep the schema
        return df.withColumn(seq_col, F.lit(None).cast("long"))
    mapping = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("seq_bucket").orderBy(*[F.col(c) for c in PRIORITY_COLS])
    return df.withColumn(
        seq_col,
        (mapping[F.col("seq_bucket")] + F.row_number().over(w) - 1).cast("long"),
    )


def dedup_within_round(df: DataFrame, key: str = "url_norm") -> DataFrame:
    """First-occurrence-wins on the priority order: the sequential
    equivalent is pop-skip of later in-pool duplicates via the
    visited-at-pop check (scraper.py:77-79; J2 allows frontier dupes,
    url_tracker.py:84-87).

    Implemented as min(struct(priority, rest)) — lexicographic struct
    ordering with the priority triple leading equals the window-rank
    rule (the triple is unique), and a groupBy-min gets map-side
    partial aggregation that a row_number window cannot."""
    rest = [c for c in df.columns if c != key and c not in PRIORITY_COLS]
    ordered = PRIORITY_COLS + rest
    agg = df.groupBy(key).agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("_r")
    )
    return agg.select(key, *[F.col(f"_r.{c}").alias(c) for c in ordered])


def expand_frontier(
    pages: DataFrame, base_norm: str, next_round: int
) -> DataFrame:
    """J4/O4: per-page outlinks → normalized, scope-filtered, per-parent
    distinct, sibling-ranked candidate frontier rows for the next round.

    The admission anti-join vs the seen set (J2) is applied by the
    caller (operators.seen.anti_join_seen) so it can use the round's
    refreshed bloom sidecar.

    Fast path: when the pages carry ``discovered_norm`` (the fetch
    kernel's pre-canonicalized, scope-filtered, per-parent
    distinct+sorted expansion set — operators/fetch.py), the per-parent
    set is already one row's array, so a single posexplode yields the
    sibling order with NO shuffle and NO canonicalize-UDF pass over the
    raw link stream. The groupBy(collect_set) path below serves pages
    without the column: committed pages snapshots, which a resume
    expands when the last round's expansion was deferred.
    """
    if "discovered_norm" in pages.columns:
        return (
            pages.filter(F.col("error").isNull())
            .filter(F.size("discovered_norm") > 0)
            .select(
                F.col("seq").alias("parent_seq"),
                F.posexplode("discovered_norm").alias("pos", "url_norm"),
            )
            .select(
                F.col("url_norm").alias("url"),
                F.lit(next_round).cast("int").alias("round_enqueued"),
                F.col("parent_seq"),
                (F.col("pos") + 1).cast("int").alias("sibling_rank"),
                F.col("url_norm"),
            )
        )
    links = (
        pages.filter(F.col("error").isNull())
        .filter(F.size("discovered_urls") > 0)
        .select(F.col("seq").alias("parent_seq"), F.explode("discovered_urls").alias("link"))
    )
    cand = links.withColumn("url_norm", canonicalize_udf(F.col("link"))).filter(
        F.col("url_norm").startswith(base_norm)  # scraper.py:102
    )
    # one shuffle instead of distinct + window: collect_set gives the
    # per-parent set semantics (scraper.py:99) with map-side partial
    # aggregation, sort_array + posexplode yields the sorted-expansion
    # sibling order (O4) without a second exchange
    grouped = cand.groupBy("parent_seq").agg(
        F.sort_array(F.collect_set("url_norm")).alias("urls")
    )
    return grouped.select(
        "parent_seq",
        F.posexplode("urls").alias("pos", "url_norm"),
    ).select(
        F.col("url_norm").alias("url"),
        F.lit(next_round).cast("int").alias("round_enqueued"),
        F.col("parent_seq"),
        (F.col("pos") + 1).cast("int").alias("sibling_rank"),
        F.col("url_norm"),
    )
