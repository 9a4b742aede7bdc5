"""Driver fast path for tiny crawl rounds (T4 head/tail optimization).

A BSP crawl's first rounds are tiny (the seed round fetches 1 URL, the
second a few hundred) and so are its throttled or tail rounds, yet a
Spark round pays the same fixed floor as an 80k-URL one: several
blocking jobs of scheduling, Python-worker and parquet-commit latency.
When the whole frontier fits in the driver's hand
(≤ CrawlConfig.fast_round_max rows), this module runs the ENTIRE round
on the driver, with ONE Spark job that starts no Python worker:

1. the web lookup: the literal ``isin`` filter on the cached web table
   (batch-pruned, see prepare_fetch_table) collected with
   ``DataFrame.toArrow()`` — a JVM-only job;
2. a driver-side left join of the due keys against those rows
   (``Table.take``): a missing key gets a null index, so it reaches
   the kernel as an all-null web row, exactly as a Spark left join
   delivers it;
3. the same ``make_fetch_extract`` Arrow kernel the Spark rounds run,
   called in-process on the joined batches;
4. the pages stay one Arrow table: written with ``pq.write_table`` and
   read column-wise by the driver expansion.

Why the kernel does not run in a Spark job here: any job that crosses
into Python pays a floor of ~0.3 s on a 4-core box at local[4], even
with a warm, reused worker (the worker waits for its task header
inside Spark), against ~0.01 s for a JVM-only collect of the same
rows. The kernel costs ~0.3-0.5 ms per page, so serial in-process
extraction wins below the crossover that ``fast_round_max`` records.

Parity obligations (tested: tests/test_golden.py runs entirely through
this path with default config, and test_properties.py asserts
fast-vs-Spark equality including a mid-crawl transition):
- identical admission semantics: a fast round applies, at pop time,
  the chain a Spark frontier went through when it was admitted (scope
  → seen anti-join → in-round first-occurrence dedup → probe skip →
  robots → per-host rank, deferring rank > k) and then numbers the
  due rows in priority order up to the budget — the same pure
  predicates the Spark admission's column expressions mirror;
- a handover frontier (one that outgrows ``fast_round_max``) leaves
  stamped as Spark admission would stamp it (``stamp_frontier``), so
  the first Spark round consumes it with no job before its fetch;
- identical pages rows: the very same ``make_fetch_extract`` Arrow
  kernel produces them, from the same joined columns;
- bit-identical ``host_shard``: pure-Python XXH64 (functions.xxhash)
  matches Spark's ``xxhash64``, so snapshots written here stay
  compatible with the sharded bloom sidecar built later;
- snapshot-compatible parquet: every file is written under
  PAGES_ARROW_SCHEMA / FRONTIER_ARROW_SCHEMA (checked at write time,
  and pinned to the PAGES_SCHEMA / FRONTIER_SCHEMA_V2 DDL by
  tests/test_fastround.py), so Spark unions fast-round and Spark-round
  snapshot files transparently (resume, seen derivation, final
  assembly are unchanged).

At 10^10-URL scale this is the standard driver-side tail/head
optimization: rounds 0-1 of ANY crawl are tiny regardless of corpus
size, and a 1000-executor cluster pays scheduler latency per job just
like local mode does.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ..functions.urlnorm import get_domain, is_suspicious_url
from ..functions.xxhash import pmod, xxhash64_str
from ..operators.fetch import (
    PAGES_ARROW_SCHEMA,
    PAGES_ARROW_SCHEMA_EXPAND,
    make_fetch_extract,
)
from ..operators.frontier import seq_bucket

FRONTIER_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("round_enqueued", pa.int32()),
        ("parent_seq", pa.int64()),
        ("sibling_rank", pa.int32()),
        ("url_norm", pa.string()),
        # FRONTIER_SCHEMA_V2 admission-derived columns (see
        # operators/frontier.py) — python-side xxhash64_str is
        # parity-tested against F.xxhash64
        ("host", pa.string()),
        ("url_hash", pa.int64()),
        ("host_shard", pa.int32()),
    ]
)
# the Spark-round frontier layouts (FRONTIER_SCHEMA_BUCKETED /
# FRONTIER_SCHEMA_RANKED in operators/frontier.py)
FRONTIER_ARROW_SCHEMA_BUCKETED = FRONTIER_ARROW_SCHEMA.append(
    pa.field("seq_bucket", pa.int32())
)
FRONTIER_ARROW_SCHEMA_RANKED = FRONTIER_ARROW_SCHEMA.append(
    pa.field("host_rank", pa.int32())
).append(pa.field("seq_bucket", pa.int32()))


def _write_checked(path: str, table: pa.Table, schema: pa.Schema) -> None:
    """Write one snapshot file, refusing a table whose schema drifted
    from the snapshot contract: the Spark readers use explicit schemas
    and would silently null a renamed or retyped column."""
    if not table.schema.equals(schema):
        raise ValueError(
            f"snapshot schema drift under {path}:\n{table.schema}\n"
            f"expected:\n{schema}"
        )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_pages_parquet(path: str, pages: pa.Table) -> None:
    _write_checked(path, pages, PAGES_ARROW_SCHEMA)


def write_frontier_parquet(
    path: str, rows: list[tuple], n_host_shards: int = 64,
    seq_buckets: list[int] | None = None,
    host_ranks: list[int] | None = None,
) -> None:
    """rows: (url, round_enqueued, parent_seq, sibling_rank, url_norm);
    the v2 derived columns (host, url_hash, host_shard) are computed
    here so the Spark loop never re-derives them. ``seq_buckets`` and
    ``host_ranks`` (parallel to rows, from ``stamp_frontier``) add the
    columns a Spark round consumes (see plans/crawl.py)."""
    hosts = [get_domain(r[4]) for r in rows]
    table = pa.table(
        {
            "url": pa.array([r[0] for r in rows], pa.string()),
            "round_enqueued": pa.array([r[1] for r in rows], pa.int32()),
            "parent_seq": pa.array([r[2] for r in rows], pa.int64()),
            "sibling_rank": pa.array([r[3] for r in rows], pa.int32()),
            "url_norm": pa.array([r[4] for r in rows], pa.string()),
            "host": pa.array(hosts, pa.string()),
            "url_hash": pa.array([xxhash64_str(r[4]) for r in rows], pa.int64()),
            "host_shard": pa.array(
                [pmod(xxhash64_str(h), n_host_shards) for h in hosts], pa.int32()
            ),
        }
    )
    schema = FRONTIER_ARROW_SCHEMA
    if host_ranks is not None:
        table = table.append_column("host_rank", pa.array(host_ranks, pa.int32()))
        schema = FRONTIER_ARROW_SCHEMA_RANKED
    if seq_buckets is not None:
        table = table.append_column("seq_bucket", pa.array(seq_buckets, pa.int32()))
        if host_ranks is None:
            schema = FRONTIER_ARROW_SCHEMA_BUCKETED
    _write_checked(path, table, schema)


def stamp_frontier(
    rows: list[tuple], lo: int, span: int, n_buckets: int, cap: int | None
) -> tuple[list[tuple], list[int], list[int] | None, dict[int, int], int]:
    """What Spark admission stamps on a frontier, computed on the
    driver for a fast round's ``frontier_next``: each row's seq bucket
    (``[lo, lo + span)`` is the seq range of the round that discovered
    it) and, under a per-host ``cap``, its rank within its host in
    priority order. The rows a capped fast round deferred can repeat a
    URL its expansion found again, so under a cap the rows are first
    deduplicated (first by priority wins, as ``dedup_within_round``).

    Returns (rows, buckets, host ranks or None, due rows per bucket,
    rows deferred by the cap)."""
    ranks = None
    if cap is not None:
        best: dict[str, tuple] = {}
        for row in sorted(rows, key=lambda t: t[1:4]):
            best.setdefault(row[4], row)
        rows = list(best.values())  # priority order
        per_host: dict[str, int] = {}
        ranks = []
        for row in rows:
            host = get_domain(row[4])
            per_host[host] = per_host.get(host, 0) + 1
            ranks.append(per_host[host])
    buckets = [seq_bucket(row[2], lo, span, n_buckets) for row in rows]
    counts: dict[int, int] = {}
    for i, b in enumerate(buckets):
        if ranks is None or ranks[i] <= cap:
            counts[b] = counts.get(b, 0) + 1
    return rows, buckets, ranks, counts, len(rows) - sum(counts.values())


@dataclass
class FastRound:
    pages: pa.Table  # PAGES_ARROW_SCHEMA, in seq order
    frontier_next: list[tuple]  # FRONTIER_SCHEMA column order
    n_eligible: int
    due_count: int
    n_errors: int
    seq_s: float = 0.0
    fetch_s: float = 0.0
    expand_s: float = 0.0


def _lookup_join(web_fetch, keys: list[str]) -> pa.Table:
    """The web rows of ``keys``, one per key in key order, without the
    join key: the round's one Spark job (a JVM-only ``toArrow`` collect
    of the literal IN filter), then a driver-side left join.

    A literal predicate instead of a broadcast semi-join: the due keys
    are already driver-resident (≤ fast_round_max) and a literal IN is
    eligible for the cache's batch-statistics pruning — with the
    prep-sorted cache (prepare_fetch_table) the scan skips every
    1024-row batch whose url_norm range contains no key, instead of
    decoding the whole cached web table to keep a few hundred rows."""
    found = web_fetch.filter(F.col("url_norm").isin(keys)).toArrow()
    index: dict[str, int] = {}
    for i, key in enumerate(found.column("url_norm").to_pylist()):
        if key in index:
            # a Spark left join would emit one page per matching row;
            # this join keeps one per key — refuse instead of diverging
            raise ValueError(f"the web table has more than one row for {key!r}")
        index[key] = i
    # a missing key takes a null index → an all-null web row
    return found.drop_columns("url_norm").take(
        pa.array([index.get(k) for k in keys], pa.int64())
    )


def run_fast_round(
    r: int,
    frontier_rows: list[tuple],
    seen_set: set[str],
    processed: int,
    budget: int,
    base: str,
    config,
    web_fetch,
    probe_skip_bc,
    robots_cache,
) -> FastRound:
    """One crawl round over a driver-resident frontier.

    ``frontier_rows``: (url, round_enqueued, parent_seq, sibling_rank,
    url_norm) tuples. Mutates ``seen_set`` with this round's processed
    keys (J3), exactly as the Spark path's seen derivation would.
    ``probe_skip_bc``: the broadcast probe-skip set (P5/P6).
    """
    t0 = time.time()
    probe_skip = probe_skip_bc.value
    # P4 scope + J1 seen anti-join, then J2 first-occurrence-by-priority
    work = sorted(
        (renq, pseq, srank, url, un)
        for (url, renq, pseq, srank, un) in frontier_rows
        if un.startswith(base) and un not in seen_set
    )
    in_round: set[str] = set()
    eligible: list[tuple] = []
    for row in work:
        un = row[4]
        if un in in_round:
            continue
        in_round.add(un)
        # P5/P6: suspicious URLs consult the probe; image/* skipped
        if is_suspicious_url(un) and un in probe_skip:
            continue
        if robots_cache is not None and not robots_cache.allows(un):
            continue
        eligible.append(row)

    deferred: list[tuple] = []
    if config.max_per_host_per_round is not None:
        counts: dict[str, int] = {}
        kept = []
        for row in eligible:  # priority order ⇒ rank within host
            host = get_domain(row[4])
            c = counts.get(host, 0) + 1
            counts[host] = c
            (kept if c <= config.max_per_host_per_round else deferred).append(row)
        eligible = kept

    n_eligible = len(eligible)
    t_seq = time.time()
    if n_eligible == 0:
        return FastRound(
            PAGES_ARROW_SCHEMA.empty_table(), [], 0, 0, 0,
            seq_s=round(t_seq - t0, 2),
        )

    due = eligible[: max(budget - processed, 0)]
    due_count = len(due)

    # S4/J7 + F1-F3: web lookup + left join, then the Arrow extraction
    # kernel in-process over the joined batch. With scope_base and the
    # probe set, the kernel also emits each page's canonical expansion
    # set (``discovered_norm``) for the driver expansion below.
    keys = [row[4] for row in due]
    web_rows = _lookup_join(web_fetch, keys)
    hosts = [get_domain(k) for k in keys]
    due_cols = {
        "url_norm": pa.array(keys, pa.string()),
        "seq": pa.array(range(processed, processed + due_count), pa.int64()),
        "round": pa.array([r] * due_count, pa.int32()),
        "host": pa.array(hosts, pa.string()),
        "host_shard": pa.array(
            [pmod(xxhash64_str(h), config.n_host_shards) for h in hosts],
            pa.int32(),
        ),
    }
    joined = pa.Table.from_arrays(
        list(due_cols.values()) + web_rows.columns,
        names=list(due_cols) + web_rows.column_names,
    )
    kernel = make_fetch_extract(
        config.discovery, scope_base=base, probe_skip_bc=probe_skip_bc
    )
    pages = pa.Table.from_batches(
        kernel(joined.to_batches()), schema=PAGES_ARROW_SCHEMA_EXPAND
    )
    n_errors = due_count - pages.column("error").null_count
    t_fetch = time.time()

    # J3: mark processed (error rows included) BEFORE expansion admission
    seen_set.update(keys)

    # J4/O4 expansion → J2 global first-occurrence → J1 admission.
    # The probe-skip (P5/P6) and robots filters apply at ADMISSION,
    # mirroring the Spark kernel's discovered_norm filter: a dropped
    # URL would be filtered before seq assignment at pop time anyway,
    # so pages/order/seen are identical — and the pop-time checks
    # above stay as identities for rows admitted here.
    frontier_next: list[tuple] = list(deferred)
    if config.discovery:
        best: dict[str, tuple] = {}
        # kernel-computed per-parent sets: already normalized,
        # scope-filtered, probe-skipped, distinct and sorted; empty
        # for error rows
        for seq, per_parent in zip(
            pages.column("seq").to_pylist(),
            pages.column("discovered_norm").to_pylist(),
        ):
            for pos, nn in enumerate(per_parent):
                cand = (r + 1, seq, pos + 1, nn, nn)
                prev = best.get(nn)
                if prev is None or cand[:3] < prev[:3]:
                    best[nn] = cand
        admitted = sorted(
            c
            for un, c in best.items()
            if un not in seen_set
            and (robots_cache is None or robots_cache.allows(un))
        )
        frontier_next += admitted
    # back to FRONTIER_SCHEMA column order
    frontier_next = [
        (url, renq, pseq, srank, un)
        for (renq, pseq, srank, url, un) in frontier_next
    ]
    t_expand = time.time()

    return FastRound(
        pages=pages.drop_columns("discovered_norm"),
        frontier_next=frontier_next,
        n_eligible=n_eligible,
        due_count=due_count,
        n_errors=n_errors,
        seq_s=round(t_seq - t0, 2),
        fetch_s=round(t_fetch - t_seq, 2),
        expand_s=round(t_expand - t_fetch, 2),
    )
