"""Fetch + extract: the engine's "HTTP GET" (S4-S7, F1-F3, F7, R2/R3).

Offline, the network is the synthetic ``web`` table and fetching is an
equi-join of the due frontier against it (SURVEY.md §2.3-J7); the
joined batch then flows through ONE ``mapInPandas`` pass that performs
everything the reference's ``process_page`` does
(content_processor.py:20-60):

- decode bytes utf-8/replace (:40-41)
- dynamic trigger: extracted text < 500 chars → selenium-model body +
  DOM links take precedence (:113-119, :55, :270-287)
- metadata / text / link extraction (F1-F3)
- PDF branch via the from-scratch Flate-capable extractor, stub
  fallback for marker-style bodies (F4)
- unsupported-type literal text (F7, :52)
- R2 fetch-failure rows: metadata=None, content=None, discovered=[]
  (:58-60 + scraper.py:107-113)
- R3 loop-error rows: content=<message> only (scraper.py:127-131)

One Arrow pass means body bytes cross the JVM↔Python boundary exactly
once per row; the output columns are small (text/meta/links), so the
shuffle that follows never carries raw bodies.

Live mode (bottom): the same mapInPandas shape over a pluggable
transport — one connection pool per executor task, timeout/retry/
backoff per the reference config, identical output schema. The
transport is injectable so the full success/retry/failure matrix is
unit-tested offline (tests/test_live_fetch.py); deployment swaps in
``requests_transport``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from ..functions.extract import (
    DYNAMIC_THRESHOLD,
    assemble_meta,
    extract_all,
    is_dynamic_content,
    pdf_info,
    pdf_text,
)
from ..functions.urlnorm import resolve_link
from ..functions.urlnorm import is_pdf_path
from ..operators.politeness import MAX_RETRIES, politeness_delay

SCRAPER_ID = 1

PAGES_SCHEMA = (
    "seq long, round int, url_norm string, host string, host_shard int, "
    "content_type string, text string, metadata map<string,string>, "
    "discovered_urls array<string>, error string, image_id string, "
    "attempts int, fetch_failed_first boolean"
)

# Crawl-internal variant: adds the pre-canonicalized expansion column
# (scope-filtered, normalized, per-parent distinct+sorted — exactly the
# per_parent set the reference builds at scraper.py:99-102). Computing
# it HERE, inside the per-core Python pass that already holds the
# links, lets the expansion posexplode it directly — no per-round
# canonicalize-UDF pass over the ~50x raw link stream and no
# per-parent collect_set shuffle. Snapshots still write the exact
# PAGES_SCHEMA (the column is dropped before the write), so on-disk
# layout, sinks, and resume are unchanged.
PAGES_SCHEMA_EXPAND = PAGES_SCHEMA + ", discovered_norm array<string>"

# Arrow layout of PAGES_SCHEMA — the one definition of the pages
# Arrow types: the kernel yields RecordBatches built column-wise with
# exactly these (mapInArrow validates the schema; map values are
# nullable: title may be None), and the driver fast round writes its
# snapshot files under it (plans/fastround.py). tests/test_fastround.py
# pins it to the PAGES_SCHEMA DDL.
PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("round", pa.int32()),
        ("url_norm", pa.string()),
        ("host", pa.string()),
        ("host_shard", pa.int32()),
        ("content_type", pa.string()),
        ("text", pa.string()),
        ("metadata", pa.map_(pa.string(), pa.string())),
        ("discovered_urls", pa.list_(pa.string())),
        ("error", pa.string()),
        ("image_id", pa.string()),
        ("attempts", pa.int32()),
        ("fetch_failed_first", pa.bool_()),
    ]
)
PAGES_ARROW_SCHEMA_EXPAND = PAGES_ARROW_SCHEMA.append(
    pa.field("discovered_norm", pa.list_(pa.string()))
)


def _pages_arrow_fields(expand: bool) -> list[tuple[str, pa.DataType]]:
    """(name, type) pairs of the kernel's output layout."""
    schema = PAGES_ARROW_SCHEMA_EXPAND if expand else PAGES_ARROW_SCHEMA
    return [(f.name, f.type) for f in schema]


def _isnull(v) -> bool:
    """None/NaN check that tolerates numpy arrays (Arrow batches hand
    list columns to Python as ndarrays, and a left-join miss turns
    int columns into float NaN)."""
    if v is None:
        return True
    if isinstance(v, float) and v != v:
        return True
    return False


def _extract_body(body_raw: bytes, memo: dict | None):
    """(text, raw-href set, body-derived meta) for one HTML body via the
    one-pass streaming extractor, memoized on the EXACT body bytes when
    a per-task memo is supplied: the bench/web corpora repeat template
    bodies (~1.25x), and identical bytes extract identically — the
    per-page halves (href resolution against the page URL, url/ct meta
    stamp) stay outside the memo."""
    if memo is not None:
        hit = memo.get(body_raw)
        if hit is not None:
            return hit
    out = extract_all(body_raw.decode("utf-8", errors="replace"))
    if memo is not None:
        if len(memo) >= 8192:
            memo.clear()
        memo[body_raw] = out
    return out


def process_row(row: dict, discovery: bool, extract_memo: dict | None = None) -> dict:
    """process_page semantics for one joined (frontier ⋈ web) row.
    Pure function — unit-testable without Spark."""
    out = {
        "seq": row["seq"],
        "round": row["round"],
        "url_norm": row["url_norm"],
        "host": row["host"],
        "host_shard": row.get("host_shard", 0),
        "content_type": None,
        "text": None,
        "metadata": None,
        "discovered_urls": None,
        "error": None,
        "image_id": None if _isnull(row.get("image_id")) else row.get("image_id"),
        "attempts": 1
        + (0 if _isnull(row.get("selenium_fail_attempts")) else int(row["selenium_fail_attempts"])),
        "fetch_failed_first": False,
    }
    norm = row["url_norm"]
    missing = _isnull(row.get("status"))

    if not missing and bool(row.get("raise_in_loop") or False):
        # R3 — generic loop exception (scraper.py:127-131)
        out["text"] = f"Scraper {SCRAPER_ID}: Error processing {norm}: synthetic loop error"
        out["error"] = "loop_error"
        return out

    fail_attempts = 0 if _isnull(row.get("fail_attempts")) else int(row["fail_attempts"])
    failed = missing or int(row["status"]) != 200 or fail_attempts >= MAX_RETRIES
    out["fetch_failed_first"] = bool(
        missing or int(row["status"]) != 200 or fail_attempts >= 1
    )
    if failed:
        # R2 — fetch failure after retries
        out["discovered_urls"] = []
        out["error"] = "fetch_error"
        return out

    ctype = row["content_type"]
    out["content_type"] = ctype
    if ctype.lower().startswith("text/html"):
        # ONE streaming pass per document (guide §4.2: the HTML parse
        # is the kernel's dominant cost): text/meta/links come out of a
        # single HTMLParser feed — no DOM build, no per-extraction tree
        # walks — memoized per task on exact body bytes (_extract_body).
        text, hrefs, body_meta = _extract_body(bytes(row["body"]), extract_memo)
        fetched_urls: list[str] = []
        if len(text) < DYNAMIC_THRESHOLD:  # S7 ≡ is_dynamic_content
            if _isnull(row.get("dynamic_body")):
                out["discovered_urls"] = []  # selenium failed → R2
                out["error"] = "fetch_error"
                out["fetch_failed_first"] = True
                out["content_type"] = None
                return out
            text, hrefs, body_meta = _extract_body(
                bytes(row["dynamic_body"]), extract_memo
            )
            dl = row.get("dynamic_links")
            fetched_urls = [] if _isnull(dl) else list(dl)
        out["metadata"] = assemble_meta(body_meta, ctype, norm)
        out["text"] = text
        discovered = (
            fetched_urls
            if fetched_urls
            else {resolve_link(norm, h) for h in hrefs}
        )
    elif ctype.lower() == "application/pdf" or is_pdf_path(norm):
        body_b = bytes(row["body"])
        # doc-info merge ↔ reference metadata.update(reader.metadata)
        # (content_processor.py:177-184)
        out["metadata"] = {
            "url": norm, "content_type": ctype, **pdf_info(body_b)
        }
        out["text"] = pdf_text(body_b)
        discovered = set()
    else:
        out["metadata"] = {"url": norm, "content_type": ctype}
        out["text"] = f"Scraper {SCRAPER_ID}: Unsupported content type: {ctype}"
        discovered = set()

    out["discovered_urls"] = sorted(discovered) if discovery else []
    return out


def make_fetch_extract(
    discovery: bool, scope_base: str | None = None, probe_skip_bc=None
):
    """mapInArrow function over the (due frontier ⋈ web) join.

    Accepts bodies either raw (``body``/``dynamic_body``) or
    zlib-compressed (``body_z``/``dynamic_body_z``, written by
    prepare_fetch_table): compressed bodies cross the cache scan and
    the Arrow boundary ~5x smaller — bus bytes are the scarce resource
    at high core counts — and inflate here inside the per-core Python
    worker before the identical extraction runs.

    ``scope_base``: when set, each row additionally carries
    ``discovered_norm`` — sorted({normalize(l)}) restricted to the
    scope prefix, the reference's per-parent expansion set
    (scraper.py:99-102) — and the output schema is PAGES_SCHEMA_EXPAND.
    Normalization is memoized per task: link batches repeat
    nav/boilerplate URLs heavily, so unique-then-map cuts urlparse
    calls 10-30x (same trick as functions.urlnorm.canonicalize_udf).

    ``probe_skip_bc``: broadcast frozenset of probe-skip URLs (the
    suspicious image/* set, P5/P6). When given, those URLs are dropped
    from ``discovered_norm`` right here — the links are already plain
    Python strings in this worker, so the admission-time probe filter
    costs set lookups instead of a separate UDF pass over the whole
    candidate stream. Dropping at discovery is output-identical to the
    pop-time skip: such a URL never gets a seq and never enters seen on
    either path (it is filtered before seq assignment in both).

    Arrow-native (guide §4.1/4.2): the function consumes and yields
    ``pyarrow.RecordBatch`` (callers use ``mapInArrow``). The previous
    pandas shape spent more task time converting the output rows
    (map<string,string> metadata, array<string> links) from pandas
    object columns back to Arrow than it spent parsing HTML — measured
    0.5 ms/page in-situ vs 0.22 ms/page of actual extraction.
    ``RecordBatch.to_pylist``/``pa.array`` move the same data through
    pyarrow's C paths, and left-join NULLs arrive as None instead of
    pandas NaN-coerced floats. The driver fast round calls the same
    function in-process on batches it joined itself
    (plans/fastround.py), so there is one extraction implementation."""
    import zlib

    from ..functions.urlnorm import normalize_url

    out_schema = (
        PAGES_ARROW_SCHEMA if scope_base is None else PAGES_ARROW_SCHEMA_EXPAND
    )

    def fn(batches):
        memo: dict[str, str] = {}
        extract_memo: dict = {}
        skip = probe_skip_bc.value if probe_skip_bc is not None else None

        def _norm(u: str) -> str:
            v = memo.get(u)
            if v is None:
                memo[u] = v = normalize_url(u)
            return v

        for batch in batches:
            rows_in = batch.to_pylist()
            for r in rows_in:
                for col in ("body", "dynamic_body"):
                    z = r.pop(f"{col}_z", "__absent__")
                    if z == "__absent__":
                        continue
                    r[col] = None if z is None else zlib.decompress(z)
            rows = [
                process_row(r, discovery, extract_memo) for r in rows_in
            ]
            if scope_base is not None:
                for o in rows:
                    links = o["discovered_urls"] or []
                    o["discovered_norm"] = sorted(
                        {
                            n
                            for n in (_norm(l) for l in links)
                            if n.startswith(scope_base)
                            and (skip is None or n not in skip)
                        }
                    )
            arrays = [
                pa.array([o[f.name] for o in rows], type=f.type)
                for f in out_schema
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return fn


# ---------------------------------------------------------------------------
# Live mode (real HTTP) — same schema, batched, transport-injectable.
# ---------------------------------------------------------------------------

REQUEST_TIMEOUT = 10.0   # reference config.py:25
LIVE_MAX_ATTEMPTS = 2    # raise_for_status + one retry (content_processor.py:62-133)
BACKOFF_BASE_S = 1.0     # sleep before the retry


class TransportError(Exception):
    """Connection-level failure (DNS, refused, timeout)."""


def requests_transport(timeout: float = REQUEST_TIMEOUT):
    """Default live transport: a requests.Session per executor task.
    Returns get(url) -> (status:int, content_type:str|None, body:bytes);
    raises TransportError on connection-level failures."""
    import requests

    session = requests.Session()

    def get(url: str) -> tuple[int, str | None, bytes]:
        try:
            r = session.get(url, timeout=timeout)
        except requests.RequestException as e:
            raise TransportError(str(e)) from e
        ctype = (r.headers.get("Content-Type") or "").split(";")[0].strip() or None
        return r.status_code, ctype, r.content

    return get


def fetch_live_row(
    row: dict, discovery: bool, get, sleep=None
) -> dict:
    """One frontier row fetched over the injected transport, then fed
    through the SAME extraction as the offline join (process_row) by
    synthesizing the equivalent web-row fields. Retry/backoff per the
    reference: up to LIVE_MAX_ATTEMPTS total attempts, backoff between
    (content_processor.py:62-133); dynamic pages need a browser, which
    live batch mode does not carry — they fail like a Selenium miss.
    """
    sleep = sleep or (lambda s: None)
    status: int | None = None
    ctype: str | None = None
    body: bytes = b""
    attempts = 0
    first_failed = False
    for attempt in range(LIVE_MAX_ATTEMPTS):
        attempts += 1
        try:
            status, ctype, body = get(row["url_norm"])
        except TransportError:
            status = None
        if status == 200:
            break
        first_failed = first_failed or attempt == 0
        if attempt + 1 < LIVE_MAX_ATTEMPTS:
            sleep(BACKOFF_BASE_S * (attempt + 1))

    synthetic = {
        **row,
        "status": status,
        "content_type": ctype,
        "body": body,
        "fail_attempts": 0 if status == 200 else MAX_RETRIES,
        "selenium_fail_attempts": 0,
        "raise_in_loop": False,
        "dynamic_body": None,   # no browser in live batch mode
        "dynamic_links": None,
        "image_id": None,
    }
    if (
        status == 200
        and (ctype or "").lower().startswith("text/html")
        and is_dynamic_content(body.decode("utf-8", errors="replace"))
    ):
        # S7 trigger in live mode: the reference hands such a page to a
        # real browser (selenium_processor.py:120-211 — scroll, "Load
        # More", DOM link harvest). No browser exists in this
        # environment, so instead of failing the row (offline selenium-
        # miss semantics) or silently under-extracting, process the
        # static half and SAY SO: feed the static body down the dynamic
        # branch (static text + static DOM links) and flag the row.
        synthetic["dynamic_body"] = body
        out = process_row(synthetic, discovery)
        if out["metadata"] is not None:
            out["metadata"]["dynamic_suspected"] = "true"
    else:
        out = process_row(synthetic, discovery)
    out["attempts"] = attempts
    out["fetch_failed_first"] = first_failed
    return out


def make_live_fetch(
    discovery: bool,
    transport_factory=requests_transport,
    sleep=None,
    politeness_seed: int | None = None,
):
    """Arrow-batched live fetcher over the due frontier (no web join):
    each executor task builds ONE transport (connection pool) and GETs
    its batch sequentially. Output schema and semantics are identical
    to the offline fixture join.

    Per-host politeness (T1, reference utils.py:36-51): with
    ``politeness_seed`` set, every request is preceded by a seeded
    U(1,5)s sleep drawn from the SAME per-host delay stream the batch
    scheduler simulates (operators.politeness.politeness_delay) — the
    draw index is the task-local per-host attempt counter, so a
    same-host run within one batch is rate-shaped even though the
    upstream scheduler only shapes across rounds. ``sleep`` stays
    injectable so tests assert the exact sleep sequence offline."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        get = transport_factory()
        host_ix: dict[str, int] = {}

        def one(r: dict) -> dict:
            if politeness_seed is not None:
                h = r.get("host") or ""
                ix = host_ix.get(h, 0)
                host_ix[h] = ix + 1
                do_sleep(politeness_delay(politeness_seed, h, ix))
            return fetch_live_row(r, discovery, get, sleep)

        for pdf in batches:
            rows = [one(r) for r in pdf.to_dict("records")]
            yield pd.DataFrame(
                rows,
                columns=[
                    "seq", "round", "url_norm", "host", "host_shard",
                    "content_type", "text", "metadata", "discovered_urls",
                    "error", "image_id", "attempts", "fetch_failed_first",
                ],
            )

    return fn
