"""In-process microbench of the fetch kernel on corpus Arrow batches.

Runs the real ``make_fetch_extract`` kernel over batches shaped like
the fetch job's input (frontier columns plus the web table's columns,
bodies zlib-compressed as ``prepare_fetch_table`` stores them), and
separately runs the same steps one at a time with a clock around each:

    to_pylist -> inflate -> process_row (of which extract_all)
              -> normalize (discovered_norm) -> arrow_build

Passes alternate, and each time is the minimum over the passes: noise
from other processes only ever adds time. The step times must add up
to the kernel's own time within ``PARTS_TOL_FRAC``; both sums are
reported.
"""

from __future__ import annotations

import time
import zlib

PARTS_TOL_FRAC = 0.15
SAMPLE_PAGES = 1024  # the first pages of the crawl order
BATCH_ROWS = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
PART_NAMES = (
    "to_pylist",
    "inflate",
    "extract_all",
    "process_row_rest",
    "normalize",
    "arrow_build",
)


def load_batches(web_parquet: str, urls: list[str]) -> list:
    """Arrow batches of the web rows for ``urls``, in that order, with
    the frontier columns the fetch join adds (seq, round, host_shard)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    web = pq.read_table(web_parquet)
    web = web.filter(pc.is_in(web["url_norm"], value_set=pa.array(urls)))
    pos = {u: i for i, u in enumerate(urls)}
    order = sorted(range(web.num_rows), key=lambda i: pos[web["url_norm"][i].as_py()])
    web = web.take(pa.array(order))
    n = web.num_rows
    web = web.append_column("seq", pa.array(range(n), type=pa.int64()))
    web = web.append_column("round", pa.array([1] * n, type=pa.int32()))
    web = web.append_column("host_shard", pa.array([0] * n, type=pa.int32()))
    return web.to_batches(max_chunksize=BATCH_ROWS)


def _kernel_pass(batches, scope_base: str) -> float:
    from wormpy_spark.operators.fetch import make_fetch_extract

    fn = make_fetch_extract(discovery=True, scope_base=scope_base)
    t = time.perf_counter()
    for _ in fn(iter(batches)):
        pass
    return time.perf_counter() - t


def _parts_pass(batches, scope_base: str) -> tuple[dict[str, float], int, int]:
    """Step times of one kernel-equivalent pass, plus (bodies, extract
    calls) for the memo hit ratio."""
    import pyarrow as pa

    import wormpy_spark.operators.fetch as fetch_mod
    from wormpy_spark.functions.urlnorm import normalize_url

    fields = fetch_mod._pages_arrow_fields(expand=True)
    out_schema = pa.schema(fields)
    t: dict[str, float] = dict.fromkeys(PART_NAMES, 0.0)
    counts = {"bodies": 0, "extract_calls": 0}
    extract_all = fetch_mod.extract_all
    extract_body = fetch_mod._extract_body

    def timed_extract_all(html):
        counts["extract_calls"] += 1
        s = time.perf_counter()
        try:
            return extract_all(html)
        finally:
            t["extract_all"] += time.perf_counter() - s

    def counted_extract_body(body_raw, memo):
        counts["bodies"] += 1
        return extract_body(body_raw, memo)

    fetch_mod.extract_all = timed_extract_all
    fetch_mod._extract_body = counted_extract_body
    try:
        norm_memo: dict[str, str] = {}
        extract_memo: dict = {}
        for batch in batches:
            s = time.perf_counter()
            rows_in = batch.to_pylist()
            t["to_pylist"] += time.perf_counter() - s

            s = time.perf_counter()
            for r in rows_in:
                for col in ("body", "dynamic_body"):
                    z = r.pop(f"{col}_z", None)
                    r[col] = None if z is None else zlib.decompress(z)
            t["inflate"] += time.perf_counter() - s

            s = time.perf_counter()
            rows = [fetch_mod.process_row(r, True, extract_memo) for r in rows_in]
            t["process_row_rest"] += time.perf_counter() - s

            s = time.perf_counter()
            for o in rows:
                norms = []
                for link in o["discovered_urls"] or []:
                    v = norm_memo.get(link)
                    if v is None:
                        norm_memo[link] = v = normalize_url(link)
                    norms.append(v)
                o["discovered_norm"] = sorted({n for n in norms if n.startswith(scope_base)})
            t["normalize"] += time.perf_counter() - s

            s = time.perf_counter()
            arrays = [pa.array([o[name] for o in rows], type=typ) for name, typ in fields]
            pa.RecordBatch.from_arrays(arrays, schema=out_schema)
            t["arrow_build"] += time.perf_counter() - s
    finally:
        fetch_mod.extract_all = extract_all
        fetch_mod._extract_body = extract_body
    t["process_row_rest"] -= t["extract_all"]
    return t, counts["bodies"], counts["extract_calls"]


def microbench(batches, scope_base: str, reps: int = 10) -> dict:
    """Per-page milliseconds of the kernel and of each step (minimum of
    ``reps`` alternating passes), the memo hit ratio, and whether the
    steps add up to the kernel."""
    pages = sum(b.num_rows for b in batches)
    kernel_s: list[float] = []
    parts_s: dict[str, list[float]] = {k: [] for k in PART_NAMES}
    bodies = calls = 0
    _kernel_pass(batches, scope_base)  # warm the interpreter's caches
    for _ in range(reps):
        kernel_s.append(_kernel_pass(batches, scope_base))
        t, bodies, calls = _parts_pass(batches, scope_base)
        for k, v in t.items():
            parts_s[k].append(v)
    ms = 1000.0 / pages
    kernel_ms = min(kernel_s) * ms
    parts_ms = {k: min(v) * ms for k, v in parts_s.items()}
    parts_sum = sum(parts_ms.values())
    return {
        "pages": pages,
        "kernel_ms_per_page": kernel_ms,
        "parts_ms_per_page": parts_ms,
        "parts_sum_ms_per_page": parts_sum,
        "memo_hit_ratio": (bodies - calls) / bodies if bodies else 0.0,
        "adds_up": abs(parts_sum - kernel_ms) <= PARTS_TOL_FRAC * kernel_ms,
    }
