"""query_sweep: the 35 ``bench.HEADLINE`` queries, closed loop, one client.

Not listed in BENCHMARK.json: it reads the TPC-H-style tables of
TESTDATA.md, which a checkout does not hold (pass their directory as
``--sf-dir``), and its first pass alone outlasts a run's share of the
benchmark's time budget. Run it by hand:

    python3 perfbench/run.py --workload query_sweep --sf-dir <sf0.1 dir> \\
        --seed 1 --seconds 60 --trace 1

Set-up runs every query once (the warm pass: JVM code generation and
Python workers) and asks DuckDB for each query's oracle row count. A
sweep then materializes every query once, each after
``spark.catalog.clearCache()``, so a query never reads blocks an
earlier call persisted: the time measured is what a caller pays. What
each query leaves cached is recorded, which shows queries that persist
without unpersisting. Every materialization's row count must equal the
oracle's.
"""

from __future__ import annotations

import statistics
import time

from perfbench.box import peak_rss_mb, percentile, summarize

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def oracle_row_counts(sf_dir: str, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle SQL over the same tables."""
    import duckdb

    from wormpy_spark.plans.registry import full_registry

    reg = full_registry()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: con.sql(f"SELECT count(*) FROM ({reg[n][1]})").fetchone()[0] for n in names}
    finally:
        con.close()


class QueryBench:
    def __init__(self, spark, sf_dir: str):
        from bench import HEADLINE
        from wormpy_spark.plans.registry import full_registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.names = list(HEADLINE)
        reg = full_registry()
        self.fns = {n: reg[n][0] for n in self.names}
        self.expected: dict[str, int] = {}
        self.failures: list[str] = []

    def sweep(self) -> dict[str, tuple[float, int, int]]:
        """name -> (wall, RDDs left cached, bytes left cached)."""
        sc = self.spark.sparkContext
        out = {}
        for name in self.names:
            self.spark.catalog.clearCache()
            sc.setJobDescription(f"query {name}")
            t0 = time.time()
            rows = self.fns[name](self.spark, self.sf_dir).count()
            wall = time.time() - t0
            infos = sc._jsc.sc().getRDDStorageInfo()
            out[name] = (wall, len(infos), sum(i.memSize() + i.diskSize() for i in infos))
            if self.expected and rows != self.expected[name]:
                self.failures.append(f"{name}: {rows} rows, oracle {self.expected[name]}")
        self.spark.catalog.clearCache()
        return out

    def loop(self, seconds: float) -> list[dict]:
        sweeps = []
        t_start = time.time()
        while not sweeps or time.time() - t_start < seconds:
            sweeps.append(self.sweep())
        return sweeps


def metrics(sweeps: list[dict], setup_s: float, jvm_pid: int | None, trace: bool):
    """(metrics, detail): end-to-end, or per-layer when ``trace``."""
    sweep_walls = [sum(w for w, _n, _b in s.values()) for s in sweeps]
    query_walls = [w for s in sweeps for w, _n, _b in s.values()]
    detail = {
        "sweep_wall_s": summarize(sweep_walls),
        "query_wall_s": summarize(query_walls),
        "sweeps": len(sweeps),
    }
    if not trace:
        return {
            "setup_s": (setup_s, "s"),
            "sweep_wall_s": (statistics.median(sweep_walls), "s"),
            "query_wall_p50_s": (statistics.median(query_walls), "s"),
            "query_wall_p90_s": (percentile(query_walls, 90), "s"),
            "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
        }, detail
    names = list(sweeps[0])
    out = {
        f"plans.registry.{n}.wall_s": (statistics.median(s[n][0] for s in sweeps), "s")
        for n in names
    }
    out["session.cached_rdds_after"] = (
        statistics.median(sum(s[n][1] for n in names) for s in sweeps), "count")
    out["session.cached_bytes_after"] = (
        statistics.median(sum(s[n][2] for n in names) for s in sweeps), "B")
    detail["left_cached_bytes"] = {n: sweeps[-1][n][2] for n in names if sweeps[-1][n][2]}
    return out, detail
