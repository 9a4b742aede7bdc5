#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Every setting comes from the
arguments (workload defaults in perfbench/crawl.py); no environment
hook is read. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run measures untraced for half the seconds, then
restarts the Spark context with the event log and spans on, measures
for the other half, and reports the per-layer metrics (including the
tracing overhead). The line
before the result is a JSON detail record: box profile, settings,
medians with tail percentiles and sample counts, failures.

Exit codes: 0 when every operation matched its oracle, 1 when one
did not (the result line still prints), 2 when the run could not
produce a result.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import traceback

T_PROC = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.box import box_profile, cpu_times, descendants, steal_frac  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    nproc = len(os.sched_getaffinity(0))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default=f"local[{nproc}]")
    # a 2g ceiling is several times what the crawl workloads keep live;
    # with 4g the JVM's heap grew by 0.5 GB in some runs and not in
    # others, and peak_rss_mb with it
    ap.add_argument("--heap", default="2g", help="spark.driver.memory")
    ap.add_argument("--pages-per-host", type=int, help="override the workload's corpus size")
    ap.add_argument("--max-per-host", type=int, help="override the workload's per-host cap k")
    ap.add_argument("--sf-dir", help="query_sweep only: directory of the TPC-H-style tables")
    args = ap.parse_args(argv)
    # two shuffle partitions per core of the master, as in the tests
    cores = re.fullmatch(r"local\[(\d+)\]", args.master)
    args.shuffle_partitions = 2 * (int(cores.group(1)) if cores else nproc)
    return args


def start_spark(args, work: str, eventlog_dir: str | None = None):
    from wormpy_spark.session import get_spark

    conf = {
        "spark.driver.memory": args.heap,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if eventlog_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    """The JVM child this process launched (pyspark keeps the handle)."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def shutdown_jvm(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have
    exited. The gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = jvm_process(spark)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in workers):
        if time.time() > deadline:
            for pid in workers:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.1)


def run_query_workload(args, work: str) -> tuple[dict, dict, list]:
    from perfbench import queries

    spark = start_spark(args, work)
    try:
        qb = queries.QueryBench(spark, args.sf_dir)
        qb.expected = queries.oracle_row_counts(args.sf_dir, qb.names)
        warm = qb.sweep()
        setup_s = time.time() - T_PROC
        cpu0 = cpu_times()
        sweeps = qb.loop(args.seconds)
        proc = jvm_process(spark)
        metrics, detail = queries.metrics(
            sweeps, setup_s, None if proc is None else proc.pid, bool(args.trace)
        )
        detail.update(
            sf_dir=args.sf_dir,
            warm_pass_s=sum(w for w, _n, _b in warm.values()),
            cpu_steal_frac=steal_frac(cpu0, cpu_times()),
        )
        attempted = len(qb.names) * (len(sweeps) + 1)
        outcomes = [[f] for f in qb.failures]
        return metrics, detail, outcomes + [[]] * (attempted - len(outcomes))
    finally:
        shutdown_jvm(spark)


def run_crawl_workload(args, work: str) -> tuple[dict, dict, list]:
    import dataclasses

    from perfbench import crawl
    from perfbench.kernel import SAMPLE_PAGES, load_batches, microbench
    from perfbench.trace import Spans, read_event_log
    from wormpy_spark.functions.urlnorm import normalize_url

    wl = crawl.WORKLOADS[args.workload]
    if args.pages_per_host is not None:
        wl = dataclasses.replace(wl, corpus={**wl.corpus, "pages_per_host": args.pages_per_host})
    if args.max_per_host is not None:
        wl = dataclasses.replace(wl, max_per_host_per_round=args.max_per_host)
    corpus_dir = os.path.join(work, "corpus")
    os.makedirs(corpus_dir)
    phases = {}
    child = crawl.InputsChild(wl.corpus, args.seed, corpus_dir)
    spark = None
    try:
        spark = start_spark(args, work)
        phases["spark_s"] = time.time() - T_PROC
        bench = crawl.CrawlBench(wl, spark, work)
        inputs = child.get("written")
        phases["inputs_s"] = time.time() - T_PROC
        bench.load()
        phases["prepared_s"] = time.time() - T_PROC
        phases["warmup_wall_s"] = bench.warm_up()
        bench.oracle = child.get("oracle")
        child.close()
        setup_s = phases["setup_s"] = time.time() - T_PROC

        # with --trace 1 the untraced and the traced phase share the
        # run's seconds and time two crawls each: the per-layer metrics
        # have no bound, and the run stays short
        phase_s, min_ops = (args.seconds / 2, 2) if args.trace else (args.seconds, crawl.MIN_OPS)
        cpu0 = cpu_times()
        ops = bench.loop(phase_s, min_ops=min_ops)
        proc = jvm_process(spark)
        e2e, detail = crawl.end_to_end(ops, setup_s, None if proc is None else proc.pid)
        detail.update(
            settings=dataclasses.asdict(wl),
            inputs=inputs,
            setup_phases=phases,
            oracle_s=bench.oracle["oracle_s"],
            oracle_pages=len(bench.oracle["order"]),
            cpu_steal_frac=steal_frac(cpu0, cpu_times()),
        )
        if not args.trace:
            return e2e, detail, [op.failures for op in ops]

        # traced phase: a fresh context with the event log on (the JVM
        # and its compiled code stay), spans around the engine calls
        spark.stop()
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        bench.spark = spark = start_spark(args, work, eventlog_dir=evdir)
        bench.load()
        bench.warm_up()
        spans = Spans()
        spans.install()
        try:
            traced = bench.loop(phase_s, spans=spans, min_ops=min_ops)
        finally:
            spans.uninstall()
        spark.stop()
        (log_path,) = glob.glob(os.path.join(evdir, "*"))
        log = read_event_log(log_path)
        batches = load_batches(
            os.path.join(corpus_dir, "web.parquet"), bench.oracle["order"][:SAMPLE_PAGES]
        )
        kernel = microbench(batches, normalize_url(crawl.BASE_URL))
        if not kernel["adds_up"]:
            traced[0].failures.append(
                f"kernel parts {kernel['parts_sum_ms_per_page']:.4f} ms/page do not add "
                f"up to the kernel's {kernel['kernel_ms_per_page']:.4f} ms/page"
            )
        metrics = crawl.per_layer(traced, ops, spans, log, kernel)
        detail.update(kernel=kernel, end_to_end={k: v for k, (v, _u) in e2e.items()})
        _write_spans(args, spans)
        return metrics, detail, [op.failures for op in ops + traced]
    finally:
        child.close()
        if spark is not None:
            shutdown_jvm(spark)


def _write_spans(args, spans) -> None:
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(spans.to_json(), f)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # the input generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import wormpy_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import crawl

    if args.workload == "query_sweep":
        if not args.sf_dir:
            print("perfbench: query_sweep needs --sf-dir", file=sys.stderr)
            return 2
        run = run_query_workload
    elif args.workload in crawl.WORKLOADS:
        run = run_crawl_workload
    else:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine from this checkout; temporary
    # files of the driver, the workers and the JVM stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        metrics, detail, outcomes = run(args, work)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = [f for fs in outcomes for f in fs]
    failed = sum(1 for fs in outcomes if fs)
    for f in failures:
        print(f"perfbench: FAILED: {f}", file=sys.stderr)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        box=box_profile(),
        master=args.master,
        heap=args.heap,
        shuffle_partitions=args.shuffle_partitions,
        spark_conf={"spark.ui.showConsoleProgress": "false"},
        failed_frac=failed / len(outcomes),
        failures=failures,
    )
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(outcomes),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
