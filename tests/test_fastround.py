"""Driver fast round (plans/fastround.py): its snapshot contract and
its Spark-job shape.

- the Arrow schemas the fast round writes equal the Spark DDL the
  snapshot readers use (field names and types);
- the driver-side left join keeps Spark left-join semantics;
- a fast round runs exactly one Spark job.
"""

from __future__ import annotations

import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from wormpy_spark.fixtures.spark_tables import corpus_to_spark
from wormpy_spark.fixtures.webgen import generate_corpus
from wormpy_spark.operators.fetch import (
    PAGES_ARROW_SCHEMA,
    PAGES_ARROW_SCHEMA_EXPAND,
    PAGES_SCHEMA,
    PAGES_SCHEMA_EXPAND,
)
from wormpy_spark.operators.frontier import (
    FRONTIER_SCHEMA_BUCKETED,
    FRONTIER_SCHEMA_RANKED,
    FRONTIER_SCHEMA_V2,
)
from wormpy_spark.plans.crawl import CrawlConfig, prepare_fetch_table, run_crawl
from wormpy_spark.plans.fastround import (
    FRONTIER_ARROW_SCHEMA,
    FRONTIER_ARROW_SCHEMA_BUCKETED,
    FRONTIER_ARROW_SCHEMA_RANKED,
    _lookup_join,
)


@pytest.mark.parametrize(
    "arrow_schema, ddl",
    [
        (PAGES_ARROW_SCHEMA, PAGES_SCHEMA),
        (PAGES_ARROW_SCHEMA_EXPAND, PAGES_SCHEMA_EXPAND),
        (FRONTIER_ARROW_SCHEMA, FRONTIER_SCHEMA_V2),
        (FRONTIER_ARROW_SCHEMA_BUCKETED, FRONTIER_SCHEMA_BUCKETED),
        (FRONTIER_ARROW_SCHEMA_RANKED, FRONTIER_SCHEMA_RANKED),
    ],
    ids=["pages", "pages_expand", "frontier", "frontier_bucketed", "frontier_ranked"],
)
def test_arrow_schemas_match_spark_ddl(spark, arrow_schema, ddl):
    """Snapshot files written by pyarrow are read back by Spark with
    explicit DDL schemas; a drifted name or type would be silently
    nulled on read, so the two definitions must agree exactly."""
    expected = to_arrow_schema(_parse_datatype_string(ddl))
    assert arrow_schema.names == expected.names
    for field, want in zip(arrow_schema, expected):
        assert field.type == want.type, field.name


def test_lookup_join_is_a_left_join(spark):
    web = spark.createDataFrame(
        [("https://a.test/1", 200), ("https://a.test/2", 404)],
        "url_norm string, status int",
    )
    rows = _lookup_join(web, ["https://a.test/2", "https://a.test/x", "https://a.test/1"])
    assert rows.column_names == ["status"]
    # one row per key, in key order; a missing key is an all-null row
    assert rows.column("status").to_pylist() == [404, None, 200]

    dup = web.unionByName(web.limit(1))
    with pytest.raises(ValueError, match="more than one row"):
        _lookup_join(dup, ["https://a.test/1"])


def test_fast_round_runs_one_spark_job(spark):
    """Each fast round is one JVM-only Spark job: the web key lookup.
    The extraction kernel runs in-process on the driver."""
    corpus = generate_corpus(seed=11, n_hosts=2, pages_per_host=12, n_images_per_host=4)
    web = prepare_fetch_table(spark, corpus_to_spark(spark, corpus)["web"])
    sc = spark.sparkContext
    group = "test_fast_round_runs_one_spark_job"
    try:
        sc.setJobGroup(group, "all-fast crawl")
        res = run_crawl(
            spark, web,
            CrawlConfig(base_url="https://host0.test", budget=50,
                        politeness_seed=7, fast_round_max=4096),
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        web.unpersist()
    fetched_rounds = [m for m in res.metrics_rows if m["fetched"] > 0]
    assert len(fetched_rounds) == len(res.metrics_rows) > 2
    assert len(jobs) == len(fetched_rounds)
