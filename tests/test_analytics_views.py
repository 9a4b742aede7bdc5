"""Temp-view registration memo (plans/analytics.load_views)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from wormpy_spark.plans.analytics import TABLES, load_views


def test_views_registered_per_session(spark, tmp_path):
    """Temp views belong to one session: a second session on the same
    context must get its own registration, not the first one's memo."""
    for i, name in enumerate(TABLES):
        pq.write_table(pa.table({"k": [i]}), str(tmp_path / f"{name}.parquet"))
    first = spark.newSession()
    load_views(first, str(tmp_path))
    second = spark.newSession()
    load_views(second, str(tmp_path))
    for session in (first, second):
        assert session.sql("SELECT k FROM nation").first()["k"] == TABLES.index("nation")
