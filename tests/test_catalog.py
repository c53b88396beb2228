"""Fixture-catalog loader tests: ``load_table`` infers a file's schema once
and declares it on later reads of the same, unchanged file."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from distributed_graph_database_system_spark.sources.catalog import load_table


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "load_table")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_file_starts_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}),
        tmp_path / "region.parquet",
    )
    first, first_jobs = _jobs_in(
        spark, "catalog_first_load", lambda: load_table(spark, str(tmp_path), "region")
    )
    # the first read infers the schema with a footer job: the job count
    # below is not vacuously zero
    assert first_jobs
    second, second_jobs = _jobs_in(
        spark, "catalog_second_load", lambda: load_table(spark, str(tmp_path), "region")
    )
    assert second_jobs == []
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(0, "AFRICA"), (1, "AMERICA")]


def test_rewritten_file_is_reinferred_and_missing_path_raises(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0], "r_name": ["AFRICA"]}), path)
    reread = load_table(spark, str(tmp_path), "region")
    assert reread.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in reread.collect()] == [(0, "AFRICA")]
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path / "missing"), "region")
