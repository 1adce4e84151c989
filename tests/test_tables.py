"""Table catalog: the per-session schema cache.

A cached-schema read must be indistinguishable from a plain
``spark.read.parquet`` (schema with nullability, rows), must submit no
Spark job, and must still hand out a fresh DataFrame per call so a
self-join's two sides resolve to distinct attributes.
"""

from __future__ import annotations

import pytest

from data_pipeline_playground_spark import tables
from data_pipeline_playground_spark.tables import TABLES, table
from tests.oracle import _canon_pdf, compare


def _plain(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return tables._nanos_to_ntz(spark.read.parquet(path))
    return spark.read.parquet(path)


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "test_tables job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_read_matches_plain_read(spark, sf_dir, name):
    table(spark, sf_dir, name)  # first read: infers and stores the schema
    cached = table(spark, sf_dir, name)
    plain = _plain(spark, sf_dir, name)
    # StructField equality covers type, nullability and metadata
    assert cached.schema == plain.schema
    assert _canon_pdf(cached.toPandas()) == _canon_pdf(plain.toPandas())


@pytest.mark.parametrize("name", TABLES)
def test_second_read_submits_no_job(spark, sf_dir, name):
    table(spark, sf_dir, name)
    jobs = _jobs_in(
        spark, f"test_tables:{name}", lambda: table(spark, sf_dir, name)
    )
    assert jobs == [], f"{name}: second table() read ran jobs {jobs}"


def test_job_counter_sees_inference(spark, tmp_path):
    # the zero-job assertion above is only meaningful if a schema
    # inference on an unseen path is counted
    path = str(tmp_path / "fresh.parquet")
    spark.range(3).write.parquet(path)
    jobs = _jobs_in(
        spark, "test_tables:infer", lambda: spark.read.parquet(path)
    )
    assert len(jobs) >= 1


def test_self_join_reads_resolve_and_match_oracle(spark, sf_dir, oracle_con):
    # column references taken from each read: they resolve only if the
    # two reads carry distinct attribute ids
    n1 = table(spark, sf_dir, "nation")
    n2 = table(spark, sf_dir, "nation")
    joined = n1.join(
        n2,
        (n1["n_regionkey"] == n2["n_regionkey"])
        & (n1["n_nationkey"] < n2["n_nationkey"]),
    ).select(n1["n_name"].alias("a"), n2["n_name"].alias("b"))
    compare(
        joined,
        oracle_con,
        "SELECT n1.n_name AS a, n2.n_name AS b FROM nation n1 "
        "JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey "
        "AND n1.n_nationkey < n2.n_nationkey",
        "nation self-join",
    )
