"""Driver-table reads take their schema from the parquet footer on the
driver: the same schema inference would give, and no Spark job."""

from __future__ import annotations

from zio_analytics_spark.sources.parquet import TABLES, footer_schema, read_table
from zio_analytics_spark.sources.streaming import stream_table


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_equals_inferred_and_reads_launch_no_job(spark, sf_dir):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, name
        n_jobs = _jobs_in(
            spark, f"read_{name}", lambda: read_table(spark, sf_dir, name).columns
        )
        assert n_jobs == 0, name
    assert _jobs_in(spark, "stream", lambda: stream_table(spark, sf_dir, "events")) == 0


def test_footer_schema_of_a_directory_falls_back_to_inference(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id", "id * 2 AS x").write.parquet(path)
    assert footer_schema(spark, path) == spark.read.parquet(path).schema
