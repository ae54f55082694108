import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from caspr_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def job_group(spark):
    """``with job_group("name") as rec:`` runs the block under a Spark job
    group; afterwards ``rec["jobs"]`` lists every job the block started and
    ``rec["escaped"]`` those that do not carry the group (a job submitted
    from a thread that did not inherit the caller's local properties)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    @contextlib.contextmanager
    def run(group: str):
        rec = {}
        jsc.listenerBus().waitUntilEmpty()
        job0 = jsc.dagScheduler().nextJobId()
        sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jsc.listenerBus().waitUntilEmpty()
            rec["jobs"] = list(range(job0, jsc.dagScheduler().nextJobId()))
            rec["escaped"] = sorted(
                set(rec["jobs"]) - set(sc.statusTracker().getJobIdsForGroup(group)))
    return run


@contextlib.contextmanager
def as_stream(spark, query_id):
    """Run the block as a ``foreachBatch`` thread of the stream
    ``query_id`` would: the state sinks take the writer's identity from
    the ``sql.streaming.queryId`` local property of the calling thread."""
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", query_id)
    try:
        yield
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


@pytest.fixture(scope="session")
def events(spark):
    from caspr_spark.sources import read_parquet_table
    return read_parquet_table(spark, f"{SF_DIR}/events.parquet").cache()


@pytest.fixture(scope="session")
def documents(spark):
    from caspr_spark.sources import read_parquet_table
    return read_parquet_table(spark, f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="session")
def embeddings(spark):
    from caspr_spark.sources import read_parquet_table
    return read_parquet_table(spark, f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="session")
def micro_events(spark):
    """Hand-written edge-case activity table (FIXTURES.md fixture 4).

    users: 1 -> 1 event; 2 -> exactly 3; 3 -> 7 (> seq_len 3);
    4 -> duplicate timestamps; 5 -> null value / null category rows.
    """
    rows = [
        # (event_id, user, ts, cat, val)
        (1, 1, "2024-01-10 10:00:00", "a", 1.0),
        (10, 2, "2024-01-05 10:00:00", "a", 2.0),
        (11, 2, "2024-01-06 10:00:00", "b", 3.0),
        (12, 2, "2024-01-07 10:00:00", "a", 4.0),
        (20, 3, "2024-01-01 10:00:00", "c", 5.0),
        (21, 3, "2024-01-02 10:00:00", "c", 6.0),
        (22, 3, "2024-01-03 10:00:00", "b", 7.0),
        (23, 3, "2024-01-04 10:00:00", "a", 8.0),
        (24, 3, "2024-01-05 10:00:00", "a", 9.0),
        (25, 3, "2024-01-06 10:00:00", "b", 10.0),
        (26, 3, "2024-01-07 10:00:00", "c", 11.0),
        (30, 4, "2024-01-08 10:00:00", "a", 12.0),
        (31, 4, "2024-01-08 10:00:00", "b", 13.0),  # duplicate ts
        (32, 4, "2024-01-09 10:00:00", "a", 14.0),
        (40, 5, "2024-01-10 10:00:00", None, 15.0),
        (41, 5, "2024-01-11 10:00:00", "b", None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, cat string, val double")
    from pyspark.sql import functions as F
    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
             .withColumn("prediction_date", F.to_timestamp(F.lit("2024-01-15 00:00:00"))) \
             .cache()
