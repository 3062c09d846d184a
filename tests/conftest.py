import contextlib
import types
import uuid

import pytest

from etl_geo_dem_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="etl_geo_dem_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


@pytest.fixture()
def spark_jobs(spark):
    """Count the Spark jobs, and the tasks of their stages, that a block of
    driver code starts:

        with spark_jobs() as seen:
            table.read()
        assert seen.jobs == 0

    The block runs under a fresh job group; the counts are filled in on exit,
    after the listener bus has delivered every event the block produced (the
    status tracker is fed asynchronously)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def counting():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        seen = types.SimpleNamespace(jobs=0, tasks=0)
        sc.setJobGroup(group, "counted by the spark_jobs fixture")
        try:
            yield seen
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            stages = [
                tracker.getStageInfo(s)
                for j in job_ids
                for s in tracker.getJobInfo(j).stageIds
            ]
            seen.jobs = len(job_ids)
            seen.tasks = sum(st.numTasks for st in stages if st is not None)

    return counting
