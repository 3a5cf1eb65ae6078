from __future__ import annotations

import tempfile
import uuid

import pytest

from visual_asset_management_system_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Isolated warehouse per test session (r15): the package default
    # pins spark.sql.warehouse.dir next to the repo, which every
    # get_spark() process shares — a concurrent bench/probe session
    # rewriting its bucketed tables mid-suite makes this session's
    # cached file listings dangle (FAILED_READ_FILE.FILE_NOT_EXIST,
    # 54 such failures observed in one r15 run). A throwaway temp dir
    # keeps the suite hermetic; product sessions are unaffected.
    warehouse = tempfile.mkdtemp(prefix="vams-test-warehouse-")
    # The job budgets (jobs_and_tasks) read every stage of the jobs they
    # count from the status store. At its default 1,000-stage cap the
    # store evicts SKIPPED stages first, however recent, so a trim that
    # lands inside a counted call drops that call's skipped stages
    # (seen: "stage 13696 missing from the status store" after ~13k
    # stages). The suite runs fewer than 100,000 stages; a retained
    # stage costs ~2.3 KB of driver heap.
    s = get_spark(
        app_name="spark-vams-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    yield s
    s.stop()


@pytest.fixture
def py4j_calls(monkeypatch):
    """Count py4j round trips (``JavaClient.send_command`` calls) while
    the test runs; read ``.n`` before and after the code under test. A
    noise-proof budget for driver-side cost: wall time depends on the
    host, call counts do not."""
    from types import SimpleNamespace

    from py4j.clientserver import JavaClient

    counter = SimpleNamespace(n=0)
    send = JavaClient.send_command

    def counting(self, *args, **kwargs):
        counter.n += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", counting)
    return counter


@pytest.fixture
def jobs_and_tasks(spark):
    """``count(run) -> (Spark jobs, tasks)`` that ``run()`` starts,
    counted through a job group — a noise-proof cost: wall time depends
    on the host, the number of jobs and tasks a call plans does not.
    The one way job budgets are counted across the suite."""
    sc = spark.sparkContext

    def count(run) -> tuple[int, int]:
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job budget")
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is filled from the listener bus
        # asynchronously: drain it so every job and stage is visible
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            job = tracker.getJobInfo(j)
            assert job is not None, f"job {j} missing from the status store"
            for st in job.stageIds:
                info = tracker.getStageInfo(st)
                assert info is not None, (
                    f"stage {st} missing from the status store"
                )
                tasks += info.numTasks
        return len(jobs), tasks

    return count
