from __future__ import annotations

import itertools

import pytest

from search_ingest_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # pinned JVM error file: a silent JVM death under the full suite
    # then leaves an hs_err report instead of a Connection-refused
    # cascade (faulthandler for Python workers is on in get_spark)
    import os

    os.environ.setdefault(
        "SPARK_SUBMIT_OPTS", "-XX:ErrorFile=/tmp/hs_err_tests_%p.log")
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def documents_smoke(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def documents_correct(spark):
    return spark.read.parquet(f"{SF_CORRECT}/documents.parquet")


_JOB_GROUPS = itertools.count()


def run_counted(spark, run):
    """(run()'s result, ids of the Spark jobs it started), counted by a
    job group set around the call: jobs that other threads of the
    shared session start meanwhile do not count."""
    sc = spark.sparkContext
    group = f"counted-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status tracker reads the listener bus's store
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def jobs_and_stages(spark, run) -> tuple[int, int]:
    """(Spark jobs, stages) started while `run()` builds AND collects a
    frame."""
    _, jobs = run_counted(spark, lambda: run().collect())
    tracker = spark.sparkContext.statusTracker()
    return len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


PLACEMENTS = ("driver", "pool")


def force_placement(monkeypatch, placement: str) -> None:
    """Make LocalSearcher._run_plan score every plan in one placement:
    "driver" (two-shard serial batches, the residue after the first
    batch included) or "pool" (the forkserver pool gets every shard of
    the plan, no boot batch, in two-shard worker batches)."""
    from search_ingest_spark.query.reader import LocalSearcher

    def put(**kw):
        for name, value in kw.items():
            monkeypatch.setattr(LocalSearcher, name, value)

    if placement == "driver":
        put(_SHARDS_PER_BATCH=2, _PAR_MIN_SHARDS=10**9)
    else:
        put(_PAR_BOOT=0, _PAR_MIN_SHARDS=1, _PAR_BATCH=2)
