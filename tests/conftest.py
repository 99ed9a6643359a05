from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from polardbx_cdc_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("polardbx_cdc_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


def _group_jobs(sc, group: str) -> list[list[int]]:
    """Task counts per stage of each job the job group ran, job order."""
    st = sc.statusTracker()
    return [[st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
            for j in sorted(st.getJobIdsForGroup(group))]


def _run_in_group(sc, tag: str, fn, *args):
    """``(job group, fn(*args))``, with fn's Spark jobs in a fresh group."""
    import uuid

    group = f"{tag}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, tag)
    try:
        return group, fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
