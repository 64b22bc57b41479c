from __future__ import annotations

import pytest

from weather_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def job_id(spark) -> int:
    """The DAG scheduler's next job id: the delta around a call counts
    every job the call ran."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wdps-tests")
    yield s


@pytest.fixture(scope="session", autouse=True)
def _scratch(tmp_path_factory):
    """Streaming state and checkpoint directories go under the session's
    temporary directory instead of the checkout's ``.scratch/``; callers
    read ``jobs.SCRATCH`` at call time, so the patch reaches them all."""
    from weather_data_pipeline_spark.streaming import jobs

    patch = pytest.MonkeyPatch()
    patch.setattr(jobs, "SCRATCH", str(tmp_path_factory.mktemp("scratch")))
    yield
    patch.undo()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
