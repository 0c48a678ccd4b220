from __future__ import annotations

import os

import pytest

from autovalidate_backend_api_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    # one task slot and one shuffle partition per core the run was given
    # (Tier-1 exports SPARK_GRAFT_CPUS); more oversubscribes Arrow-UDF
    # stages, which run a JVM thread and a Python worker per task
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = build_session(app_name="tests", master=f"local[{cpus}]", shuffle_partitions=cpus)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
