from __future__ import annotations

import pytest

from pipelines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # hermetic: the warehouse and the Derby home live in a per-session
    # temp dir, so no table or metastore left in the working directory
    # by an earlier (possibly interrupted) run can collide with this one
    home = tmp_path_factory.mktemp("spark")
    s = get_spark(
        "pipelines_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(home / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={home}",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_medium():
    return "/root/testdata/sf0.01"
