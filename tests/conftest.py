import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_cdc_redshift_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Derby's error log (the JDBC sink tests boot an in-memory Derby) and
    # the SQL warehouse (saveAsTable) go to a temp dir, not the working dir
    scratch = tmp_path_factory.mktemp("spark")
    s = build_session("tests", shuffle_partitions=8, extra_conf={
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.stream.error.file={scratch / 'derby.log'}",
    })
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
