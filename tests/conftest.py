import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_validate.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_VALIDATE_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # one long session keeps C2: on a 4-core box 67 drift/CBPE/plan tests took 154 s with it, 222 s with C1 only
    s = get_spark(
        "spark_validate_tests",
        cores=4,
        shuffle_partitions=4,
        extra_conf={"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4"},
    )
    yield s


@pytest.fixture(scope="session")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
