import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

TESTDATA = "/root/testdata"

# Redis-recorded golden dumps (v4/*.dat, v5/*.dat) of the pfutil
# reference implementation, checked out beside this repository as
# ``reference/``; PFUTIL_REDIS_FIXTURES points elsewhere
REDIS_FIXTURES = os.environ.get(
    "PFUTIL_REDIS_FIXTURES",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "reference", "core", "src", "test", "resources",
    ),
)


def plan_of(df, mode: str = "formatted") -> str:
    """Physical-plan text for plan gates (shared by the plan-gating
    suites — keep the JVM reflection in one place)."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    warehouse = tempfile.mkdtemp(prefix="pfutil_wh_")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pfutil-spark-tests")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")
