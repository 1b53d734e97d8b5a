from __future__ import annotations

import pytest

from clinical_vector_search_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "cvs-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "6g",
            # Spark's default, which get_spark overrides: tests compare
            # toPandas output, where Arrow renders array columns as NumPy
            # arrays instead of Python lists
            "spark.sql.execution.arrow.pyspark.enabled": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
