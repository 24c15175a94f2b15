import os

import pytest

from docling_translate_spark.plans.session import build_session

# The suite's session needs far less than the package's 8g default driver
# heap: over a whole run the driver JVM's RSS peaked at 9.4 GB with 8g and
# at 3.1 GB with 2g (4-vCPU, 15 GB host). A caller's value still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="dts-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
