import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A local[2] session with the benchmark's environment, for one
    module.  The environment is restored and the JVM stopped afterwards,
    so tests collected later start a session of their own.  A session
    that is already running is borrowed and left running."""
    from pyspark.sql import SparkSession

    from langscrape_spark.session import get_spark
    from perfbench.run import spark_env, stop_spark

    running = SparkSession.getActiveSession()
    if running is not None:
        yield running
        return
    saved = dict(os.environ)
    try:
        spark_env(str(tmp_path_factory.mktemp("spark")))
        spark = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
        try:
            yield spark
        finally:
            stop_spark(spark)
    finally:
        os.environ.clear()
        os.environ.update(saved)
