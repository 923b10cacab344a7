import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "spark: needs a SparkSession (deselect with -m 'not spark' to run "
        "the pure-Python suites without a JVM)",
    )


def pytest_collection_modifyitems(config, items):
    # fixturenames is the closure, so tests reaching `spark` through
    # events_df / transcripts_df are marked too
    for item in items:
        if "spark" in getattr(item, "fixturenames", ()):
            item.add_marker(pytest.mark.spark)


@pytest.fixture(scope="session")
def spark():
    from cep_spark.session import get_spark

    s = get_spark("local[8]", app_name="cep-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def events_df(spark):
    return spark.read.parquet(f"{SF_SMOKE}/events.parquet")


@pytest.fixture(scope="session")
def transcripts_pdf():
    from cep_spark.transcripts import gen_transcripts

    return gen_transcripts(n_conv=60, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf)
