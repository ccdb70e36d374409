import pytest


@pytest.fixture(scope="session")
def spark():
    from rio_spark.session import get_spark

    s = get_spark(app_name="rio_spark_tests", shuffle_partitions=8)
    yield s
