import pytest


@pytest.fixture(scope="session")
def spark():
    from karta_spark.session import get_spark
    # local[$SPARK_GRAFT_CPUS] with as many shuffle partitions (see session.py)
    s = get_spark("tests")
    yield s
    s.stop()
