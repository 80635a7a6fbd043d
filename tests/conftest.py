import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from aspep_etl_spark.session import get_spark

    wh = tmp_path_factory.mktemp("spark-wh")
    spark = get_spark(
        app_name="aspep-etl-spark-tests",
        shuffle_partitions=4,
        extra_conf={
            # keep the metastore/warehouse out of the repo working dir
            "spark.sql.warehouse.dir": str(wh / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xss64m -Dderby.system.home={wh}",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


class RoundTrips:
    """py4j round trips (``ClientServerConnection.send_command`` calls:
    reflection lookups, calls and object frees) since ``reset()``."""

    def __init__(self):
        self.n = 0

    def reset(self):
        import gc

        gc.collect()  # frees of JVM objects dropped earlier go out before the count starts
        self.n = 0


@pytest.fixture
def py4j_round_trips(monkeypatch):
    """A ``RoundTrips`` counting every py4j command the test sends."""
    from py4j.clientserver import ClientServerConnection

    counter = RoundTrips()
    real = ClientServerConnection.send_command

    def counting(self, command):
        counter.n += 1
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return counter
