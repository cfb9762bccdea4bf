import os
from contextlib import contextmanager
from pathlib import Path

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from content_extractor_spark.session import get_spark

    s = get_spark(
        app_name="content-extractor-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
            "spark.driver.host": "127.0.0.1",
        },
    )
    yield s
    s.stop()


@pytest.fixture
def corrupt_parquet():
    """Replace every parquet part file under a dir with garbage bytes
    (and drop the checksums, so the reader gets as far as the footer)."""

    def corrupt(dir_path):
        for f in Path(dir_path).rglob("*"):
            if f.name.endswith(".crc"):
                f.unlink()
            elif f.name.startswith("part-"):
                f.write_bytes(b"not a parquet file" * 8)

    return corrupt


@pytest.fixture
def py4j_round_trips(monkeypatch):
    """A context manager that counts the driver's Py4J round trips (each
    command sent to the JVM) made inside it. Like a job count, the count
    does not move with host load."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    @contextmanager
    def counting():
        seen = {"n": 0}

        def send_counted(self, command):
            seen["n"] += 1
            return send(self, command)

        monkeypatch.setattr(ClientServerConnection, "send_command", send_counted)
        try:
            yield seen
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)

    return counting
