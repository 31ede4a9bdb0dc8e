from __future__ import annotations

import os
import uuid

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def jobs_in(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker reads what the listener bus has delivered
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from python_stream_processing_framework_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("pspf-spark-tests", cpus=cpus)
    yield s


@pytest.fixture(scope="session")
def valkey_url():
    """A reachable Valkey-protocol URL for the live-broker tier:
    $VALKEY_URL when set (real daemon — always preferred), else an
    in-process MiniValkeyServer (sources/resp.py) started for the
    session. Either way the live tests RUN instead of skipping."""
    url = os.environ.get("VALKEY_URL")
    if url:
        yield url
        return
    from python_stream_processing_framework_spark.sources.resp import (
        MiniValkeyServer,
    )

    server = MiniValkeyServer().start()
    yield server.url
    server.stop()


@pytest.fixture(scope="session")
def valkey_client(valkey_url):
    """A connected stream client for ``valkey_url`` (redis-py when
    installed, in-repo RESP client otherwise)."""
    from python_stream_processing_framework_spark.sources.resp import (
        client_from_url,
    )

    client = client_from_url(valkey_url)
    try:
        client.ping()
    except Exception as exc:  # pragma: no cover - unreachable real URL
        pytest.skip(f"valkey unreachable at {valkey_url}: {exc}")
    yield client
    client.close()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from python_stream_processing_framework_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
