from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from zio_analytics_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings_oracle():
    """Run a catalog oracle's SQL in DuckDB over a view named
    ``embeddings`` that holds the given Spark frame; returns sorted rows."""
    import duckdb

    def run(df, sql):
        con = duckdb.connect()
        con.register("embeddings", df.toArrow())
        return sorted(con.sql(sql).fetchall())

    return run


@pytest.fixture(scope="session", autouse=True)
def _sweep_stream_tmpdirs():
    """Session-end sweep of the scratch dirs the streaming tests create.

    The dirs outlive the queries that read them, so per-test cleanup would
    race the stream. Tests create them via ``tmpdirs.scratch_dir`` — every
    one lives under the pid-namespaced ``zas_p<pid>/`` parent and is
    registered, so removing *exactly the registered set* cannot touch
    directories owned by other processes (the round-8 ADVICE finding:
    a generic ``stage_*`` glob over the shared temp root could)."""
    yield
    from zio_analytics_spark import tmpdirs

    tmpdirs.cleanup()
