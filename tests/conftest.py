from __future__ import annotations

import shutil
import tempfile

import pytest

from torscrapper_spark import fixtures
from torscrapper_spark.session import get_spark


@pytest.fixture(scope="session", autouse=True)
def _sweep_mkdtemp_dirs():
    """Remove every dir this process mkdtemp'd once the suite ends.

    Many tests build throwaway SnapshotStores with a bare
    ``tempfile.mkdtemp()`` (~34 sites); each suite run used to strand
    those trees in /tmp forever — the same hygiene class as the q43
    /tmp leak VERDICT.md r4 #4 closed on the product side. Recording
    at the tempfile layer covers every current and future site without
    churning the call sites; deletion happens only AFTER the whole
    session (same in-run lifetime as before, so session-scoped fixture
    dirs and cross-test caches are untouched while tests run). Dirs a
    test renamed away (the .cache atomic-publish pattern) are gone by
    teardown and skipped via ignore_errors."""
    made: list[str] = []
    orig = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        d = orig(*args, **kwargs)
        made.append(d)
        return d

    tempfile.mkdtemp = recording_mkdtemp
    yield
    tempfile.mkdtemp = orig
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def broadcast_threshold(spark):
    """Setter for ``spark.sql.autoBroadcastJoinThreshold`` within one
    test (it picks the seen check's regime); the session value is
    restored afterwards, pass or fail."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        yield lambda value: spark.conf.set(key, str(value))
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def tiny_tables():
    return fixtures.generate_all(fixtures.TINY)


@pytest.fixture(scope="session")
def tiny_dir(tiny_tables):
    d = tempfile.mkdtemp(prefix="tsfx_")
    fixtures.write_parquet(tiny_tables, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def tmp_store_dir():
    d = tempfile.mkdtemp(prefix="tsnap_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def medium_tables():
    return fixtures.generate_all(fixtures.MEDIUM)


@pytest.fixture(scope="session")
def large_tables():
    return fixtures.generate_all(fixtures.LARGE)


@pytest.fixture(scope="session")
def large_dir(large_tables):
    d = tempfile.mkdtemp(prefix="tsfx_lg_")
    fixtures.write_parquet(large_tables, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def medium_dir(medium_tables):
    d = tempfile.mkdtemp(prefix="tsfx_med_")
    fixtures.write_parquet(medium_tables, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)
