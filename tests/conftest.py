from __future__ import annotations

import gc
import os
from contextlib import contextmanager

import duckdb
import pytest

from idn_area_etl_spark.plans import all_specs
from idn_area_etl_spark.session import get_spark
from idn_area_etl_spark.sources.tables import TABLE_NAMES
from tools.check_oracle import canonical

#: Registry-wide sweep / stress tests: they build all ~370 plans or run
#: multi-config invariance jobs, and dominate the suite's wall clock
#: (the ``hint_forced_plans`` fixture alone takes ~100 s on 4 cores),
#: which made a time-boxed pytest run end mid-suite with no verdict.
#: They are OPT-IN via ``SPARK_GRAFT_SLOW_TESTS=1``; local verification
#: and any CI able to afford them MUST set the variable.  Gated are the
#: two stress modules whole, and in ``test_plan_quality`` only the
#: tests that use a registry-wide fixture: its focused plan-shape gates
#: run by default.  ``test_oracle_parity.py`` still checks every
#: oracle-backed spec against DuckDB (through ``oracle_parity`` below).
_SLOW_MODULES = {"test_scaling", "test_invariance"}
_SLOW_FIXTURES = {"all_built", "hint_forced_plans"}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow plan-sweep/stress suite; set SPARK_GRAFT_SLOW_TESTS=1"
    )
    for item in items:
        fixtures = set(getattr(item, "fixturenames", ()))
        if item.module.__name__ in _SLOW_MODULES or fixtures & _SLOW_FIXTURES:
            item.add_marker(skip)


@contextmanager
def _count_py4j_commands():
    """The py4j commands the block sends to the JVM, collected into the
    yielded list.  Garbage collection is off for the block and the
    ``m`` (memory) commands that release Python-side proxies are not
    counted: when the collector runs is not part of a plan's cost."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    commands: list[str] = []

    def counting(self, command):
        if not command.startswith("m"):
            commands.append(command)
        return send(self, command)

    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        yield commands
    finally:
        ClientServerConnection.send_command = send
        gc.enable()


@pytest.fixture(scope="session")
def py4j_commands():
    """``with py4j_commands() as commands:`` counts the block's driver
    round-trips (see :func:`_count_py4j_commands`)."""
    return _count_py4j_commands


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="idn_area_etl_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    """The sf0.1 dataset — only for tests whose asserted behavior needs
    data volume sf0.001 can't provide (e.g. AQE-coalescing drift needs
    multiple shuffle partitions to have room to diverge).  Skips, not
    fails, on machines without the generated testdata."""
    path = "/root/testdata/sf0.1"
    if not os.path.isdir(path):
        pytest.skip("sf0.1 testdata not available on this machine")
    return path


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """One DuckDB connection with a view per sf0.001 table."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_parity(spark, sf_dir, oracle):
    """``oracle_parity(name)`` asserts that spec ``name`` matches its
    DuckDB oracle at sf0.001 under the strict ``tools/check_oracle.py``
    contract: equal column names, row count and ``canonical`` values.

    ``test_oracle_parity.py`` asks this for every oracle-backed spec and
    the per-wave ``*_matches_duckdb_oracle`` tests for their own specs,
    so each spec is compared once per session: a spec that already
    matched is not built again.  A failed compare is not remembered."""
    specs = all_specs()
    matched: set[str] = set()

    def check(name: str) -> None:
        if name in matched:
            return
        spec = specs[name]
        sdf = spec.builder(spark, sf_dir)
        s_cols, s_rows = canonical([tuple(r) for r in sdf.collect()], sdf.columns)
        rel = oracle.sql(spec.oracle)
        o_cols, o_rows = canonical(rel.fetchall(), rel.columns)
        assert s_cols == o_cols
        assert len(s_rows) == len(o_rows)
        assert s_rows == o_rows
        matched.add(name)

    return check
