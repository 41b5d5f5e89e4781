"""Twentieth-wave tests: planted-violation detection for the quality
report, and statistical identities."""

from __future__ import annotations

import math
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave20
from idn_area_etl_spark.sources.tables import load_table
from tools.check_oracle import canonical


def test_all_wave20_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave20.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave20.SPECS if s.oracle is not None]
)
def test_wave20_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_quality_report_clean_data_all_pass(spark, sf_dir):
    rows = wave20.q_data_quality_report(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.n_violations == 0 and r.passed == 1, r.check_name


def test_quality_checks_catch_planted_violations(spark):
    """The same check expressions must flag a deliberately corrupt
    frame (duplicate PK, bad status, non-positive price)."""
    bad = spark.createDataFrame(
        [
            (1, "O", 10.0),
            (1, "O", 20.0),   # duplicate orderkey
            (2, "X", 30.0),   # bad status
            (3, "F", -5.0),   # non-positive price
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    row = bad.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("dup"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")).alias(
            "status"
        ),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("price"),
    ).collect()[0]
    assert (row.dup, row.status, row.price) == (1, 1, 1)


def test_quality_report_duplicate_keys_match_oracle(spark, sf_dir, tmp_path):
    """sf0.001 with one customer row and one order row duplicated: the
    RI joins must not let the duplicated key inflate the counts of the
    referencing tables, nor ``orders_pk_unique`` itself.  The oracle's
    subqueries are immune to the duplicates.  No NULL keys are planted:
    a NULL foreign key counts as a violation in the Spark report, while
    the oracle's ``NOT IN`` yields NULL for it and does not count it."""
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    customer = pq.read_table(f"{sf_dir}/customer.parquet")
    # the first order (it has line items) and the customer who placed it
    custkey = orders["o_custkey"][0].as_py()
    placed_by = customer.filter(pc.equal(customer["c_custkey"], custkey))
    assert placed_by.num_rows == 1
    pq.write_table(pa.concat_tables([orders, orders.slice(0, 1)]), tmp_path / "orders.parquet")
    pq.write_table(pa.concat_tables([customer, placed_by]), tmp_path / "customer.parquet")
    shutil.copy(f"{sf_dir}/lineitem.parquet", tmp_path / "lineitem.parquet")

    sdf = wave20.q_data_quality_report(spark, str(tmp_path))
    got = canonical([tuple(r) for r in sdf.collect()], sdf.columns)
    con = duckdb.connect()
    try:
        for table in ("customer", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{tmp_path}/{table}.parquet'")
        rel = con.sql(wave20.Q_DQ_SQL)
        want = canonical(rel.fetchall(), rel.columns)
    finally:
        con.close()
    assert got == want
    assert dict((r.check_name, r.n_violations) for r in sdf.collect())["orders_pk_unique"] == 1


def test_benford_shares_sum_to_one(spark, sf_dir):
    rows = wave20.q_benford_totalprice(spark, sf_dir).collect()
    digits = [r.digit for r in rows]
    assert set(digits) <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.chi2_contrib >= 0.0


def test_dormancy_bounds(spark, sf_dir):
    rows = wave20.q_dormancy_reactivation(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_reactivations <= r.n_gaps
        assert r.max_gap_hours > 0.0


def test_ab_ttest_cohorts_partition_events(spark, sf_dir):
    rows = wave20.q_ab_ttest(spark, sf_dir).collect()
    totals = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert rows
    for r in rows:
        assert r.n_a + r.n_b == totals[r.event_type]
        assert math.isfinite(r.t_stat)
