"""Spark SQL surface parity: the engine's SQL API (register_views +
spark.sql) executes the SAME ANSI oracle SQL the DuckDB gate runs,
and returns results identical to the DataFrame builders.

Only dialect-portable oracles qualify (no DuckDB list comprehensions,
quantile_cont, `//` division, epoch_us, UBIGINT casts, or
0-based dayofweek); the whitelist below is the ANSI-compatible
subset — proving a reference user could drive this engine from plain
SQL instead of the DataFrame API.
"""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs
from idn_area_etl_spark.sources.tables import register_views
from tools.check_oracle import canonical

SF_DIR = "/root/testdata/sf0.001"

#: oracle SQL strings that are valid ANSI + Spark SQL as written.
ANSI_PORTABLE = [
    "q_cumulative_distinct_users",
    "q_event_trigrams",
    "q_moment_stats",
    "q_multitouch_attribution",
    "q_pareto_coverage",
    "q_loyal_customers",
    "q_snapshot_diff",
    "q_abc_classification",
    "q_rank_normalize",
    "q_ks_two_sample",
    "q_order_reconciliation",
    "a_frequent_triples",
    "g_link_prediction",
    "q_cusum_changepoint",
    "e_ann_lsh_planted",
    "e_ann_ivf_planted",
    "e_pq_planted",
]


@pytest.mark.parametrize("name", ANSI_PORTABLE)
def test_spark_sql_runs_oracle_and_matches_builder(spark, name):
    spec = all_specs()[name]
    register_views(spark, SF_DIR)
    via_sql = spark.sql(spec.oracle)
    via_df = spec.builder(spark, SF_DIR)
    sql_cols, sql_rows = canonical(
        [tuple(r) for r in via_sql.collect()], via_sql.columns
    )
    df_cols, df_rows = canonical(
        [tuple(r) for r in via_df.collect()], via_df.columns
    )
    assert sql_cols == df_cols
    assert sql_rows == df_rows
