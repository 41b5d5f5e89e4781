"""Plan-size gates for the cleansing steps of the exact CSV sink.

Each cleansing function is one SQL lambda applied once per row
(functions/cleaning.py), and each area row is routed, cleaned and
classified once: the sink query has one area branch and one island
branch, each with one routing join and one ``fix_wrapped_name`` fold.
A step expanded into its own Column tree is copied into every use of
the value, a filter on the cleaned name gets pushed into the routing
join, and an area frame split by level runs the area upstream once per
level; all show as extra joins, ``aggregate`` folds and ``regexp_*``
nodes in the optimized plan.  For the document below the Column-built
form gave 17 folds, 803 ``regexp_*`` nodes and two join conditions
holding a fold, and one area branch per level gave 5 joins, 5 folds and
129 ``regexp_*`` nodes; one ``format_coordinate`` alone was 395
``regexp_*`` nodes as a Column tree.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from idn_area_etl_spark.config import default_config
from idn_area_etl_spark.functions import format_coordinate
from idn_area_etl_spark.operators import extract_all
from idn_area_etl_spark.sources import raw_from_cell_grids
from idn_area_etl_spark.writer import entity_sink_query
from tests.test_config_writer import AREA_GRID, ISLAND_GRID

#: one fix_wrapped_name fold per branch: area and island
MAX_FOLDS = 2
MAX_REGEXP_NODES = 54
MAX_FORMAT_COORDINATE_REGEXP_NODES = 8


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_exact_sink_plan_evaluates_each_cleaning_step_once(spark):
    raw = raw_from_cell_grids(spark, [(1, 0, AREA_GRID), (2, 0, ISLAND_GRID)])
    plan = optimized_plan(entity_sink_query(extract_all(raw), default_config()))
    assert plan.count("aggregate(") <= MAX_FOLDS
    assert plan.count("regexp_") <= MAX_REGEXP_NODES
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert len(joins) == 2
    assert not [j for j in joins if "aggregate(" in j]


def test_format_coordinate_plan_size(spark):
    df = spark.range(1).select(F.col("id").cast("string").alias("x"))
    plan = optimized_plan(df.select(format_coordinate(F.col("x")).alias("out")))
    assert plan.count("regexp_") <= MAX_FORMAT_COORDINATE_REGEXP_NODES
