from idn_area_etl_spark.operators.area import extract_areas
from idn_area_etl_spark.operators.island import extract_islands
from idn_area_etl_spark.operators.ordering import first_seen
from idn_area_etl_spark.operators.registry import (
    classify_tables,
    entity_frames,
    extract_all,
)
from idn_area_etl_spark.operators.stage import staged_scope

__all__ = [
    "classify_tables",
    "entity_frames",
    "extract_all",
    "extract_areas",
    "extract_islands",
    "first_seen",
    "staged_scope",
]
