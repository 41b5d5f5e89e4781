from idn_area_etl_spark.streaming.micro_batch import run_micro_batch_pipeline

__all__ = ["run_micro_batch_pipeline"]
