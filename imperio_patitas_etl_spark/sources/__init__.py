"""Sources: parquet table catalog and rate-limited REST client."""

from imperio_patitas_etl_spark.sources.parquet import load_table

__all__ = ["load_table"]
