from bikes_data_warehouse_etl_spark.sources.parquet import read_table
from bikes_data_warehouse_etl_spark.sources.csv import read_source_csv

__all__ = ["read_table", "read_source_csv"]
