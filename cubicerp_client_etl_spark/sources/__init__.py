from cubicerp_client_etl_spark.sources.csv_source import read_csv_resource
from cubicerp_client_etl_spark.sources.inline import read_inline_payload

__all__ = ["read_csv_resource", "read_inline_payload"]
