from cubicerp_client_etl_spark.sources.lines import check_text_resource, read_text_resource

__all__ = ["check_text_resource", "read_text_resource"]
