from cubicerp_client_etl_spark.operators.lookups import (
    first_hit_lookup,
    insert_if_absent,
)
from cubicerp_client_etl_spark.operators.merge import apply_reprocess_mode

__all__ = [
    "first_hit_lookup",
    "insert_if_absent",
    "apply_reprocess_mode",
]
