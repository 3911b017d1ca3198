# Alias for perfbench's stream_ingest import; goes when that import moves to queries.maintenance.
from nyc_opendata_etl_spark.queries.maintenance import (  # noqa: F401
    _stage_cdc_batches,
    _stage_docs_idordered,
)
