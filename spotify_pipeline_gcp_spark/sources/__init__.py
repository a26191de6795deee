from spotify_pipeline_gcp_spark.sources.readers import (  # noqa: F401
    read_csv,
    read_json,
    read_parquet,
)
