"""spotify_pipeline_gcp_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark re-expression of the query and
data-processing capabilities of the reference repo
``vijay-ss/spotify-pipeline-gcp`` (a daily Spotify playback ETL:
nested-JSON ingest -> normalized relational tables -> incremental
deduplicated warehouse append), extended with the operators a
large-scale LLM training-data pipeline needs (dedup, similarity
search, text analysis, multimodal column plumbing).

Design principles (see SURVEY.md):
- DataFrame/SQL first; Catalyst does pushdown/pruning/join choice.
- Declared ``StructType`` schemas everywhere the reference inferred.
- Pure ``DataFrame -> DataFrame`` operator functions; no globals,
  no driver-side data movement in any hot path.
- Python UDFs replaced by native column expressions; Pandas UDFs /
  ``mapInPandas`` only where built-ins can't express the semantics.
"""

__version__ = "0.1.0"


def _on_worker_import() -> None:
    from pyspark.core.files import SparkFiles

    if SparkFiles._is_running_on_worker:
        from spotify_pipeline_gcp_spark.pyfiles import reuse_zip_directories

        reuse_zip_directories()


_on_worker_import()
