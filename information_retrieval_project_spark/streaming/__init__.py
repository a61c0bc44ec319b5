from .incremental import incremental_tf_ingest  # noqa: F401
