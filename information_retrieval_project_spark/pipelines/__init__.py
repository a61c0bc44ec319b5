from .lineage import finalize_index, load_manifest, resumable_build  # noqa: F401
