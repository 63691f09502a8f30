from .ingest import incremental_tile_run, stream_pages_to_tiles  # noqa: F401
