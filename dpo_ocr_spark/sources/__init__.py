from .iceberg import (  # noqa: F401
    iceberg_available,
    iceberg_session_conf,
    incremental_pages,
    is_table_ref,
    latest_snapshot_id,
    read_web_pages,
    write_results,
)
