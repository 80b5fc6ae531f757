from .iceberg import (  # noqa: F401
    iceberg_session_conf,
    incremental_pages,
    is_table_ref,
    read_web_pages,
    write_results,
)
