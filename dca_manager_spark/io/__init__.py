"""IO layer: sources and sinks."""

from dca_manager_spark.io.bucketed import bucketed_join, write_bucketed_table
from dca_manager_spark.io.datasource import register_python_sources
from dca_manager_spark.io.manifest import (
    ConcurrentCommitError,
    ManifestTable,
    WriteOperation,
    precombine_dedup,
)
from dca_manager_spark.io.readers import (
    TABLE_NAMES,
    load_table,
    load_tables,
    read_dca_config,
    read_json_canonical,
    register_tables,
    validate_dca_config,
)
from dca_manager_spark.io.writers import (
    save_as_table,
    write_partitioned_json,
    write_partitioned_parquet,
    write_stream_parquet,
)

__all__ = [
    "TABLE_NAMES", "load_table", "load_tables", "register_tables",
    "read_json_canonical", "read_dca_config", "validate_dca_config",
    "WriteOperation", "precombine_dedup",
    "save_as_table", "write_partitioned_json", "write_partitioned_parquet",
    "write_stream_parquet", "write_bucketed_table", "bucketed_join",
    "ManifestTable", "ConcurrentCommitError", "register_python_sources",
]
