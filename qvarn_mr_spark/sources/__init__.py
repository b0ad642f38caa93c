"""Source readers & mutable stores: parquet tables, CRUD resource store with
change-notification emission, CDC feeds (SURVEY §2.1)."""

from qvarn_mr_spark.sources.migration import (
    MigrationError,
    apply_transforms,
)
from qvarn_mr_spark.sources.resource_store import ResourceStore, RevisionConflict
from qvarn_mr_spark.sources.writers import (
    read_partitioned,
    write_bucketed,
    write_partitioned,
)

__all__ = ["MigrationError", "ResourceStore", "RevisionConflict",
           "apply_transforms", "read_partitioned", "write_bucketed",
           "write_partitioned"]
