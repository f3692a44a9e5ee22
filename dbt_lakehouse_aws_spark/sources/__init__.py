from dbt_lakehouse_aws_spark.sources.reader import (
    read_csv_source,
    with_path_metadata,
)
from dbt_lakehouse_aws_spark.sources.snapshots import latest_per_group, latest_snapshot
from dbt_lakehouse_aws_spark.sources.catalog import TableCatalog, load_star_schema

__all__ = [
    "read_csv_source",
    "with_path_metadata",
    "latest_snapshot",
    "latest_per_group",
    "TableCatalog",
    "load_star_schema",
]
