"""Table catalog: named-table registry + materialization sink.

The reference materializes every dbt model as an Iceberg/Parquet
table in one of three schemas (``source``/``stage``/``main``,
``dbt_project.yml:38-51``). Here a :class:`TableCatalog` plays that
role: models register DataFrames under ``schema.name``, optionally
materialized to Parquet (S8: ``df.write.saveAsTable`` equivalent).

For the driver's star-schema testdata, :func:`load_star_schema`
registers every parquet table as a temp view so both the DataFrame
API and ``spark.sql`` can reach them — mirroring how the DuckDB
oracle sees the same files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every driver testdata table and register temp views."""
    out: dict[str, DataFrame] = {}
    for name in STAR_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


class TableCatalog:
    """Minimal schema-qualified table registry with a columnar sink
    (Parquet by default; ``file_format="orc"`` for ORC consumers —
    both keep column pruning and min/max row-group skipping).

    ``materialize=True`` writes Parquet and re-reads it, matching the
    reference's every-model-is-a-table semantics (each consumer reads
    the materialized artifact, not the producer's plan). With
    ``materialize=False`` the DataFrame (its logical plan) is shared
    directly — the intra-job analogue, letting Catalyst fuse stages.
    """

    def __init__(self, spark: SparkSession, warehouse_dir: str | None = None):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self._tables: dict[str, DataFrame] = {}

    @staticmethod
    def _qualify(schema: str, name: str) -> str:
        return f"{schema}.{name}" if schema else name

    def put(
        self,
        schema: str,
        name: str,
        df: DataFrame,
        *,
        materialize: bool = False,
        partition_by: list[str] | None = None,
        bucket_by: list[str] | None = None,
        num_buckets: int = 16,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_files: int | None = None,
        file_format: str = "parquet",
    ) -> DataFrame:
        key = self._qualify(schema, name)
        if bucket_by:
            # bucketed catalog table: co-locates rows by key hash at
            # write time, so later equi-joins/aggs on the bucket key
            # read pre-partitioned data and skip the shuffle entirely
            # (the lever that replaces shuffle with layout at 100 TB).
            table = f"{schema}__{name}" if schema else name
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(num_buckets, *bucket_by)
                .sortBy(*bucket_by)
                .saveAsTable(table)
            )
            df = self.spark.table(table)
            self._tables[key] = df
            return df
        if materialize:
            if not self.warehouse_dir:
                raise ValueError("materialize=True requires a warehouse_dir")
            path = os.path.join(self.warehouse_dir, schema, name)
            if sort_by:
                # clustered write: sorting within files tightens the
                # parquet row-group min/max ranges on the sort keys, so
                # later range/equality predicates skip whole row groups
                # at the scan (poor man's Z-order; one key or a
                # prefix-ordered few is where it pays).
                df = df.sortWithinPartitions(*sort_by)
            if zorder_by:
                # multi-dimensional clustering: Morton-interleaved sort
                # key + range partitioning, so EVERY z-ordered column's
                # min/max tightens per file (see sources/zorder.py).
                from dbt_lakehouse_aws_spark.sources.zorder import zorder_write_order

                df = zorder_write_order(df, zorder_by, num_ranges=zorder_files)
            writer = df.write.mode("overwrite").format(file_format)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.save(path)
            df = self.spark.read.format(file_format).load(path)
        self._tables[key] = df
        df.createOrReplaceTempView(f"{schema}__{name}" if schema else name)
        return df

    def get(self, schema: str, name: str) -> DataFrame:
        return self._tables[self._qualify(schema, name)]

    def __contains__(self, key: str) -> bool:
        return key in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)
