"""Latest-snapshot source transforms (SURVEY.md §2.1 S5/S6).

The reference keeps "only the most current data" per source by
filtering on the ingest key:

* S5 — scalar-subquery max: ``where _ptkey = (select max(_ptkey)
  from src)`` (reference ``src_fangraphs_projections_preseason_
  hitting.sql:17-21`` and 6 sibling models).
* S6 — windowed latest per group: ``rank() over (partition by
  _filename order by _ptkey desc) = 1`` (reference
  ``models/source/nfbc/src_nfbc_adp.sql:15-24``).

The SGP build does not call these: ``sources.reader.read_csv_source``
chooses a raw source's newest files from its listing, before the scan.
These frame operators serve callers whose input is already a frame:
the registered ``s5_latest_snapshot`` / ``s6_latest_per_group``
queries, and the streaming sink ``incremental_latest_snapshot``, which
orders its ingest dates by ``reader.ingest_date_col()`` (the padded
date; the unpadded ``_ptkey`` puts 2025-9-30 above 2025-10-1).

Scale notes:

* ``latest_snapshot`` is implemented as agg → broadcast semi-join,
  NOT ``max().over(Window.partitionBy())`` — an empty partitionBy
  would shuffle the whole table to one partition. The 1-row agg side
  broadcasts; the big side is filtered in place with no shuffle. With
  a real Hive-partitioned layout Catalyst turns the same shape into
  dynamic partition pruning and never reads stale snapshots at all.
* ``latest_per_group`` shuffles by the group key once (unavoidable:
  the winner per group is a global property of the group). Group
  cardinality in the reference is tiny (#distinct files), so AQE
  coalesces; for high-cardinality keys the same plan scales linearly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_snapshot(df: DataFrame, key: str = "_ptkey") -> DataFrame:
    """Keep only rows carrying the table-wide max ingest key (S5)."""
    max_key = df.agg(F.max(key).alias(key))
    # inner join on the 1-row max: Catalyst broadcasts it (BHJ), the
    # big side streams through with a codegen'd filter — no shuffle.
    return df.join(F.broadcast(max_key), on=key, how="inner")


def latest_per_group(
    df: DataFrame,
    group_cols: Sequence[str] = ("_filename",),
    order_col: str = "_ptkey",
) -> DataFrame:
    """Keep the latest snapshot within each group (S6).

    ``rank()`` (not row_number) matches the reference: every row of
    the winning ingest date survives, ties included.
    """
    w = Window.partitionBy(*group_cols).orderBy(F.desc(order_col))
    return (
        df.withColumn("_rnk", F.rank().over(w))
        .filter(F.col("_rnk") == 1)
        .drop("_rnk")
    )
