"""Bucketed tables on the TableStore — shuffle-free co-located joins.

The reference leaves join physical strategy to Catalyst (SURVEY §2.5); at
100 TB the dominant cost of a repeated big-big equi-join is re-shuffling
both sides every query. Spark's native bucketing fixes that: hash-cluster
each table into N buckets on the join key at WRITE time, and every later
join/aggregation on that key reads co-located buckets with ZERO Exchange
(asserted in tests/test_bucketing.py against the physical plan).

Plain ``DataFrameWriter.bucketBy`` requires a catalog table, so the store
writes through ``saveAsTable`` into a store-managed directory and records
the bucket spec in the manifest; ``read_bucketed`` re-registers the
location with ``CREATE TABLE ... CLUSTERED BY ... INTO n BUCKETS`` when the
session catalog doesn't know it yet (a fresh session can always recover the
bucketed layout from the manifest alone).
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _catalog_name(store, name: str, version: int) -> str:
    safe = re.sub(r"[^A-Za-z0-9_]", "_", f"{os.path.basename(store.root)}_{name}")
    return f"pos_bkt_{safe}_v{version}"


def write_bucketed(store, spark: SparkSession, df: DataFrame, name: str,
                   bucket_by: Sequence[str], num_buckets: int,
                   sort_by: Sequence[str] | None = None,
                   stats_columns: Sequence[str] | None = None) -> int:
    """Overwrite ``name`` hash-clustered into ``num_buckets`` on
    ``bucket_by`` (optionally sorted within buckets — enables merge-join
    without per-task sorts)."""
    d = store._new_data_dir(name)
    version = store.version(name) + 1
    cat = _catalog_name(store, name, version)
    spark.sql(f"DROP TABLE IF EXISTS {cat}")
    writer = (df.write.format("parquet").mode("overwrite")
              .bucketBy(num_buckets, *bucket_by)
              .option("path", d))
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(cat)
    return store._publish(name, d, df, [], "bucketed_overwrite", None,
                          stats_columns=stats_columns,
                          metrics={"bucket_by": list(bucket_by),
                                   "num_buckets": num_buckets,
                                   "sort_by": list(sort_by or []),
                                   "catalog_name": cat})


def read_bucketed(store, spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed store table with its bucket metadata intact (so joins
    and aggregations on the bucket key plan without an Exchange)."""
    m = store.manifest(name)
    if m is None or "bucket_by" not in m.get("metrics", {}):
        raise ValueError(f"table '{name}' is not bucketed")
    info = m["metrics"]
    cat = info["catalog_name"]
    if not spark.catalog.tableExists(cat):
        schema = store.read(spark, name).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)
        sort = (f"SORTED BY ({', '.join(info['sort_by'])}) "
                if info["sort_by"] else "")
        spark.sql(
            f"CREATE TABLE {cat} ({cols}) USING parquet "
            f"CLUSTERED BY ({', '.join(info['bucket_by'])}) {sort}"
            f"INTO {info['num_buckets']} BUCKETS "
            f"LOCATION '{m['dirs'][0]}'")
    return spark.table(cat)
