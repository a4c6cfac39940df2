"""Relational sources — the engine's analog of the reference's DBI handle.

The reference connects to any DBI-supported RDBMS and introspects it
(``RDF::RDB2RDF::DirectMapping->process($dbh)``). Here a "database" is a
dict of table-name -> DataFrame plus a constraints manifest; this module
builds that dict from the places a Spark deployment actually reads:

- a directory of parquet files (one per table) — the sandbox/test path
- a JDBC connection — the closest 1:1 analog of the reference's DBI usage
  (Spark pushes projections/filters down to the RDBMS exactly like the
  reference delegates SQL to it)

Both return the same ``dict[str, DataFrame]`` the mapping engine consumes, so
a user of the reference pointing at Postgres can switch with one call.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def from_parquet_dir(
    spark: SparkSession, path: str, register_views: bool = True
) -> dict[str, DataFrame]:
    """Every ``<table>.parquet`` under ``path`` becomes a table."""
    out: dict[str, DataFrame] = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        table = name[: -len(".parquet")]
        df = spark.read.parquet(os.path.join(path, name))
        if register_views:
            df.createOrReplaceTempView(table)
        out[table] = df
    return out


def from_jdbc(
    spark: SparkSession,
    url: str,
    tables: list[str],
    properties: dict[str, str] | None = None,
    partition_options: dict[str, dict[str, Any]] | None = None,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """JDBC tables — the 1:1 analog of the reference's DBI handle.

    ``partition_options[table]`` may carry ``partitionColumn`` /
    ``lowerBound`` / ``upperBound`` / ``numPartitions`` so large tables read
    in parallel instead of through one connection (the scalability ceiling
    the single-connection reference has by construction).
    """
    out: dict[str, DataFrame] = {}
    for table in tables:
        reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        for k, v in (partition_options or {}).get(table, {}).items():
            reader = reader.option(k, v)
        df = reader.load()
        if register_views:
            df.createOrReplaceTempView(table)
        out[table] = df
    return out
