"""Source layer: parquet-dir and JDBC database loading (DBI-handle analog)."""

from __future__ import annotations

from p5_rdf_rdb2rdf_spark.sources import from_parquet_dir

SF_DIR = "/root/testdata/sf0.001"


def test_from_parquet_dir(spark):
    tables = from_parquet_dir(spark, SF_DIR)
    assert set(tables) >= {
        "region",
        "nation",
        "customer",
        "orders",
        "lineitem",
        "documents",
        "embeddings",
    }
    assert tables["region"].count() == 5
    # views registered for rr:sqlQuery use
    assert spark.sql("SELECT count(*) c FROM region").head().c == 5


def test_from_jdbc_derby_partitioned_read(spark):
    """The DBI-handle analog over a real JDBC driver: in-memory Derby (its
    jar ships with Spark). A partitioned read returns every row, NULLs
    included, in the requested partitions, and registers the temp view.
    The table is not called EMP: a view of that name would replace the
    session's ``emp`` fixture view (view names are case-insensitive)."""
    from p5_rdf_rdb2rdf_spark.sources import from_jdbc

    url = "jdbc:derby:memory:from_jdbc_test;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    rows = [(1, "ann", 10.5), (2, None, 20.0), (3, "cy", None), (4, "dee", 40.25)]
    df = spark.createDataFrame(rows, "ID int, NAME string, SAL double")
    df.write.jdbc(url, "JDBC_EMP", properties=props)

    tables = from_jdbc(
        spark,
        url,
        ["JDBC_EMP"],
        properties=props,
        partition_options={
            "JDBC_EMP": {
                "partitionColumn": "ID",
                "lowerBound": "1",
                "upperBound": "4",
                "numPartitions": "2",
            }
        },
    )
    got = tables["JDBC_EMP"]
    assert got.rdd.getNumPartitions() == 2
    assert sorted(map(tuple, got.collect())) == rows
    assert spark.sql("SELECT count(*) c FROM JDBC_EMP").head().c == 4
