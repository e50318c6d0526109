"""JDBC source option mapping (S9: keyset pagination → range partitioning)."""

from nebula_importer_spark.sources.jdbc import options_from_sql_config


def test_build_reader_options_range_partitioning():
    sql = {
        "endpoint": "db:3306",
        "dbName": "app",
        "username": "u",
        "password": "p",
        "dbTable": {"name": "users", "id": {"name": "id"}},
    }
    opts = options_from_sql_config(
        sql,
        num_partitions=50,   # reader-concurrency analog (manager.go:24)
        bounds=(0, 1_000_000),
    )
    assert opts["url"] == "jdbc:mysql://db:3306/app"
    assert opts["dbtable"] == "users"
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "50"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "1000000"
    assert opts["user"] == "u" and opts["password"] == "p"


def test_jdbc_read_path_end_to_end_embedded_derby(spark):
    """S9 end-to-end: the actual spark.read.format("jdbc") path, against the
    Derby embedded driver that ships inside the Spark distribution (no
    external service). Write a table over JDBC, read it back through
    read_records_jdbc — including a range-partitioned scan — and run the
    records through the mapping core."""
    from nebula_importer_spark.operators.mapping import node_values
    from nebula_importer_spark.plans.specs import NodeIDSpec, NodeSpec, PropSpec
    from nebula_importer_spark.sources.jdbc import read_records_jdbc

    url = "jdbc:derby:memory:s9db;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    src = spark.createDataFrame(
        [(1, "alice", 30), (2, "bob", 40), (3, "carol", 50)],
        "id int, name string, score int",
    )
    src.write.format("jdbc").option("url", url).option("driver", driver).option(
        "dbtable", "people"
    ).mode("overwrite").save()

    # unpartitioned read
    rec = read_records_jdbc(
        spark,
        columns=["id", "name", "score"],
        jdbc_options={"url": url, "dbtable": "people", "driver": driver},
    )
    spec = NodeSpec(
        name="Person",
        id=NodeIDSpec(type="INT", index=0),
        props=[PropSpec("name", "STRING", 1), PropSpec("score", "INT", 2)],
    )
    frags = {r.fragment for r in node_values(rec, spec).collect()}
    assert frags == {'1:("alice", 30)', '2:("bob", 40)', '3:("carol", 50)'}

    # range-partitioned read (the keyset-pagination replacement, sql.go:196-213)
    rec2 = read_records_jdbc(
        spark,
        columns=["id", "name", "score"],
        jdbc_options={
            "url": url,
            "dbtable": "people",
            "driver": driver,
            "partitionColumn": "id",
            "lowerBound": "0",
            "upperBound": "4",
            "numPartitions": "2",
        },
    )
    assert rec2.rdd.getNumPartitions() == 2
    assert {tuple(r.record) for r in rec2.collect()} == {
        ("1", "alice", "30"), ("2", "bob", "40"), ("3", "carol", "50")
    }
