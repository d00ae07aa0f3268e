"""SparkDatabase unit coverage: statement splitting, driver-side read
APIs, schema evolution on append."""

from __future__ import annotations

from sayn_spark.core.database import SparkDatabase, split_statements


def test_split_statements_quotes_and_comments():
    script = """
    -- leading comment; with a semicolon
    CREATE TABLE t AS SELECT 'a;b' AS s;
    INSERT INTO t VALUES ('x -- not a comment');

    SELECT * FROM t
    """
    stmts = split_statements(script)
    assert len(stmts) == 3
    assert "'a;b'" in stmts[0]
    assert stmts[1].startswith("INSERT")
    assert stmts[2].startswith("SELECT")


def test_split_statements_empty_and_trailing():
    assert split_statements(";;") == []
    assert split_statements("SELECT 1;") == ["SELECT 1"]


def test_split_statements_nested_block_comments():
    # Spark SQL nests bracketed comments (SPARK-28880): the ';' inside
    # the tail of the OUTER comment must not split the statement
    script = "SELECT /* outer /* inner */ still; commented */ 1; SELECT 2"
    stmts = split_statements(script)
    assert len(stmts) == 2
    assert stmts[0].endswith("1")
    assert stmts[1] == "SELECT 2"
    # unterminated comment swallows the rest rather than mis-splitting
    assert split_statements("SELECT /* /* */ 1; SELECT 2") == [
        "SELECT /* /* */ 1; SELECT 2"
    ]


def test_read_data_and_stream(spark):
    db = SparkDatabase(spark)
    db.load_data("rd_t", [{"a": 1}, {"a": 2}], schema="a long", replace=True)
    rows = db.read_data("SELECT a FROM rd_t ORDER BY a")
    assert rows == [{"a": 1}, {"a": 2}]
    streamed = list(db.read_data_stream("SELECT a FROM rd_t ORDER BY a"))
    assert streamed == rows


def test_execute_returns_last_result(spark):
    db = SparkDatabase(spark)
    result = db.execute("DROP TABLE IF EXISTS ex_t; CREATE TABLE ex_t AS SELECT 5 AS v; SELECT v FROM ex_t")
    assert [r.v for r in result.collect()] == [5]


def test_merge_keeps_destination_column_order(spark):
    """A parquet merge on a key that is not the first column must leave
    the destination's columns in their order (the stamped streaming
    twins merge on a trailing ``ingest_id``)."""
    db = SparkDatabase(spark, use_delta=False)
    schema = "doc_id long, text string, ingest_id long"
    db.load_data("mco_dst", [(1, "a", 0), (2, "b", 1)], schema=schema, replace=True)
    db.load_data("mco_src", [(3, "c", 1)], schema=schema, replace=True)
    db.merge_tables("mco_src", "mco_dst", "ingest_id")
    assert spark.table("mco_dst").columns == ["doc_id", "text", "ingest_id"]
    assert sorted(tuple(r) for r in spark.table("mco_dst").collect()) == [
        (1, "a", 0),
        (3, "c", 1),
    ]
    db.drop_object("mco_dst")
