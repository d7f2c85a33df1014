package graft

import graft.sinks.{BatchedRetrySink, FailoverStatementWriter, JdbcCatalogTypes, SqlDialect}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two live-sink behaviors the reference has that string-level
  * formatting alone does not prove: (1) the target column types are
  * QUERIED from the live catalog at sink open (MyWindowFunction's
  * `system.columns` lookup, here against Derby's SYS.SYSCOLUMNS) and
  * drive quoting; (2) writes fail over across replica URLs
  * (BalancedClickhouseDataSource semantics) — a dead first replica is
  * skipped, not fatal. */
class CatalogSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val url = "jdbc:derby:memory:graftcat;create=true"
  private val deadUrl = "jdbc:derby:memory:graftdead" // no ;create → connect fails

  private def exec(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    } finally conn.close()
  }

  private def readBack(table: String) =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      .load()

  test("sink open queries the live catalog for declared types; quoting follows them") {
    import spark.implicits._
    exec("CREATE TABLE CT (ID BIGINT, NAME VARCHAR(60) NOT NULL, BORN TIMESTAMP, SCORE DOUBLE)")
    // the type map is QUERIED, not supplied
    val types = JdbcCatalogTypes.derby(url, "APP", "CT")
    assert(types.keySet === Set("ID", "NAME", "BORN", "SCORE"))
    assert(types("NAME").toUpperCase.startsWith("VARCHAR"))
    assert(types("BORN").toUpperCase.startsWith("TIMESTAMP"))
    assert(types("ID").toUpperCase.startsWith("BIGINT"))

    val df = Seq(
      (1L, "o'quinn", java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), 1.5),
      (2L, "plain", java.sql.Timestamp.valueOf("2024-02-03 04:05:06"), -2.25))
      .toDF("ID", "NAME", "BORN", "SCORE")
    val sink = new BatchedRetrySink(new graft.sinks.JdbcStatementWriter(url),
      maxRetries = 1, backoffMs = 5L)
    sink.writeBatch("CT", spark_partition_id(), 10,
      targetTypes = types, dialect = SqlDialect.Ansi)(df, 0L)

    val back = readBack("CT").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).toString, r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(back === Seq(
      (1L, "o'quinn", "2024-01-02 03:04:05.0", 1.5),
      (2L, "plain", "2024-02-03 04:05:06.0", -2.25)))

    // lower- and mixed-case frame columns find Derby's upper-cased
    // entries, so the string `Qty` bound to an INTEGER column goes in
    // unquoted (Derby rejects a quoted value there)
    exec("CREATE TABLE MC (ID BIGINT, QTY INTEGER, NOTE VARCHAR(20))")
    val mixed = Seq((1L, "7", "a'b"), (2L, "-3", "c")).toDF("id", "Qty", "note")
    sink.writeBatch("MC", spark_partition_id(), 10,
      targetTypes = JdbcCatalogTypes.derby(url, "APP", "MC"), dialect = SqlDialect.Ansi)(mixed, 1L)
    val mixedBack = readBack("MC").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    assert(mixedBack === Seq((1L, 7, "a'b"), (2L, -3, "c")))
  }

  test("ClickHouse wrapped types: Nullable/LowCardinality unwrap, DateTime64 precision, Array literals") {
    import graft.sinks.SqlInsertFormatter._
    import spark.implicits._
    // unwrap rules on what a real system.columns reports
    assert(targetIsQuoted("Nullable(String)"))
    assert(targetIsQuoted("LowCardinality(Nullable(String))"))
    assert(targetIsQuoted("Nullable(DateTime64(3))"))
    assert(!targetIsQuoted("Nullable(Int64)"))
    assert(!targetIsQuoted("Nullable(Float64)"))
    assert(dateTime64Precision("DateTime64(6)") === Some(6))
    assert(dateTime64Precision("Nullable(DateTime64(3, 'UTC'))") === Some(3))
    assert(dateTime64Precision("DateTime64") === Some(3)) // CH default
    assert(dateTime64Precision("DateTime") === None)
    assert(arrayElementType("Array(String)") === Some("String"))
    assert(arrayElementType("Array(Nullable(String))") === Some("String"))
    assert(arrayElementType("Nullable(Array(Int64))") === Some("Int64"))
    assert(arrayElementType("String") === None)

    // rendered statement text: the shapes ClickHouse accepts
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        Seq("a'b", "plain"), Seq(1, 2, 3)))
      .toDF("ID", "TS", "TAGS", "NUMS")
    val tuple = df.select(valuesTuple(df, Map(
      "ID" -> "Nullable(Int64)",
      "TS" -> "Nullable(DateTime64(3))",
      "TAGS" -> "Array(Nullable(String))",
      "NUMS" -> "Array(Int64)")).as("t")).head.getString(0)
    assert(tuple === raw"(1,'2024-01-02 03:04:05.123',['a\'b','plain'],[1,2,3])", tuple)

    // array target bound to a scalar column degrades to NULL, never splices
    val bad = df.select(valuesTuple(df.select(col("ID")), Map("ID" -> "Array(Int64)")).as("t"))
      .head.getString(0)
    assert(bad === "(NULL)", bad)
  }

  test("failover writer: dead first replica skipped, write lands via the second") {
    import spark.implicits._
    exec("CREATE TABLE FO (ID BIGINT, NAME VARCHAR(60))")
    val writer = new FailoverStatementWriter(Seq(deadUrl, url))
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("ID", "NAME").coalesce(1)
    val sink = new BatchedRetrySink(writer, maxRetries = 0, backoffMs = 1L)
    // batchId 0 starts at urls(0) = the dead replica
    sink.writeBatch("FO", lit(0), 10, dialect = SqlDialect.Ansi)(df, 0L)
    assert(readBack("FO").count() === 3L)
  }

  test("failover writer: every replica dead -> the failure propagates") {
    val writer = new FailoverStatementWriter(Seq(deadUrl, "jdbc:derby:memory:alsodead"))
    intercept[java.sql.SQLException] {
      writer.write(0L, Iterator("VALUES 1"))
    }
    assert(writer.lastAttempts.map(_._2) === Seq(false, false),
      "both replicas must have been tried")
  }

  test("failover writer: batch id rotates the starting replica (balance)") {
    exec("CREATE TABLE BAL (ID BIGINT)")
    val writer = new FailoverStatementWriter(Seq(url, deadUrl))
    // batchId 1 starts at urls(1) = dead, falls over to urls(0) = live
    writer.write(1L, Iterator("INSERT INTO BAL (ID) VALUES (7)"))
    assert(writer.lastAttempts === Seq(deadUrl -> false, url -> true))
    assert(readBack("BAL").count() === 1L)
  }
}
