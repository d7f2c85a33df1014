package graft

import graft.sinks.{BatchedRetrySink, JdbcStatementWriter, SqlDialect, SqlInsertFormatter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end proof of the INSERT formatting against a REAL SQL parser
  * — embedded Derby (on the Spark classpath), not string assertions:
  * the reference executes its generated statements against a live
  * ClickHouse; this is the closest in-image equivalent. */
class DerbyRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val url = "jdbc:derby:memory:graftrt;create=true"

  private def exec(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    } finally conn.close()
  }

  test("1200 hostile rows round-trip through BatchedRetrySink into embedded Derby") {
    import spark.implicits._
    exec("CREATE TABLE RT (ID BIGINT, NAME VARCHAR(400), VAL DOUBLE)")
    val nasty = Seq(
      "it's a quote", "line\nbreak", "back\\slash", "tab\there",
      "double''quote", "trailing space ", "comma,paren)( splice",
      "NUL" + 0.toChar + "char", "semicolon; DROP TABLE RT", "plain")
    val rows = (0 until 1200).map { i =>
      (i.toLong, s"${nasty(i % nasty.length)} #$i", i * 0.5)
    }
    val df = rows.toDF("ID", "NAME", "VAL").repartition(7)
    val sink = new BatchedRetrySink(new JdbcStatementWriter(url), maxRetries = 1, backoffMs = 5L)
    // 128-row batches × 7 source partitions → multiple multi-row
    // INSERTs per partition, each chunk one transaction
    sink.writeBatch("RT", spark_partition_id(), 128, dialect = SqlDialect.Ansi)(df, 0L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "RT")
      .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      .load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(back.length === rows.length)
    assert(back === rows.sortBy(_._1),
      "values read back from Derby must equal the source rows exactly")
  }

  test("packed whole windows over many keys land every row once, in few statements per partition") {
    import spark.implicits._
    exec("CREATE TABLE MK (ID BIGINT, K VARCHAR(16), NAME VARCHAR(40))")
    // 3 hot keys of 100 rows (full windows) and 397 cold keys of ~7
    val rows = (0 until 3000).map { i =>
      val k = if (i % 10 == 0) s"hot-${i % 3}" else s"k${i % 397}"
      (i.toLong, k, s"it's row $i")
    }
    val df = rows.toDF("ID", "K", "NAME").repartition(5)
    val n = 20
    new BatchedRetrySink(new JdbcStatementWriter(url), maxRetries = 1, backoffMs = 5L)
      .writeBatch("MK", col("K"), n, dialect = SqlDialect.Ansi)(df, 0L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "MK")
      .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      .load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(back === rows, "Derby must hold exactly the input rows: no loss, no duplicates")

    // next fit: any two consecutive statements of a partition hold more
    // than n rows, so a partition of r rows has fewer than 2r/n + 1
    val perPartition = SqlInsertFormatter.insertStatements(df, "MK", col("K"), n,
        dialect = SqlDialect.Ansi)
      .select(spark_partition_id(), col("stmt")).collect()
      .groupBy(_.getInt(0)).values
      .map(ss => (ss.length, ss.map(_.getString(1).split("\\),\\(").length).sum))
    assert(perPartition.map(_._2).sum === rows.length)
    perPartition.foreach { case (stmts, r) =>
      assert(stmts < 2.0 * r / n + 1, s"$stmts statements for $r rows at window $n")
    }
  }

  test("numeric-target guard survives a real parser: hostile string under numeric type → NULL row value") {
    import spark.implicits._
    exec("CREATE TABLE NG (ID BIGINT, AMOUNT DOUBLE)")
    // AMOUNT arrives as a STRING df-column bound to a numeric target —
    // the raw-emit path; the splice attempt must degrade to NULL, not
    // corrupt or inject
    val df = Seq((1L, "42.5"), (2L, "1),(999"), (3L, "7"), (4L, "13; DROP TABLE NG"))
      .toDF("ID", "AMOUNT")
    val stmts = SqlInsertFormatter
      .insertStatements(df, "NG", lit(0), 10,
        targetTypes = Map("AMOUNT" -> "Float64"), dialect = SqlDialect.Ansi)
      .collect().map(_.getString(0))
    stmts.foreach(exec)
    val conn = java.sql.DriverManager.getConnection(url)
    val out = try {
      val rs = conn.createStatement().executeQuery("SELECT ID, AMOUNT FROM NG ORDER BY ID")
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
      while (rs.next()) {
        val id = rs.getLong(1)
        val v = rs.getDouble(2) // wasNull refers to the LAST column read
        buf += ((id, if (rs.wasNull()) None else Some(v)))
      }
      buf.toSeq
    } finally conn.close()
    assert(out === Seq(1L -> Some(42.5), 2L -> None, 3L -> Some(7.0), 4L -> None))
  }
}
