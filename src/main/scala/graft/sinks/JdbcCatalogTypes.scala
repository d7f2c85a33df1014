package graft.sinks

/** Live target-catalog type lookup at sink open — the reference
  * queries ClickHouse `system.columns` once per sink open to learn
  * each target column's declared type and drive literal quoting
  * (MyWindowFunction.scala:73-85); this is that lookup as a plain
  * parameterized catalog query, so the SAME sink code serves a
  * ClickHouse-shaped catalog (`system.columns`) or an ANSI one
  * (Derby's `SYS.SYSCOLUMNS`, the in-image stand-in).
  *
  * Driver-side, once per sink open (a handful of rows) — the map then
  * ships to executors as part of the statement-formatting plan.
  */
object JdbcCatalogTypes {

  /** Run `sql` (expected to yield (column_name, declared_type) rows)
    * with the given bind parameters; returns name → declared type. */
  def fromCatalogQuery(url: String, sql: String, params: Seq[String],
      props: Map[String, String] = Map.empty): Map[String, String] = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, p)
    try {
      val st = conn.prepareStatement(sql)
      try {
        params.zipWithIndex.foreach { case (v, i) => st.setString(i + 1, v) }
        val rs = st.executeQuery()
        val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
        while (rs.next()) out.update(rs.getString(1), rs.getString(2))
        out.toMap
      } finally st.close()
    } finally conn.close()
  }

  /** ClickHouse catalog shape — the reference's exact lookup. */
  def clickhouse(url: String, database: String, table: String,
      props: Map[String, String] = Map.empty): Map[String, String] =
    fromCatalogQuery(url,
      "SELECT name, type FROM system.columns WHERE database = ? AND table = ?",
      Seq(database, table), props)

  /** Derby catalog shape: SYS.SYSCOLUMNS joined to its table/schema.
    * COLUMNDATATYPE casts to its DDL text (`VARCHAR(40) NOT NULL`,
    * `INTEGER`, …) — the ANSI equivalent of `system.columns.type`. */
  def derby(url: String, schema: String, table: String,
      props: Map[String, String] = Map.empty): Map[String, String] =
    fromCatalogQuery(url,
      """SELECT c.COLUMNNAME, CAST(c.COLUMNDATATYPE AS VARCHAR(128))
        |FROM SYS.SYSCOLUMNS c
        |JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID
        |JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID
        |WHERE t.TABLENAME = ? AND s.SCHEMANAME = ?""".stripMargin,
      Seq(table, schema), props)
}

/** Multi-URL failover statement writer — the reference balances its
  * batched INSERTs across replica URLs via
  * BalancedClickhouseDataSource (ClickHouseSink.scala:40-47). Same
  * contract here: the batch id rotates the starting replica (load
  * balance), and a replica that fails to connect or write is skipped
  * for the NEXT url until one accepts the chunk; only when every URL
  * has refused does the failure propagate (into BatchedRetrySink's
  * bounded retry, then Spark's task retry).
  *
  * The statement chunk is materialized once so it can replay across
  * URL attempts — chunk sizes are bounded by the sink's fixed chunk size,
  * so this is an executor-memory-bounded buffer, not a partition
  * materialization.
  */
class FailoverStatementWriter(
    urls: Seq[String],
    props: Map[String, String] = Map.empty) extends StatementWriter {
  require(urls.nonEmpty, "FailoverStatementWriter: empty URL list")

  /** Attempt counter per outcome, test-visible (the failover spec pins
    * that the dead replica was actually tried and skipped). */
  @volatile var lastAttempts: Seq[(String, Boolean)] = Nil

  override def write(batchId: Long, statements: Iterator[String]): Unit = {
    val chunk = statements.toIndexedSeq
    val n = urls.size
    var lastErr: Throwable = null
    var i = 0
    val attempts = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    while (i < n) {
      val url = urls((((batchId % n) + n + i) % n).toInt)
      try {
        new JdbcStatementWriter(url, props).write(batchId, chunk.iterator)
        attempts += url -> true
        lastAttempts = attempts.toSeq
        return
      } catch {
        case scala.util.control.NonFatal(e) =>
          attempts += url -> false
          lastErr = e
          i += 1
      }
    }
    lastAttempts = attempts.toSeq
    throw lastErr
  }
}
