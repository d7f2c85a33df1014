package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type-aware SQL literal formatting, generalized from the reference's
  * MyWindowFunction.formatValue (quote + escape string-ish types, raw
  * numerics, NULL for missing) — but as codegen'd Column expressions
  * that run distributed, instead of per-record driver string work.
  *
  * One formatter, driven by one type per column: the TARGET table's
  * declared column type, as MyWindowFunction looks it up from
  * `system.columns` and as `targetTypes` supplies it. A column with no
  * catalog entry takes the type its Spark type implies (numerics and
  * booleans unquoted, arrays by element type, anything else a quoted,
  * escaped String). The Spark type only renders the value (timestamp
  * and date formats), so a string df-column bound to a numeric target
  * column is emitted raw/unquoted (numeric-shape-checked), and a
  * numeric df-column bound to a String target is quoted — exactly the
  * reference's behavior.
  *
  * See [[SqlDialect]] for the escaping rules of the target engine;
  * defaults everywhere are ClickHouse-like (the reference's sink).
  */

/** Literal-escaping dialect of the target SQL engine. */
sealed trait SqlDialect
object SqlDialect {
  /** Backslash escapes incl. control characters — ClickHouse/MySQL
    * string-literal rules (the reference's target). */
  case object ClickHouseLike extends SqlDialect
  /** Standard SQL: the single quote doubles; backslash and newlines are
    * ordinary characters inside a string literal (Derby/Postgres
    * standard-conforming strings). */
  case object Ansi extends SqlDialect
}

object SqlInsertFormatter {

  /** Escape a string Column for single-quoted SQL literals per the
    * target dialect — ClickHouse-like: backslash escapes + the control
    * characters NUL/\n/\r/\t (raw control bytes would break statement
    * text there); ANSI: only the quote doubles, everything else is
    * legal inside the literal. */
  private def escaped(c: Column, dialect: SqlDialect): Column = dialect match {
    case SqlDialect.Ansi =>
      regexp_replace(c, "'", "''")
    case SqlDialect.ClickHouseLike =>
      val steps: Seq[(String, String)] = Seq(
        "\\\\" -> "\\\\\\\\", // backslash first, it's the escape char
        "'" -> "\\\\'",
        "\u0000" -> "\\\\0",
        "\n" -> "\\\\n",
        "\r" -> "\\\\r",
        "\t" -> "\\\\t")
      steps.foldLeft(c) { case (acc, (from, to)) => regexp_replace(acc, from, to) }
  }

  private def quoted(c: Column, dialect: SqlDialect): Column =
    concat(lit("'"), escaped(c, dialect), lit("'"))

  /** Render the column as text per its DataFrame type (timestamps and
    * dates in the reference's wall-clock formats), without quoting. */
  private def rendered(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case DateType => date_format(c, "yyyy-MM-dd")
    case _ => c.cast(StringType)
  }

  /** Strip ClickHouse transparent wrappers — `Nullable(T)` /
    * `LowCardinality(T)` (in any nesting order) → `T`. What a real
    * `system.columns` reports is almost always wrapped; literal rules
    * follow the inner type. */
  private[graft] def unwrap(declared: String): String = {
    var t = declared.trim
    var changed = true
    while (changed) {
      changed = false
      for (w <- Seq("Nullable(", "LowCardinality(")) {
        if (t.startsWith(w) && t.endsWith(")")) {
          t = t.substring(w.length, t.length - 1).trim
          changed = true
        }
      }
    }
    t
  }

  /** `Array(T)` → Some(T) (unwrapped element type), None otherwise. */
  private[graft] def arrayElementType(declared: String): Option[String] = {
    val t = unwrap(declared)
    if (t.startsWith("Array(") && t.endsWith(")"))
      Some(unwrap(t.substring("Array(".length, t.length - 1)))
    else None
  }

  /** `DateTime64(p[, 'tz'])` → Some(p) clamped to [0, 6] (Spark's
    * date_format fraction ceiling — ClickHouse allows up to 9). */
  private[graft] def dateTime64Precision(declared: String): Option[Int] = {
    val t = unwrap(declared)
    if (!t.startsWith("DateTime64")) None
    else "[0-9]+".r.findFirstIn(t.stripPrefix("DateTime64"))
      .map(_.toInt.min(6).max(0)).orElse(Some(3)) // CH default precision 3
  }

  /** True when a declared target type takes a quoted literal.
    * ClickHouse wrappers (Nullable, LowCardinality) are stripped
    * first; both ClickHouse names (`String`, `DateTime`) and ANSI DDL
    * text as a catalog reports it (`VARCHAR(40) NOT NULL`,
    * `TIMESTAMP` — what [[JdbcCatalogTypes.derby]] returns) are
    * understood, so a queried type map drops straight in. */
  private[graft] def targetIsQuoted(declared: String): Boolean = {
    val t = unwrap(declared)
    val ch = Seq("String", "FixedString", "UUID", "Enum", "IPv4", "IPv6",
      "Date", "DateTime").exists(t.startsWith)
    val up = t.toUpperCase(java.util.Locale.ROOT)
    val ansi = Seq("VARCHAR", "CHAR", "CLOB", "LONG VARCHAR", "DATE", "TIME", "TIMESTAMP")
      .exists(up.startsWith)
    ch || ansi
  }

  /** True when the DataFrame type's rendered text can't contain SQL
    * metacharacters by construction — safe to emit raw. */
  private def rendersNumericSafe(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType => true
    case _ => false
  }

  /** Numeric-literal shape accepted on the unquoted emission path. */
  private[sinks] val NumericLiteral = "^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"

  /** ClickHouse array literal `['a','b',...]` from an ArrayType
    * DataFrame column: elements are formatted per the declared element
    * type (quoted+escaped string-ish, numeric-shape-checked raw
    * otherwise — the same splice-safety contract as scalars), NULL
    * elements render as NULL inside the brackets. */
  private def arrayLiteral(c: Column, dt: ArrayType, elemDeclared: String,
      dialect: SqlDialect): Column = {
    val elems = transform(c, e => {
      val text = rendered(e, dt.elementType)
      val f =
        if (targetIsQuoted(elemDeclared)) quoted(text, dialect)
        else if (rendersNumericSafe(dt.elementType)) text
        else when(text.rlike(NumericLiteral), text)
      coalesce(f, lit("NULL"))
    })
    concat(lit("["), concat_ws(",", elems), lit("]"))
  }

  /** Literal-format driven by the TARGET column's declared type; the
    * DataFrame type only controls rendering (timestamp formats).
    *
    * `Nullable(T)`/`LowCardinality(T)` unwrap to T; `DateTime64(p)`
    * renders p fractional-second digits; `Array(T)` takes an array
    * literal with per-element T rules (a non-array DataFrame column
    * bound to an Array target degrades to NULL — malformed shape, the
    * reference's missing-field contract).
    *
    * The unquoted (numeric-target) path never emits raw text straight
    * from a string-typed DataFrame column: a value like `1),(999` or
    * `1; DROP ...` would splice into the statement, since the quoting
    * escapes are bypassed here by design. Non-numeric-shaped values
    * become NULL — the same "malformed value degrades to NULL" contract
    * the reference applies to missing fields. */
  def literalForTarget(c: Column, dt: DataType, declaredTargetType: String,
      dialect: SqlDialect = SqlDialect.ClickHouseLike): Column = {
    (arrayElementType(declaredTargetType), dt) match {
      case (Some(elemT), at: ArrayType) =>
        coalesce(arrayLiteral(c, at, elemT, dialect), lit("NULL"))
      case (Some(_), _) => lit("NULL") // array target, scalar column: malformed
      case (None, _) =>
        val text = dateTime64Precision(declaredTargetType) match {
          case Some(p) if p > 0 && Seq(TimestampType, TimestampNTZType).contains(dt) =>
            date_format(c, "yyyy-MM-dd HH:mm:ss." + "S" * p)
          case _ => rendered(c, dt)
        }
        val formatted =
          if (targetIsQuoted(declaredTargetType)) quoted(text, dialect)
          else if (rendersNumericSafe(dt)) text
          else when(text.rlike(NumericLiteral), text) // else null → NULL below
        coalesce(formatted, lit("NULL"))
    }
  }

  /** The declared type a column with no catalog entry takes, from its
    * Spark type: numerics and booleans any unquoted type, arrays by
    * element type, anything else (strings, dates, timestamps, structs,
    * maps, binary) a quoted, escaped `String`. */
  private def impliedType(dt: DataType): String = dt match {
    case _: NumericType | BooleanType => "Int64"
    case at: ArrayType => at.elementType match {
      case StringType | TimestampType | TimestampNTZType | DateType => "Array(String)"
      case _ => "Array(Int64)"
    }
    case _ => "String"
  }

  /** The declared type of `f`: its catalog entry, matched the way the
    * target resolves an unquoted identifier — exact name first, then
    * case-insensitive (Derby reports `topicName` as `TOPICNAME`) —
    * else the type its Spark type implies. */
  private def declaredType(targetTypes: Map[String, String], f: StructField): String =
    targetTypes.get(f.name)
      .orElse(targetTypes.collectFirst { case (k, t) if k.equalsIgnoreCase(f.name) => t })
      .getOrElse(impliedType(f.dataType))

  /** Per-row `(v1,v2,...)` tuple column for the given DataFrame.
    * `targetTypes` maps column name → declared sink type (see
    * [[declaredType]] for the lookup and the type of an unlisted
    * column). */
  def valuesTuple(df: DataFrame, targetTypes: Map[String, String] = Map.empty,
      dialect: SqlDialect = SqlDialect.ClickHouseLike): Column = {
    val parts = df.schema.fields.map { f =>
      literalForTarget(col(f.name), f.dataType, declaredType(targetTypes, f), dialect)
    }
    concat(lit("("), concat_ws(",", parts.toIndexedSeq: _*), lit(")"))
  }

  /** Batch the rows of `df` into multi-row INSERT statements of whole
    * per-key windows. A window is at most `batchSize` consecutive rows
    * of one key, taken in source order (the reference's
    * `countWindow(window.size)`); a statement holds whole windows,
    * packed up to `batchSize` rows, so a full window is a statement of
    * its own and a key's window never spans two statements. Output:
    * one row per statement, column `stmt`, in `defaultParallelism`
    * partitions, so a writer over them runs one task per executor
    * slot. The statement set is a deterministic function of the
    * input's rows and partitioning.
    *
    * One shuffle, one sort. The key and the source order (`__seq`) are
    * stamped before the exchange: a nondeterministic `keyExpr` such as
    * `spark_partition_id()` must see the source partitioning, and the
    * order is lost once rows cross a shuffle. The hash exchange on the
    * key has an explicit partition count because AQE's byte-sized
    * coalescing folds a micro-batch's small shuffle into one task,
    * which would serialize the formatting and every write of the
    * batch; AQE keeps an explicit count. After the exchange the VALUES
    * tuples are formatted, each partition is sorted by (key, source
    * order), and a streaming chunker cuts the windows and packs the
    * statements, holding one statement and one window at a time. The
    * key and order are stamped in one projection and the chunker reads
    * the sorted rows as they are, so building the plan takes few eager
    * analyses. */
  def insertStatements(df: DataFrame, table: String, keyExpr: Column, batchSize: Int,
      targetTypes: Map[String, String] = Map.empty,
      dialect: SqlDialect = SqlDialect.ClickHouseLike): DataFrame = {
    require(batchSize > 0, s"window.size (INSERT batch size) must be positive; got $batchSize")
    val prefix = s"INSERT INTO $table (${df.columns.mkString(",")}) VALUES "
    val parts = df.sparkSession.sparkContext.defaultParallelism
    df.select(col("*"), keyExpr.as("__key"), monotonically_increasing_id().as("__seq"))
      .repartition(parts, col("__key"))
      .select(col("__key"), col("__seq"), valuesTuple(df, targetTypes, dialect).as("__tuple"))
      .sortWithinPartitions(col("__key"), col("__seq"))
      .mapPartitions(rows => statements(rows, prefix, batchSize))(Encoders.STRING)
      .toDF("stmt")
  }

  /** Cuts `(key, seq, tuple)` rows sorted by key into windows of at most
    * `batchSize` consecutive tuples of one key, and packs consecutive
    * whole windows into statements of at most `batchSize` tuples
    * (next fit: a window that does not fit starts the next statement).
    * Keys compare by value (`Objects.deepEquals`: strings, boxed
    * numbers, nulls, binary). Lazy: holds one statement and one window
    * at a time. */
  private def statements(rows: Iterator[Row], prefix: String,
      batchSize: Int): Iterator[String] = new Iterator[String] {
    private val in = rows.buffered
    private val window = new java.util.ArrayList[String]()

    private def cutWindow(): Unit = {
      val first = in.next()
      val key = first.get(0)
      window.add(first.getString(2))
      while (window.size < batchSize && in.hasNext && java.util.Objects.deepEquals(in.head.get(0), key))
        window.add(in.next().getString(2))
    }

    def hasNext: Boolean = !window.isEmpty || in.hasNext
    def next(): String = {
      if (window.isEmpty) cutWindow()
      val sb = new java.lang.StringBuilder(prefix)
      var n = 0
      while (!window.isEmpty && n + window.size <= batchSize) {
        if (n > 0) sb.append(',')
        sb.append(String.join(",", window))
        n += window.size
        window.clear()
        if (in.hasNext) cutWindow()
      }
      sb.toString
    }
  }
}
