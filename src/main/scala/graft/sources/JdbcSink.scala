package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

import graft.operators.DriverFinisher

/** Serving-layer JDBC sink with the reference's delete-by-key + append load.
  *
  * The reference loads its gold table into PostgreSQL by first deleting the
  * rows for the refreshed `date_id` and then appending the new frame
  * (/root/reference/src/gold/dashboard_data/dashboard__north_america_weather.py
  * lines 96–110 + /root/reference/utils/postgres_utils.py `upload_to_postgres`).
  *
  * Spark-first: the delete is one driver-side statement (tiny, keyed). A
  * refresh frame within [[graft.operators.DriverFinisher.SmallWriteBytes]]
  * (op `jdbcLoad`) is collected by one bounded job and inserted from the
  * driver in the delete's own transaction, as the reference's one process
  * does; a larger frame is staged by `df.write.jdbc`, which parallelizes
  * across executors, so the load scales with the cluster rather than a
  * single pandas `to_sql` loop.
  *
  * `load` is integration-tested against embedded Derby (LakeSpec and
  * DriverFinisherSpec, under both branches): seed → keyed delete → append
  * → read-back.
  */
object JdbcSink {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Stage-table identifier, bounded to `maxLen` characters. Postgres
    * silently truncates identifiers at 63 bytes — which would chop the
    * 128-bit key tag and re-open the cross-key stage collision it exists to
    * prevent. When the composed name would exceed the bound, the TABLE
    * portion is shortened (disambiguated by 8 hex of its own digest so two
    * long table names sharing a prefix still get distinct stages) and the
    * full key tag is kept intact.
    */
  private[graft] def stageName(table: String, keyTag: String, maxLen: Int = 63): String = {
    val raw = s"${table}__stage_$keyTag"
    if (raw.length <= maxLen) raw
    else {
      val tableTag = md5hex(table).take(8)
      val keep = maxLen - ("__stage_".length + keyTag.length + tableTag.length + 1)
      require(keep >= 1, s"identifier budget $maxLen too small for stage name")
      s"${table.take(keep)}_${tableTag}__stage_$keyTag"
    }
  }

  /** SQL for the keyed delete that precedes the append (parameterized).
    * The key column is quoted: tables created by `DataFrameWriter.jdbc`
    * carry case-sensitive lower-case column names, which an unquoted
    * identifier would not resolve against (Derby/Postgres fold unquoted
    * identifiers).
    */
  def deleteStatement(schema: String, table: String, keyCol: String): String =
    s"""DELETE FROM $schema.$table WHERE "$keyCol" = ?"""

  /** Keyed refresh: delete-old + insert-new run in ONE driver transaction,
    * so the serving table never shows the key missing or partial, and a
    * failed load rethrows its original error (a rollback that also fails
    * is attached to it as a suppressed exception).
    *
    * A frame within the `jdbcLoad` budget is collected and inserted on the
    * delete's connection by one batched `INSERT ... VALUES (?, ...)` whose
    * text is the same for every key; no stage table is created.
    *
    * A larger frame is first loaded in parallel into a per-refresh staging
    * table, then `INSERT INTO target SELECT FROM stage` runs server-side in
    * the transaction. A direct delete-then-parallel-append would commit the
    * delete first and leave the serving table missing/partial for the key
    * whenever the distributed append fails midway. `numPartitions` bounds
    * DB connections for the staging load. The stage name carries a hash of
    * the key value so concurrent refreshes of DIFFERENT keys use disjoint
    * stage tables, and the stage is dropped in a finally block (best-effort,
    * a failed drop is printed to stderr) so a failed refresh does not leak
    * it.
    */
  def load(
      df: DataFrame,
      url: String,
      schema: String,
      table: String,
      keyCol: String,
      keyValue: String,
      props: Properties,
      numPartitions: Int = 8): Unit = {
    val cols = df.columns.map(c => s""""$c"""").mkString(", ")
    val eligible = df.schema.forall(f => setter(f.dataType, 0).isDefined)
    DriverFinisher.partitionsWithin("jdbcLoad", DriverFinisher.SmallWriteBytes, eligible)(df) match {
      case Some(parts) =>
        replace(url, props, schema, table, keyCol, keyValue) { conn =>
          val types = df.schema.map(_.dataType)
          val set = types.zipWithIndex.map { case (t, i) => setter(t, i).get }
          val ins = conn.prepareStatement(s"INSERT INTO $schema.$table ($cols) VALUES (" +
            Seq.fill(types.size)("?").mkString(", ") + ")")
          try {
            // a null is typed as its target column, which the server knows;
            // a driver without parameter metadata gets Spark's type for it
            lazy val nullTypes = {
              val dialect = JdbcDialects.get(url)
              val meta = Try(ins.getParameterMetaData).toOption
              types.zipWithIndex.map { case (t, i) =>
                meta.flatMap(m => Try(m.getParameterType(i + 1)).toOption)
                  .getOrElse(JdbcUtils.getJdbcType(t, dialect).jdbcNullType)
              }
            }
            val rows = parts.flatten
            rows.foreach { r =>
              set.indices.foreach { i =>
                if (r.isNullAt(i)) ins.setNull(i + 1, nullTypes(i)) else set(i)(ins, r)
              }
              ins.addBatch()
            }
            if (rows.nonEmpty) ins.executeBatch()
          } finally ins.close()
        }
      case None => loadStaged(df, url, schema, table, keyCol, keyValue, props, numPartitions, cols)
    }
  }

  /** Sets parameter `i + 1` from column `i` of a row of Spark type `t`, as
    * Spark's JDBC writer would; None for a type the driver branch leaves to
    * that writer. */
  private def setter(t: DataType, i: Int): Option[(PreparedStatement, UnsafeRow) => Unit] = {
    val p = i + 1
    t match {
      case StringType => Some((s, r) => s.setString(p, r.getUTF8String(i).toString))
      case IntegerType => Some((s, r) => s.setInt(p, r.getInt(i)))
      case LongType => Some((s, r) => s.setLong(p, r.getLong(i)))
      case DoubleType => Some((s, r) => s.setDouble(p, r.getDouble(i)))
      case FloatType => Some((s, r) => s.setFloat(p, r.getFloat(i)))
      case ShortType => Some((s, r) => s.setInt(p, r.getShort(i)))
      case ByteType => Some((s, r) => s.setInt(p, r.getByte(i)))
      case BooleanType => Some((s, r) => s.setBoolean(p, r.getBoolean(i)))
      case d: DecimalType =>
        Some((s, r) => s.setBigDecimal(p, r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
      case DateType => Some((s, r) => s.setDate(p, DateTimeUtils.toJavaDate(r.getInt(i))))
      case TimestampType =>
        Some((s, r) => s.setTimestamp(p, DateTimeUtils.toJavaTimestamp(r.getLong(i))))
      case _ => None
    }
  }

  /** The keyed delete, then `insert`, on one connection in one transaction. */
  private def replace(url: String, props: Properties, schema: String, table: String,
      keyCol: String, keyValue: String)(insert: Connection => Unit): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      try {
        val del = conn.prepareStatement(deleteStatement(schema, table, keyCol))
        try { del.setString(1, keyValue); del.executeUpdate() }
        finally del.close()
        insert(conn)
        conn.commit()
      } catch {
        case NonFatal(e) =>
          // keep the original failure; a failed rollback rides along on it
          try conn.rollback()
          catch { case NonFatal(r) => e.addSuppressed(r) }
          throw e
      }
    } finally conn.close()
  }

  private def loadStaged(df: DataFrame, url: String, schema: String, table: String,
      keyCol: String, keyValue: String, props: Properties, numPartitions: Int,
      cols: String): Unit = {
    // 128-bit tag: a 32-bit hash would let distinct keys collide onto one
    // stage table and cross-commit each other's rows
    val stage = stageName(table, md5hex(keyValue))
    // best-effort drop on a FRESH short-lived connection: a connection
    // opened before the (possibly long) distributed staging write could be
    // idle-timed-out by the server and fail the very cleanup it exists for.
    // A failed drop is reported, not thrown: it must not mask the load's
    // own outcome.
    def dropStage(): Unit =
      try {
        val c = DriverManager.getConnection(url, props)
        try {
          val drop = c.createStatement()
          try drop.executeUpdate(s"DROP TABLE $schema.$stage")
          finally drop.close()
        } finally c.close()
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[jdbc] could not drop stage table $schema.$stage: $e")
      }
    try {
      // distributed staging load first — no driver connection held open
      // underneath it
      df.coalesce(numPartitions)
        .write
        .mode("overwrite")
        .jdbc(url, s"$schema.$stage", props)
      replace(url, props, schema, table, keyCol, keyValue) { conn =>
        val ins = conn.createStatement()
        try ins.executeUpdate(
          s"INSERT INTO $schema.$table ($cols) SELECT $cols FROM $schema.$stage")
        finally ins.close()
      }
    } finally dropStage()
  }
}
