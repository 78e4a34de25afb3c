package graft.sources

import java.util.Properties

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Serving-layer JDBC sink with the reference's delete-by-key + append load.
  *
  * The reference loads its gold table into PostgreSQL by first deleting the
  * rows for the refreshed `date_id` and then appending the new frame
  * (/root/reference/src/gold/dashboard_data/dashboard__north_america_weather.py
  * lines 96–110 + /root/reference/utils/postgres_utils.py `upload_to_postgres`).
  *
  * Spark-first: the delete is one driver-side statement (tiny, keyed), the
  * insert is `df.write.jdbc` which parallelizes across executors — each
  * partition opens its own connection and batches inserts, so the load scales
  * with the cluster rather than a single pandas `to_sql` loop. Callers should
  * `df.coalesce(n)` to match the DB's acceptable connection count.
  *
  * `load` is integration-tested against embedded Derby (LakeSpec): seed →
  * keyed delete → append → read-back.
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

  /** Keyed refresh via a staging table: the refresh frame is first loaded
    * in parallel into a per-refresh staging table, then delete-old +
    * insert-new run in ONE driver transaction (`INSERT INTO target SELECT
    * FROM stage` is server-side). A direct delete-then-parallel-append would
    * commit the delete first and leave the serving table missing/partial for
    * the key whenever the distributed append fails midway. `numPartitions`
    * bounds DB connections for the staging load.
    *
    * The stage name carries a hash of the key value so concurrent refreshes
    * of DIFFERENT keys use disjoint stage tables, and the stage is dropped
    * in a finally block (best-effort, a failed drop is printed to stderr)
    * so a failed refresh does not leak it. A failed load rethrows its
    * original error; a rollback that also fails is attached to it as a
    * suppressed exception.
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
    // 128-bit tag: a 32-bit hash would let distinct keys collide onto one
    // stage table and cross-commit each other's rows
    val keyTag = md5hex(keyValue)
    val stage = stageName(table, keyTag)
    val cols = df.columns.map(c => s""""$c"""").mkString(", ")
    // best-effort drop on a FRESH short-lived connection: a connection
    // opened before the (possibly long) distributed staging write could be
    // idle-timed-out by the server and fail the very cleanup it exists for.
    // A failed drop is reported, not thrown: it must not mask the load's
    // own outcome.
    def dropStage(): Unit =
      try {
        val c = java.sql.DriverManager.getConnection(url, props)
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
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        try {
          val del = conn.prepareStatement(deleteStatement(schema, table, keyCol))
          try { del.setString(1, keyValue); del.executeUpdate() }
          finally del.close()
          val ins = conn.createStatement()
          try ins.executeUpdate(
            s"INSERT INTO $schema.$table ($cols) SELECT $cols FROM $schema.$stage")
          finally ins.close()
          conn.commit()
        } catch {
          case NonFatal(e) =>
            // keep the original failure; a failed rollback rides along on it
            try conn.rollback()
            catch { case NonFatal(r) => e.addSuppressed(r) }
            throw e
        }
      } finally conn.close()
    } finally dropStage()
  }
}
