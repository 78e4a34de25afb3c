package graft
package queries

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the builder that returns its frame for a table
  * directory, the oracle Verify checks it against, and whether it starts
  * (and drains) a Structured Streaming query.
  *
  * Oracle-parity rules (SURVEY §6): identical column aliases both sides;
  * money aggregates via exact decimal accumulation surfaced as double;
  * deterministic ORDER BY everywhere; timestamps surfaced as NTZ (naive)
  * to match DuckDB; event ts (parquet nanos) read as long nanos and
  * floored to seconds for any time arithmetic.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    streaming: Boolean)

/** How Verify checks a query's result against DuckDB. */
sealed trait Oracle

object Oracle {
  /** DuckDB SQL whose canonicalised result must equal the query's. The
    * text is built on first use, so looking a query up never pays it. */
  final class Sql(text0: => String) extends Oracle {
    lazy val text: String = text0
  }
  object Sql {
    def apply(text: => String): Sql = new Sql(text)
  }

  /** The SQL of `query`, for a result that provably equals that query's. */
  final case class SameAs(query: String) extends Oracle

  /** No oracle: the result is approximate and checked for rows only. */
  case object RowsOnly extends Oracle
}

/** A file of queries. Each `query(...)` call, written next to its builder,
  * declares one query. */
abstract class Family {
  private val declared = ArrayBuffer.empty[Query]

  def queries: Seq[Query] = declared.toSeq

  protected def query(
      name: String,
      build: (SparkSession, String) => DataFrame,
      streaming: Boolean = false)(oracle: Oracle): Unit =
    declared += Query(name, build, oracle, streaming)
}

object Query {
  private def families: Seq[Family] = Seq(
    EtlQueries, SqlQueries, RelationalQueries, TextQueries, GraphQueries,
    TrendQueries, DriftQueries, LearnQueries, StreamQueries)

  /** Every declared query. Loading fails on a duplicate name or on an
    * alias whose target has no SQL. */
  lazy val all: Seq[Query] = checked(families.flatMap(_.queries))

  def checked(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    val withSql = qs.collect { case Query(n, _, _: Oracle.Sql, _) => n }.toSet
    val dangling = qs.collect {
      case Query(n, _, Oracle.SameAs(t), _) if !withSql(t) => s"$n -> $t"
    }
    require(dangling.isEmpty,
      s"oracle alias without a SQL target: ${dangling.mkString(", ")}")
    qs
  }

  /** Oracle SQL by query name, aliases resolved; rows-only queries have
    * no entry. */
  def oracleSql(qs: Seq[Query]): Map[String, String] = {
    val sql = qs.collect { case Query(n, _, o: Oracle.Sql, _) => n -> o.text }.toMap
    sql ++ qs.collect { case Query(n, _, Oracle.SameAs(t), _) => n -> sql(t) }
  }
}
