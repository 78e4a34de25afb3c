package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Query

/** Driver contract — see SURVEY.md §2 for the inventory. Every query is
  * declared once, next to its builder, in a family file under
  * `graft.queries`; the maps here are read from those declarations.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_agg_full")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL by query name; rows-only queries are absent. Built
    * on first use. */
  lazy val oracleSql: Map[String, String] = Query.oracleSql(Query.all)

  /** Queries that start (and drain) a real Structured Streaming query.
    * The bench runs these LAST: a drained stream leaves state-store
    * maintenance work behind that perturbs whatever batch query runs
    * next (r3 measured 2–7× spikes on alphabetical neighbors), so
    * batch timings must never follow a drain inside a measured pass.
    */
  val streamingQueries: Set[String] =
    Query.all.filter(_.streaming).map(_.name).toSet

  /** The registered name for `name`: the name itself, or the one query
    * whose id (the `qNNN` before the first `_`) it is. Fails otherwise. */
  def resolve(name: String): String =
    if (queries.contains(name)) name
    else queries.keys.filter(_.takeWhile(_ != '_') == name).toSeq match {
      case Seq(full) => full
      case Seq() => throw new NoSuchElementException(s"no query named $name")
      case many => throw new IllegalArgumentException(
        s"$name matches ${many.sorted.mkString(", ")}")
    }
}
