package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the DuckDB SQL over the same parquet
  * tables that its result must hash-equal, and the Spark body that
  * computes that result from `(session, sfDir)`. */
final case class Query(name: String, oracle: String,
    body: (SparkSession, String) => DataFrame)

object Query {

  /** The `qNN` that Bench and JobProfile select a query by. */
  def prefix(name: String): String = name.takeWhile(_ != '_')

  /** Indexes `declared` by name. Throws `IllegalArgumentException` when a
    * name or a `qNN` prefix is declared twice or an oracle is blank — a
    * plain `Map` would keep the last duplicate silently. */
  def index(declared: Seq[Query]): Map[String, Query] = {
    def repeated(keys: Seq[String]): Seq[String] =
      keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }.toSeq.sorted
    val names = repeated(declared.map(_.name))
    require(names.isEmpty, s"queries declared twice: ${names.mkString(", ")}")
    val prefixes = repeated(declared.map(q => prefix(q.name)))
    require(prefixes.isEmpty, s"query prefixes declared twice: ${prefixes.mkString(", ")}")
    val blank = declared.filter(_.oracle.trim.isEmpty).map(_.name)
    require(blank.isEmpty, s"queries with a blank oracle: ${blank.mkString(", ")}")
    declared.map(q => q.name -> q).toMap
  }
}

/** A family of queries, declared in the object body one per statement:
  * {{{
  * Q("q01_group_agg", oracle = """SELECT ...""") { (s, dir) =>
  *   t(s, dir, "lineitem").groupBy(...)
  * }
  * }}}
  * The declaring object is the family; `SparkEntry` lists the families. */
abstract class QueryFamily {
  private val declared = scala.collection.mutable.ListBuffer.empty[Query]

  protected final def Q(name: String, oracle: String)(
      body: (SparkSession, String) => DataFrame): Unit =
    declared += Query(name, oracle, body)

  final def queries: Seq[Query] = declared.toList
}
