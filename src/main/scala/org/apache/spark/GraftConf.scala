package org.apache.spark

/** Bridge to the running context's own `SparkConf`.
  *
  * `SparkContext.getActive` and `SparkContext.conf` are `private[spark]`,
  * and the public `getConf` returns a copy, so a setting written there
  * never reaches the session state built from the context. The same
  * narrow-bridge discipline as [[GraftTaskMetrics]] and
  * [[org.apache.spark.sql.GraftShim]]: one call, nothing else. */
object GraftConf {
  /** The live conf of the active context, if one is running. */
  def activeConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
