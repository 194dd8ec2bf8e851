package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  /** Build a two-column (k long, v double-nullable) series DataFrame. */
  def seriesDf(rows: (Long, java.lang.Double)*): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
  }

  /** Delete every directory a stored index `index` may hold under the
    * warehouse (meta, data tables, lease) — index tables have no catalog
    * entry to drop. */
  def dropIndex(index: String): Unit = {
    val sess = SparkSpecBase.session
    val dir = new org.apache.hadoop.fs.Path(sess.conf.get("spark.sql.warehouse.dir"))
    val fs = dir.getFileSystem(sess.sparkContext.hadoopConfiguration)
    Seq("_assign", "_cents", "_books", "_meta", "_buckets", "_docs", "__lease").foreach(x =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, (index + x).toLowerCase), true))
  }

  /** The rows of stored-index table `<index>_<suffix>` in epochs `eps`,
    * read through `store`'s reader under the index's stored meta. */
  def indexRows[M <: Product with graft.sources.IndexMeta[M]](
      store: graft.sources.IndexStore[M], index: String, suffix: String,
      eps: Seq[Long]): DataFrame =
    store.rowsAt(spark, index, store.readStored(spark, index), suffix, eps)

  /** Corruption fixtures for the index audits: replace epoch `ep` of
    * stored-index table `<index>_<suffix>` (bucketed by `key` into
    * `buckets`) with `edit` of its rows. */
  def rewriteIndexEpoch[M <: Product with graft.sources.IndexMeta[M]](
      store: graft.sources.IndexStore[M], index: String, suffix: String, key: String,
      buckets: Int, ep: Long = 0L)(edit: DataFrame => DataFrame): Unit = {
    val df = edit(indexRows(store, index, suffix, Seq(ep)))
    val rows = df.collect()
    graft.sources.IndexStore.land(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema),
      graft.sources.IndexStore.epochDir(spark, index, suffix, ep), key, buckets)
  }

  /** Collect a (k, v) frame to a sorted Seq of (Long, Option[Double]). */
  def collectKV(df: DataFrame, k: String = "k", v: String = "v"): Seq[(Long, Option[Double])] =
    df.select(k, v).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1)
}

object SparkSpecBase {
  /** Rebuilds after a stop: RecoverySpec proves cross-session index
    * recovery by genuinely stopping the SparkContext and building a FRESH
    * session over the same warehouse dir (fresh in-memory catalog — the
    * restart state). Suites run sequentially in the forked test JVM
    * (`Test / fork := true`, forked-parallel off), so later suites simply
    * get the rebuilt session from here. */
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      cached = LocalSession.builder(4).getOrCreate()
      cached.sparkContext.setLogLevel("WARN")
    }
    cached
  }
  @volatile private var cached: SparkSession = null
}
