package org.apache.spark {
  /** Drains the asynchronous listener bus so a job counter has seen every
    * job of the work that already returned. `SparkContext.listenerBus` is
    * `private[spark]`, hence this package. */
  object LifecycleBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.LifecycleBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.sources.Bucketing

/** Pins the stored-index lifecycle shared by LSH, IVF and PQ
  * ([[graft.sources.IndexStore]]):
  *
  *  - the number of Spark jobs each lifecycle operation runs (publish,
  *    append, compact, recover after catalog loss, and building a probe)
  *    never exceeds the figure recorded below for the per-family code the
  *    shared skeleton replaced; recover runs exactly one job fewer, since
  *    the `_meta` row it already holds carries the layout;
  *  - each family's `_meta` schema — column names, types and order — is
  *    exactly the one earlier warehouses were written with, so a surviving
  *    warehouse still recovers. */
class IndexLifecycleSpec extends SparkSpecBase {

  private val started = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Spark jobs started while `body` ran. */
  private def jobs(body: => Any): Int = {
    LifecycleBus.drain(spark.sparkContext)
    started.set(0)
    body
    LifecycleBus.drain(spark.sparkContext)
    started.get
  }

  private val suffixes = Seq("_buckets", "_docs", "_assign", "_cents", "_books", "_meta")

  private def dropAll(table: String): Unit =
    suffixes.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $table$s"))

  private def loseCatalog(table: String): Unit =
    suffixes.filter(s => spark.catalog.tableExists(table + s))
      .foreach(s => Bucketing.simulateCatalogLoss(spark, table + s))

  private def docs: DataFrame = {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy cat tonight",
      "pack my box with five dozen liquor jugs right now",
      "sphinx of black quartz judge my vow completely today",
      "how vexingly quick daft zebras jump over fences")
    spark.createDataFrame(
      java.util.Arrays.asList((0L until 20L).map(i =>
        Row(i, texts((i % texts.size).toInt) + s" tail${i % 7}")): _*),
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
  }

  private def vecs(n: Int, dims: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    spark.createDataFrame(
      java.util.Arrays.asList((0L until n.toLong).map(i =>
        Row(i, Seq.fill(dims)(rnd.nextFloat()))): _*),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = false))))
  }

  /** Jobs per lifecycle step of one family, in run order. */
  private def measure(table: String)(publish: => Unit, append: => Unit,
      compact: => Unit, recover: => Unit, probe: => DataFrame): Map[String, Int] = {
    dropAll(table)
    val counts = Seq(
      "publish" -> jobs(publish),
      "append" -> jobs(append),
      "compact" -> jobs(compact),
      "recover" -> { loseCatalog(table); jobs(recover) },
      "probe-build" -> jobs(probe))
    dropAll(table)
    info(s"$table jobs: " + counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    counts.toMap
  }

  // Jobs each step ran under the per-family lifecycle code the shared
  // skeleton replaced, measured with the fixtures below on local[4] (two
  // runs, identical counts).
  private val before = Map(
    "lsh" -> Map("publish" -> 4, "append" -> 15, "compact" -> 10, "recover" -> 9,
      "probe-build" -> 2),
    "ivf" -> Map("publish" -> 8, "append" -> 11, "compact" -> 7, "recover" -> 8,
      "probe-build" -> 2),
    "pq" -> Map("publish" -> 9, "append" -> 12, "compact" -> 7, "recover" -> 9,
      "probe-build" -> 3))

  private def check(family: String, now: Map[String, Int]): Unit =
    before(family).foreach { case (step, was) =>
      assert(now(step) <= was, s"$family $step ran ${now(step)} jobs, was $was")
      if (step == "recover")
        assert(now(step) === was - 1, s"$family recover ran ${now(step)} jobs, was $was")
    }

  test("LSH lifecycle: no step runs more jobs than before; recover runs one fewer") {
    val d = docs
    val t = "graft_il_lsh"
    check("lsh", measure(t)(
      publish = Dedup.publishLshIndex(d.where(col("doc_id") % 4 =!= 0), "doc_id", "text", t,
        buckets = 2, corpusFp = "A"),
      append = Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB"),
      compact = Dedup.compactLshIndex(spark, t),
      recover = Dedup.recoverLshIndex(spark, t, expectedCorpusFp = "AB"),
      probe = Dedup.probeLshIndex(spark, d.where(col("doc_id") < 4), "doc_id", "text", t,
        threshold = 0.3, corpusFp = "AB")))
  }

  test("IVF lifecycle: no step runs more jobs than before; recover runs one fewer") {
    val v = vecs(60, 8, seed = 31)
    val t = "graft_il_ivf"
    check("ivf", measure(t)(
      publish = Similarity.publishIvfIndex(v.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", t, trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A"),
      append = Similarity.appendIvfIndex(v.where(col("vec_id") % 5 === 0), "vec_id",
        "embedding", t, "AB"),
      compact = Similarity.compactIvfIndex(spark, t),
      recover = Similarity.recoverIvfIndex(spark, t, expectedCorpusFp = "AB"),
      probe = Similarity.probeIvfIndex(spark, v.where(col("vec_id") < 3), "vec_id",
        "embedding", t, k = 3, corpusFp = "AB")))
  }

  test("PQ lifecycle: no step runs more jobs than before; recover runs one fewer") {
    val v = vecs(64, 16, seed = 37)
    val t = "graft_il_pq"
    check("pq", measure(t)(
      publish = Similarity.publishPqIndex(v.where(col("vec_id") % 4 =!= 0), "vec_id",
        "embedding", t, nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "A"),
      append = Similarity.appendPqIndex(v.where(col("vec_id") % 4 === 0), "vec_id",
        "embedding", t, "AB"),
      compact = Similarity.compactPqIndex(spark, t),
      recover = Similarity.recoverPqIndex(spark, t, expectedCorpusFp = "AB"),
      probe = Similarity.probePqIndex(spark, v.where(col("vec_id") < 4), "vec_id",
        "embedding", t, k = 3, nprobe = 2, corpusFp = "AB")))
  }

  test("_meta schemas are the ones earlier warehouses were written with") {
    val d = docs
    val v = vecs(64, 16, seed = 41)
    Seq("graft_il_slsh", "graft_il_sivf", "graft_il_spq").foreach(dropAll)
    Dedup.publishLshIndex(d, "doc_id", "text", "graft_il_slsh", buckets = 2)
    Similarity.publishIvfIndex(v, "vec_id", "embedding", "graft_il_sivf", trainRows = 24,
      nlist = 4, buckets = 2)
    Similarity.publishPqIndex(v, "vec_id", "embedding", "graft_il_spq", nlist = 4, m = 4,
      codes = 8, buckets = 2)
    def schema(cols: (String, DataType)*) =
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })
    val shared = Seq("corpus_fp" -> StringType, "eps" -> ArrayType(LongType, true),
      "next_ep" -> LongType, "layout" -> StringType)
    assert(spark.table("graft_il_slsh_meta").schema === schema(Seq(
      "shingle_n" -> IntegerType, "num_hashes" -> IntegerType, "bands" -> IntegerType,
      "buckets" -> IntegerType) ++ shared: _*))
    assert(spark.table("graft_il_sivf_meta").schema === schema(Seq(
      "dims" -> IntegerType, "nlist" -> IntegerType, "train_rows" -> IntegerType,
      "rounds" -> IntegerType, "buckets" -> IntegerType) ++ shared: _*))
    assert(spark.table("graft_il_spq_meta").schema === schema(Seq(
      "dims" -> IntegerType, "nlist" -> IntegerType, "m" -> IntegerType,
      "codes" -> IntegerType, "rounds" -> IntegerType, "buckets" -> IntegerType,
      "n_rows" -> LongType) ++ shared: _*))
    assert(spark.table("graft_il_slsh_meta").select("layout").head.getString(0) ===
      "buckets:bk:2,docs:id:2")
    assert(spark.table("graft_il_spq_meta").select("layout").head.getString(0) ===
      "assign:c:2,cents:c:1,books:j:1")
    Seq("graft_il_slsh", "graft_il_sivf", "graft_il_spq").foreach(dropAll)
  }
}

}
