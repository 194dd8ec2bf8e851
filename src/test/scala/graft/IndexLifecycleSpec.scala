package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.GraftTaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.sources.{Bucketing, Faults, IndexStore}

/** Pins the stored-index lifecycle shared by LSH, IVF and PQ
  * ([[graft.sources.IndexStore]]):
  *
  *  - the number of Spark jobs each lifecycle operation runs (publish,
  *    append, compact, recover after catalog loss, and building a probe)
  *    never exceeds the figure recorded below for the per-family code the
  *    shared skeleton replaced, and is exactly the figure of the file-form
  *    meta: each step runs its data jobs only, and a meta read runs no
  *    Spark job and no SQL execution;
  *  - each family's `_meta` file form — keys, order and JSON types — and
  *    its layout string, so a surviving warehouse still recovers;
  *  - a warehouse whose `_meta` is the one-row table earlier versions
  *    wrote still recovers, and the recovery migrates it to the file form;
  *  - no main source reads a `_meta` through Spark except that migration. */
class IndexLifecycleSpec extends SparkSpecBase {

  private val started = new AtomicInteger(0)
  private val sqlStarted = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlStarted.incrementAndGet()
      case _ =>
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Spark jobs and SQL executions started while `body` ran. */
  private def census(body: => Any): (Int, Int) = {
    GraftTaskMetrics.drain(spark.sparkContext)
    started.set(0)
    sqlStarted.set(0)
    body
    GraftTaskMetrics.drain(spark.sparkContext)
    (started.get, sqlStarted.get)
  }

  private def jobs(body: => Any): Int = census(body)._1

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

  // Jobs each step runs with the file-form meta: the table-form figures
  // (lsh 4/15/10/8/2, ivf 8/11/7/7/2, pq 9/12/7/8/3 in the order below)
  // less their meta jobs — one per meta write, one per meta read, and for
  // recover also the parquet-footer job of re-adopting the meta table.
  // LSH append: 15 -> 10 (2 writes, 3 reads).
  private val after = Map(
    "lsh" -> Map("publish" -> 3, "append" -> 10, "compact" -> 8, "recover" -> 6,
      "probe-build" -> 1),
    "ivf" -> Map("publish" -> 7, "append" -> 6, "compact" -> 5, "recover" -> 5,
      "probe-build" -> 1),
    "pq" -> Map("publish" -> 8, "append" -> 7, "compact" -> 5, "recover" -> 6,
      "probe-build" -> 2))

  private def check(family: String, now: Map[String, Int]): Unit =
    before(family).foreach { case (step, was) =>
      assert(now(step) <= was, s"$family $step ran ${now(step)} jobs, was $was")
      assert(now(step) === after(family)(step),
        s"$family $step ran ${now(step)} jobs, pinned at ${after(family)(step)}")
    }

  test("LSH lifecycle: no step runs more jobs than before; exact counts pinned") {
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

  test("IVF lifecycle: no step runs more jobs than before; exact counts pinned") {
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

  test("PQ lifecycle: no step runs more jobs than before; exact counts pinned") {
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

  private def metaJson(table: String): JsonNode =
    new ObjectMapper().readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IndexStore.metaFile(spark, table).toUri.getPath)))

  /** Each key of a meta file in order, with its JSON type. */
  private def jsonForm(table: String): Seq[(String, String)] = {
    def kind(n: JsonNode): String =
      if (n.isIntegralNumber) "integer"
      else if (n.isTextual) "string"
      else if (n.isArray) n.elements.asScala.map(kind).toSeq.distinct.mkString("array<", "|", ">")
      else n.getNodeType.toString
    metaJson(table).fields.asScala.map(e => e.getKey -> kind(e.getValue)).toSeq
  }

  test("_meta file form: keys, order and JSON types per family; layout strings") {
    val d = docs
    val v = vecs(64, 16, seed = 41)
    Seq("graft_il_slsh", "graft_il_sivf", "graft_il_spq").foreach(dropAll)
    Dedup.publishLshIndex(d, "doc_id", "text", "graft_il_slsh", buckets = 2)
    Similarity.publishIvfIndex(v, "vec_id", "embedding", "graft_il_sivf", trainRows = 24,
      nlist = 4, buckets = 2)
    Similarity.publishPqIndex(v, "vec_id", "embedding", "graft_il_spq", nlist = 4, m = 4,
      codes = 8, buckets = 2)
    val shared = Seq("corpus_fp" -> "string", "eps" -> "array<integer>",
      "next_ep" -> "integer", "layout" -> "string")
    assert(jsonForm("graft_il_slsh") === Seq(
      "shingle_n" -> "integer", "num_hashes" -> "integer", "bands" -> "integer",
      "buckets" -> "integer") ++ shared)
    assert(jsonForm("graft_il_sivf") === Seq(
      "dims" -> "integer", "nlist" -> "integer", "train_rows" -> "integer",
      "rounds" -> "integer", "buckets" -> "integer") ++ shared)
    assert(jsonForm("graft_il_spq") === Seq(
      "dims" -> "integer", "nlist" -> "integer", "m" -> "integer",
      "codes" -> "integer", "rounds" -> "integer", "buckets" -> "integer",
      "n_rows" -> "integer") ++ shared)
    assert(metaJson("graft_il_slsh").get("layout").textValue === "buckets:bk:2,docs:id:2")
    assert(metaJson("graft_il_spq").get("layout").textValue ===
      "assign:c:2,cents:c:1,books:j:1")
    Seq("graft_il_slsh", "graft_il_sivf", "graft_il_spq").foreach(dropAll)
  }

  test("a meta file with a missing or mistyped key fails loudly, naming the key") {
    val t = "graft_il_bad"
    dropAll(t)
    Dedup.publishLshIndex(docs, "doc_id", "text", t, buckets = 2, corpusFp = "A")
    val path = IndexStore.metaFile(spark, t)
    val good = metaJson(t).asInstanceOf[ObjectNode]
    // a checksummed copy leaves a `.meta.json.crc` the edits below make
    // stale: the edits are plain file writes, as any other tool makes them
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(new ObjectMapper().writeValueAsBytes(good)) finally out.close()
    def rewrite(edit: ObjectNode => Unit): Unit = {
      val o = good.deepCopy()
      edit(o)
      java.nio.file.Files.write(java.nio.file.Paths.get(path.toUri.getPath),
        new ObjectMapper().writeValueAsBytes(o))
    }
    rewrite(_.remove("bands"))
    val missing = intercept[IllegalStateException](Dedup.LshStore.probeMeta(spark, t, "A"))
    assert(missing.getMessage.contains("field 'bands' is missing"), missing.getMessage)
    rewrite(_.put("next_ep", "one"))
    val mistyped = intercept[IllegalStateException](Dedup.LshStore.probeMeta(spark, t, "A"))
    assert(mistyped.getMessage.contains("field 'next_ep' is not bigint"), mistyped.getMessage)
    rewrite(_.putArray("eps").add(0L).add("1"))
    val element = intercept[IllegalStateException](Dedup.LshStore.probeMeta(spark, t, "A"))
    assert(element.getMessage.contains("field 'eps' is not array<bigint>"), element.getMessage)
    rewrite(_ => ())
    assert(Dedup.LshStore.probeMeta(spark, t, "A").bands > 0)
    dropAll(t)
  }

  test("a probe mid commit swap reads the old meta and moves no file") {
    val t = "graft_il_swap"
    val d = docs
    dropAll(t)
    Dedup.publishLshIndex(d.where(col("doc_id") % 4 =!= 0), "doc_id", "text", t,
      buckets = 2, corpusFp = "A")
    def probe(fp: String) = Dedup.probeLshIndex(spark, d.where(col("doc_id") < 8), "doc_id",
      "text", t, threshold = 0.3, corpusFp = fp).collect().map(_.toSeq).toSet
    val pre = probe("A")
    val dir = new java.io.File(IndexStore.metaFile(spark, t).toUri.getPath).getParentFile
    def names = dir.list().toSet
    var seen: Option[(Set[String], Set[Seq[Any]], Dedup.LshMeta, Set[String])] = None
    Faults.actAt = "lsh.append.commit.aside"
    Faults.action = () => {
      val before = names
      val rows = probe("A")
      seen = Some((before, rows, Dedup.LshStore.storedMeta(spark, t), names))
    }
    try Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB")
    finally { Faults.actAt = null; Faults.action = null }
    val (before, mid, midMeta, after) = seen.getOrElse(fail("the .aside hook did not fire"))
    assert(before === Set("meta.json.old", "meta.json.tmp"))
    assert(after === before, "a meta read renamed or deleted a file of the writer's swap")
    assert(mid === pre, "a probe mid-swap != the pre-append probe")
    assert(midMeta.corpusFp === "A" && midMeta.eps === Seq(0L))
    val done = Dedup.LshStore.storedMeta(spark, t)
    assert(done.corpusFp === "AB" && done.eps === Seq(0L, 1L) && done.nextEp === 2L,
      s"the append's COMMIT was lost: $done")
    assert(names === Set("meta.json"))
    assert(probe("AB") !== pre)
    dropAll(t)
  }

  test("a meta read (probeMeta, describe) starts no Spark job and no SQL execution") {
    val t = "graft_il_read"
    dropAll(t)
    Dedup.publishLshIndex(docs, "doc_id", "text", t, buckets = 2, corpusFp = "A")
    assert(census(Dedup.LshStore.probeMeta(spark, t, "A")) === ((0, 0)))
    assert(census(Dedup.describeLshIndex(spark, t)) === ((0, 0)))
    dropAll(t)
  }

  test("recover migrates a table-form _meta to the file form, once") {
    val t = "graft_il_legacy"
    val d = docs
    dropAll(t)
    Dedup.publishLshIndex(d.where(col("doc_id") % 4 =!= 0), "doc_id", "text", t,
      buckets = 2, corpusFp = "A")
    Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB")
    def probe = Dedup.probeLshIndex(spark, d.where(col("doc_id") < 4), "doc_id", "text", t,
      threshold = 0.3, corpusFp = "AB").collect().map(_.toSeq).toSet
    val pre = probe
    // the table form, written as earlier versions wrote it: the meta's
    // encoder schema under column names plus `layout`, one row bucketed by
    // its first column through the atomic catalog swap, which also replaces
    // the file form's directory
    val m = Dedup.LshStore.storedMeta(spark, t)
    val metaSchema = StructType(
      org.apache.spark.sql.Encoders.product[Dedup.LshMeta].schema.fields
        .map(f => f.copy(name = f.name.replaceAll("([A-Z])", "_$1").toLowerCase)) :+
        StructField("layout", StringType))
    Bucketing.saveBucketedAtomic(
      spark.createDataFrame(
        java.util.List.of(Row.fromSeq(m.productIterator.toSeq :+ "buckets:bk:2,docs:id:2")),
        metaSchema),
      s"${t}_meta", "shingle_n", 1)
    Seq("_buckets", "_docs", "_meta").foreach(x => Bucketing.simulateCatalogLoss(spark, t + x))
    val dir = new java.io.File(IndexStore.metaFile(spark, t).toUri.getPath).getParentFile
    def listing = dir.listFiles().map(f => f.getName -> f.lastModified).toSet
    assert(listing.exists(_._1.startsWith("part-")) && !listing.exists(_._1 == "meta.json"))
    Dedup.recoverLshIndex(spark, t, expectedCorpusFp = "AB")
    assert(probe === pre, "probe after migrating recovery != pre-loss probe")
    assert(Dedup.LshStore.storedMeta(spark, t) === m)
    val migrated = listing
    assert(migrated.exists(_._1 == "meta.json") && !migrated.exists(_._1.startsWith("part-")),
      s"migrated directory holds ${migrated.map(_._1).mkString(", ")}")
    val bytes = java.nio.file.Files.readAllBytes(dir.toPath.resolve("meta.json"))
    Dedup.recoverLshIndex(spark, t, expectedCorpusFp = "AB")
    assert(listing === migrated, "a second recover changed the meta directory")
    assert(java.nio.file.Files.readAllBytes(dir.toPath.resolve("meta.json")) === bytes)
    assert(probe === pre)
    dropAll(t)
  }

  test("no main source reads a _meta through Spark except the migration") {
    import java.io.File
    val base = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "build.sbt").isFile)
      .getOrElse(fail(s"no build.sbt above ${sys.props("user.dir")}"))
    val root = new File(base, "src/main/scala")
    def files(f: File): Seq[File] =
      f.listFiles().toSeq.flatMap(c => if (c.isDirectory) files(c) else Seq(c))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 50, s"scan found only ${sources.size} sources under $root")
    val (read, meta) = ("""\.(table|read)\b""".r, """(?i)(_meta|meta\b)""".r)
    val hits = for {
      f <- sources
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("//")
      if read.findFirstIn(code).isDefined && meta.findFirstIn(code).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $code"
    val (allowed, banned) = hits.partition(h =>
      h.startsWith("graft/sources/IndexStore.scala:") && h.contains("val legacyMeta = spark.read"))
    assert(allowed.size === 1, s"the table-form migration read is missing:\n${hits.mkString("\n")}")
    assert(banned.isEmpty, "_meta read through Spark:\n" + banned.mkString("\n"))
  }
}
