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
  *    wrote, or whose data tables are the catalog-era `part-*` layout,
  *    still recovers, and the recovery migrates it once;
  *  - no main source reads a `_meta` through Spark except that migration,
  *    and the index store and the LSH/IVF/PQ paths call no catalog API. */
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

  private def dropAll(table: String): Unit = dropIndex(table)

  private def warehouse = new java.io.File(
    new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  private def loseCatalog(table: String): Unit =
    suffixes.filter(s => new java.io.File(warehouse, table + s).isDirectory)
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

  // Jobs each step runs with the file-form meta and epoch directories: the
  // table-form figures (lsh 4/15/10/8/2, ivf 8/11/7/7/2, pq 9/12/7/8/3 in
  // the order below) less their meta jobs — one per meta write, one per
  // meta read, and for recover also the parquet-footer job of re-adopting
  // the meta table; LSH append: 15 -> 10 (2 writes, 3 reads). Recover then
  // lost the schema-inference job of re-adopting each data table (lsh 6 ->
  // 4, ivf 5 -> 3, pq 6 -> 3): it is the strict audit alone.
  private val after = Map(
    "lsh" -> Map("publish" -> 3, "append" -> 10, "compact" -> 8, "recover" -> 4,
      "probe-build" -> 1),
    "ivf" -> Map("publish" -> 7, "append" -> 6, "compact" -> 5, "recover" -> 3,
      "probe-build" -> 1),
    "pq" -> Map("publish" -> 8, "append" -> 7, "compact" -> 5, "recover" -> 3,
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
      "next_ep" -> "integer", "layout" -> "string", "schema" -> "OBJECT")
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
    // `schema`: each table's Spark schema by suffix, in declaration order
    def schemaOf(t: String, sfx: String) =
      DataType.fromJson(metaJson(t).get("schema").get(sfx).toString).asInstanceOf[StructType]
    assert(metaJson("graft_il_spq").get("schema").fieldNames.asScala.toSeq ===
      Seq("assign", "cents", "books"))
    assert(schemaOf("graft_il_slsh", "buckets").fieldNames.toSeq === Seq("band", "bk", "id"))
    assert(schemaOf("graft_il_slsh", "docs").fieldNames.toSeq === Seq("id", "shs"))
    assert(schemaOf("graft_il_sivf", "cents").fieldNames.toSeq === Seq("c", "d", "cv"))
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
    assert(Dedup.LshStore.probeMeta(spark, t, "A").m.bands > 0)
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

  test("index reads list their epoch directories on the driver, in no Spark job") {
    // Spark lists a file index's root paths in a job above this threshold;
    // at 1, a relation over two epochs that listed itself would start one
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val t = "graft_il_list"
    val d = docs
    dropAll(t)
    Dedup.publishLshIndex(d.where(col("doc_id") % 4 =!= 0), "doc_id", "text", t,
      buckets = 2, corpusFp = "A")
    Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB")
    assert(Dedup.LshStore.storedMeta(spark, t).eps === Seq(0L, 1L))
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      assert(census(Dedup.describeLshIndex(spark, t)) === ((0, 0)))
      // the pinned probe-build count of the one-epoch index
      assert(jobs(Dedup.probeLshIndex(spark, d.where(col("doc_id") < 4), "doc_id", "text", t,
        threshold = 0.3, corpusFp = "AB")) === after("lsh")("probe-build"))
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    dropAll(t)
  }

  test("a read of a swept epoch names the compaction; a lost one says republish") {
    val t = "graft_il_swept"
    val d = docs
    dropAll(t)
    Dedup.publishLshIndex(d.where(col("doc_id") % 4 =!= 0), "doc_id", "text", t,
      buckets = 2, corpusFp = "A")
    Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB")
    // a probe that decoded the meta before a compaction and builds after it
    val old = Dedup.LshStore.readStored(spark, t)
    Dedup.compactLshIndex(spark, t)
    val e = intercept[IllegalArgumentException] {
      Dedup.LshStore.rows(spark, t, old, "docs")
    }
    assert(e.getMessage.contains("epoch(s) 0,1 of 'graft_il_swept_docs' are no longer " +
      "committed — the index was compacted while this read was planned; retry it"))
    assert(Dedup.LshStore.storedMeta(spark, t).eps === Seq(2L))
    assert(org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(warehouse, s"${t}_docs/ep-2")))
    val lost = intercept[IllegalArgumentException] {
      Dedup.probeLshIndex(spark, d.where(col("doc_id") < 4), "doc_id", "text", t,
        threshold = 0.3, corpusFp = "AB")
    }
    assert(lost.getMessage.contains("epoch(s) 2 of 'graft_il_swept_docs' are committed but " +
      "have no directory — index data lost; republish"))
    dropAll(t)
  }

  /** Rewrite LSH index `t` as the catalog-era layout held it: each table's
    * rows of `eps` (committed and orphan), each stamped with its epoch in
    * an `ep` column, as `part-*` files directly under its directory, written
    * as a managed bucketed table whose entry is then lost, and `meta` (the
    * file form without `schema`, or the table form) for its meta. */
  private def toCatalogEra(t: String, eps: Seq[Long], tableFormMeta: Boolean): Unit = {
    for ((sfx, key) <- Seq("buckets" -> "bk", "docs" -> "id")) {
      val df = eps.map(e => indexRows(Dedup.LshStore, t, sfx, Seq(e)).withColumn("ep", lit(e)))
        .reduce(_ unionByName _)
      val rows = df.collect()
      Bucketing.saveBucketed(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema),
        s"${t}_$sfx", key, 2)
      Bucketing.simulateCatalogLoss(spark, s"${t}_$sfx")
    }
    val meta = metaJson(t).asInstanceOf[ObjectNode]
    meta.remove("schema")
    val path = IndexStore.metaFile(spark, t)
    if (tableFormMeta) {
      // the table form: the meta's encoder schema under column names plus
      // `layout`, one row bucketed by its first column
      val m = Dedup.LshStore.storedMeta(spark, t)
      val metaSchema = StructType(
        org.apache.spark.sql.Encoders.product[Dedup.LshMeta].schema.fields
          .map(f => f.copy(name = f.name.replaceAll("([A-Z])", "_$1").toLowerCase)) :+
          StructField("layout", StringType))
      Bucketing.saveBucketed(
        spark.createDataFrame(
          java.util.List.of(Row.fromSeq(m.productIterator.toSeq :+ meta.get("layout").textValue)),
          metaSchema),
        s"${t}_meta", "shingle_n", 1)
      Bucketing.simulateCatalogLoss(spark, s"${t}_meta")
    } else java.nio.file.Files.write(java.nio.file.Paths.get(path.toUri.getPath),
      new ObjectMapper().writeValueAsBytes(meta))
  }

  /** Publish A, tear an append of B at `staged` (orphan epoch 1), append B
    * (epoch 2), rewrite it catalog-era, recover twice: the first recover
    * migrates — committed rows only, into one fresh epoch — and the second
    * changes nothing. */
  private def migrationCase(t: String, tableFormMeta: Boolean): Unit = {
    val d = docs
    dropAll(t)
    Dedup.publishLshIndex(d.where(col("doc_id") % 4 =!= 0), "doc_id", "text", t,
      buckets = 2, corpusFp = "A")
    Faults.tearAt("lsh.append.staged") {
      Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB")
    }
    Dedup.appendLshIndex(d.where(col("doc_id") % 4 === 0), "doc_id", "text", t, "AB")
    def probe = Dedup.probeLshIndex(spark, d.where(col("doc_id") < 4), "doc_id", "text", t,
      threshold = 0.3, corpusFp = "AB").collect().map(_.toSeq).toSet
    val pre = probe
    val m = Dedup.LshStore.storedMeta(spark, t)
    assert(m.eps === Seq(0L, 2L) && m.nextEp === 3L)
    toCatalogEra(t, Seq(0L, 1L, 2L), tableFormMeta)
    def listing = suffixes.flatMap { x =>
      val dir = new java.io.File(warehouse, t + x)
      Option(dir.listFiles()).toSeq.flatten.map(f => s"$x/${f.getName}" -> f.lastModified)
    }.toSet
    assert(listing.exists(_._1.startsWith("_buckets/part-")) &&
      listing.exists(_._1.startsWith("_docs/part-")))
    assert(listing.exists(_._1 == "_meta/meta.json") === !tableFormMeta)
    Dedup.recoverLshIndex(spark, t, expectedCorpusFp = "AB")
    assert(probe === pre, "probe after migrating recovery != pre-migration probe")
    assert(Dedup.LshStore.storedMeta(spark, t) === m.copy(eps = Seq(3L), nextEp = 4L))
    val migrated = listing
    assert(migrated.map(_._1).filterNot(_.startsWith("_meta/")) ===
      Set("_buckets/ep-3", "_docs/ep-3"), s"migrated directories hold ${migrated.map(_._1)}")
    assert(migrated.map(_._1).filter(_.startsWith("_meta/")) === Set("_meta/meta.json"))
    Dedup.describeLshIndex(spark, t).collect().foreach { r =>
      assert(r.getLong(2) === 0L, s"${r.getString(0)}: the migration kept orphan rows")
    }
    val bytes = java.nio.file.Files.readAllBytes(warehouse.toPath.resolve(s"${t}_meta/meta.json"))
    Dedup.recoverLshIndex(spark, t, expectedCorpusFp = "AB")
    assert(listing === migrated, "a second recover changed the index directories")
    assert(java.nio.file.Files.readAllBytes(
      warehouse.toPath.resolve(s"${t}_meta/meta.json")) === bytes)
    assert(probe === pre)
    dropAll(t)
  }

  test("recover migrates a table-form _meta to the file form, once") {
    migrationCase("graft_il_legacy", tableFormMeta = true)
  }

  test("recover migrates a catalog-era index to epoch directories, once") {
    migrationCase("graft_il_catera", tableFormMeta = false)
  }

  /** `src/main/scala` and every non-comment line of its sources, with its
    * path and line number. */
  private lazy val (mainRoot, mainLines) = {
    import java.io.File
    val base = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "build.sbt").isFile)
      .getOrElse(fail(s"no build.sbt above ${sys.props("user.dir")}"))
    val root = new File(base, "src/main/scala")
    def files(f: File): Seq[File] =
      f.listFiles().toSeq.flatMap(c => if (c.isDirectory) files(c) else Seq(c))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 50, s"scan found only ${sources.size} sources under $root")
    (root, for {
      f <- sources
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
    } yield (root.toPath.relativize(f.toPath).toString, i + 1, code))
  }

  test("no main source reads a _meta through Spark except the migration") {
    val (read, meta) = ("""\.(table|read)\b""".r, """(?i)(_meta|meta\b)""".r)
    val hits = for {
      (f, n, code) <- mainLines
      if read.findFirstIn(code).isDefined && meta.findFirstIn(code).isDefined
    } yield s"$f:$n: $code"
    val (allowed, banned) = hits.partition(h =>
      h.startsWith("graft/sources/IndexStore.scala:") && h.contains("val legacyMeta = spark.read"))
    assert(allowed.size === 1, s"the table-form migration read is missing:\n${hits.mkString("\n")}")
    assert(banned.isEmpty, "_meta read through Spark:\n" + banned.mkString("\n"))
  }

  test("the index store and the LSH/IVF/PQ paths never touch the session catalog") {
    val catalogApi = """saveAsTable|\.table\(|\bcatalog\.|\bsql\(""".r
    val paths = Seq("graft/sources/IndexStore.scala", "graft/operators/Dedup.scala",
      "graft/operators/Similarity.scala")
    val scanned = mainLines.filter(l => paths.contains(l._1))
    assert(scanned.map(_._1).distinct.sorted === paths.sorted, s"scan missed a source under $mainRoot")
    val hits = for {
      (f, n, code) <- scanned if !code.startsWith("import ")
      if catalogApi.findFirstIn(code).isDefined
    } yield s"$f:$n: $code"
    assert(hits.isEmpty, "session-catalog call on the index path:\n" + hits.mkString("\n"))
  }
}
