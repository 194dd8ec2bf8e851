package graft

import org.apache.spark.sql.functions._

import graft.sources.Compaction

/** Compacted sized-file writer: exact file counts, contiguous disjoint key
  * ranges per file (the footer-stat skipping contract), lossless content. */
class CompactionSpec extends SparkSpecBase {

  import spark.implicits._

  private def listParquet(path: String): Seq[java.io.File] =
    new java.io.File(path).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("writeRowBounded: exact file count, disjoint contiguous ranges, lossless") {
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val df = (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "payload")
    val n = Compaction.writeRowBounded(df, out, "k", 300L)
    assert(n === 4) // ceil(1000/300)
    val files = listParquet(out)
    assert(files.size === 4)
    // each file covers a contiguous key range, ranges are disjoint
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("k")), max(col("k")), count(lit(1))).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1, _), (lo2, _, _)) => assert(hi1 < lo2, "ranges overlap")
      case _ =>
    }
    assert(ranges.map(_._3).sum === 1000L)
    // lossless round-trip
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted
      === (0L until 1000L).toArray)
    // a single under-full input still writes one file
    val tiny = java.nio.file.Files.createTempDirectory("graft_compact2").toString
    assert(Compaction.writeRowBounded(df.limit(5), tiny, "k", 300L) === 1)
    assert(listParquet(tiny).size === 1)
  }

  test("targetedDelete rewrites only affected partitions; full partitions vanish") {
    import graft.sources.Partitioned
    val out = java.nio.file.Files.createTempDirectory("graft_tdel").toString
    // p=a holds users 1,7; p=b only user 2 (untouched); p=c only user 7 (fully deleted)
    val df = Seq((1L, "a"), (7L, "a"), (2L, "b"), (7L, "c"), (9L, "a"))
      .toDF("user", "p")
    df.write.mode("overwrite").partitionBy("p").parquet(out)
    def listing(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$out/p=$part")
      if (!d.exists) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = listing("b")
    val affected = Partitioned.targetedDelete(
      spark, out, "p", col("user") === 7L)
    assert(affected === Seq("a", "c"))
    // the untouched partition keeps its exact files (names AND mtimes)
    assert(listing("b") === bBefore)
    // the fully-deleted partition's directory is gone
    assert(listing("c") === Map.empty)
    // surviving data is exactly the non-matching rows
    val left = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user"), r.getAs[String]("p"))).toSet
    assert(left === Set((1L, "a"), (9L, "a"), (2L, "b")))
  }

  test("targetedUpsert: update-in-place, key move, insert; untouched partition keeps files") {
    import graft.sources.Partitioned
    val out = java.nio.file.Files.createTempDirectory("graft_tups").toString
    // p=a: ids 1,2 — id 1 updates in place, id 2 MOVES to p=c (a rewrites, c rewrites)
    // p=b: id 3 — untouched; p=d: id 4 — fully vacated by a move to p=a
    val df = Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"), (4L, 40.0, "d"))
      .toDF("id", "v", "p")
    df.write.mode("overwrite").partitionBy("p").parquet(out)
    def listing(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$out/p=$part")
      if (!d.exists) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = listing("b")
    val updates = Seq(
      (1L, 11.0, "a"), // in-place value update
      (2L, 22.0, "c"), // move a→c (c is a brand-new partition)
      (4L, 44.0, "a"), // move d→a, vacating d entirely
      (9L, 99.0, "e")  // pure insert into a new partition
    ).toDF("id", "v", "p")
    val affected = Partitioned.targetedUpsert(spark, out, "p", "id", updates)
    assert(affected === Seq("a", "c", "d", "e"))
    assert(listing("b") === bBefore) // untouched: names AND mtimes identical
    assert(listing("d") === Map.empty) // vacated source partition removed
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"), r.getAs[String]("p"))).toSet
    assert(got === Set((1L, 11.0, "a"), (2L, 22.0, "c"), (3L, 30.0, "b"),
      (4L, 44.0, "a"), (9L, 99.0, "e")))
    // idempotent replay: same batch again changes nothing
    Partitioned.targetedUpsert(spark, out, "p", "id", updates)
    val again = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"), r.getAs[String]("p"))).toSet
    assert(again === got)
  }

  test("compactBucketed: file count shrinks to bucket count, rows + bucketing preserved") {
    import graft.sources.Bucketing
    val tbl = "graft_compactspec"
    val buckets = 4
    // publish, then three appends — each append leaves its own file-set
    Bucketing.saveBucketed((0L until 200L).map(i => (i, i * 2)).toDF("id", "v"),
      tbl, "id", buckets)
    (1 to 3).foreach { b =>
      (0L until 100L).map(i => (1000L * b + i, i)).toDF("id", "v")
        .write.mode("append").bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(tbl)
    }
    val before = Bucketing.dataFileCount(spark, tbl)
    assert(before > buckets, s"appends produced only $before files — fixture too weak")
    val rowsBefore = spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Bucketing.compactBucketed(spark, tbl, "id", buckets)
    val after = Bucketing.dataFileCount(spark, tbl)
    assert(after === buckets, s"compaction left $after files, expected $buckets")
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === rowsBefore)
    // bucket metadata survived the catalog swap: a self-join on the bucket
    // key plans with NO shuffle exchange on either side
    val joined = spark.table(tbl).join(spark.table(tbl).select(col("id")), Seq("id"))
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed self-join re-shuffled after compaction:\n$plan")
  }

  test("compactBucketed swap is crash-recoverable at every step (fault injection)") {
    import graft.sources.Bucketing
    val tbl = "graft_crashspec"
    val buckets = 2
    def rows(t: String) = spark.table(t).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def publish(): Set[(Long, Long)] = {
      Bucketing.saveBucketed((0L until 50L).map(i => (i, i * 3)).toDF("id", "v"),
        tbl, "id", buckets)
      rows(tbl)
    }
    // ---- crash AFTER staging, BEFORE rename-aside: live table untouched,
    // stale __compact entry + dir must not break the next compaction
    val expect = publish()
    Bucketing.saveBucketed(
      spark.table(tbl).repartition(buckets), s"${tbl}__compact", "id", buckets)
    Bucketing.repairCompacted(spark, tbl)
    assert(rows(tbl) === expect)
    assert(!spark.catalog.tableExists(s"${tbl}__compact"))
    Bucketing.compactBucketed(spark, tbl, "id", buckets) // full run still works
    assert(rows(tbl) === expect)

    // ---- crash BETWEEN rename-aside and rename-in: the live name is gone,
    // __old holds the original, __compact holds the staged copy — repair
    // restores the ORIGINAL under the live name and clears both leftovers
    publish()
    Bucketing.saveBucketed(
      spark.table(tbl).repartition(buckets), s"${tbl}__compact", "id", buckets)
    spark.sql(s"ALTER TABLE $tbl RENAME TO ${tbl}__old")
    assert(!spark.catalog.tableExists(tbl))
    Bucketing.repairCompacted(spark, tbl)
    assert(rows(tbl) === expect)
    assert(!spark.catalog.tableExists(s"${tbl}__old"))
    assert(!spark.catalog.tableExists(s"${tbl}__compact"))

    // ---- crash AFTER rename-in, BEFORE dropping __old: live table already
    // compacted; repair just clears the stale __old
    publish()
    Bucketing.saveBucketed(
      spark.table(tbl).repartition(buckets), s"${tbl}__compact", "id", buckets)
    spark.sql(s"ALTER TABLE $tbl RENAME TO ${tbl}__old")
    spark.sql(s"ALTER TABLE ${tbl}__compact RENAME TO $tbl")
    Bucketing.repairCompacted(spark, tbl)
    assert(rows(tbl) === expect)
    assert(!spark.catalog.tableExists(s"${tbl}__old"))
    // and the healed table compacts cleanly end-to-end
    Bucketing.compactBucketed(spark, tbl, "id", buckets)
    assert(rows(tbl) === expect)
    assert(Bucketing.dataFileCount(spark, tbl) === buckets)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("compactLshIndex strict audit catches a count-neutral id swap") {
    import graft.operators.Dedup
    import graft.sources.Bucketing
    val tbl = "graft_strictlsh"
    val docs = (0L until 20L).map(i =>
      (i, s"tok${i % 5} alpha beta gamma delta tok${i % 3} epsilon zeta")).toDF("doc_id", "text")
    Dedup.publishLshIndex(docs, "doc_id", "text", tbl, buckets = 2)
    // healthy index: compaction (which runs the strict audit) succeeds
    Dedup.compactLshIndex(spark, tbl)
    // count-NEUTRAL corruption: every band row of one real doc is re-keyed
    // to a phantom id — total rows, per-id row counts (phantom gets exactly
    // `bands` rows) and distinct-id cardinality ALL survive; only the
    // mutual id-subset check can see it
    val victim = spark.table(s"${tbl}_docs").select(min(col("id"))).head().getLong(0)
    val corrupted = spark.table(s"${tbl}_buckets")
      .withColumn("id", when(col("id") === victim, lit(999999L)).otherwise(col("id")))
      .collect()
    val schema = spark.table(s"${tbl}_buckets").schema
    spark.sql(s"DROP TABLE ${tbl}_buckets")
    spark.createDataFrame(java.util.Arrays.asList(corrupted: _*), schema)
      .write.bucketBy(2, "bk").sortBy("bk").format("parquet")
      .saveAsTable(s"${tbl}_buckets")
    // the count relation still balances — the CHEAP audit passes...
    Dedup.assertLshIndexConsistent(spark, tbl)
    // ...but strict (run standalone and via the compaction seam) throws
    val e = intercept[IllegalArgumentException] {
      Dedup.assertLshIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("count-balanced"))
    val e2 = intercept[IllegalArgumentException] { Dedup.compactLshIndex(spark, tbl) }
    assert(e2.getMessage.contains("republish"))
    Seq("_buckets", "_docs", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  test("compactIvfIndex strict audit catches a duplicated list row") {
    import graft.operators.Similarity
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tbl = "graft_strictivf"
    val rnd = new scala.util.Random(3)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 40L).map(i =>
        Row(i, Seq.fill(8)(rnd.nextFloat()))): _*), schema)
    Similarity.publishIvfIndex(vecs, "vec_id", "embedding", tbl,
      trainRows = 16, nlist = 2, buckets = 2)
    Similarity.compactIvfIndex(spark, tbl) // healthy: strict audit passes
    // duplicate ONE inverted-list row: routing stays legal, counts grow by
    // one — only the distinct-id invariant can see it
    val dup = spark.table(s"${tbl}_assign").limit(1)
    dup.write.mode("append").bucketBy(2, "c").sortBy("c")
      .format("parquet").saveAsTable(s"${tbl}_assign")
    Similarity.assertIvfIndexConsistent(spark, tbl) // cheap form: still fine
    val e = intercept[IllegalArgumentException] {
      Similarity.assertIvfIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("duplicated ids"))
    val e2 = intercept[IllegalArgumentException] { Similarity.compactIvfIndex(spark, tbl) }
    assert(e2.getMessage.contains("republish"))
    Seq("_assign", "_cents", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  test("compactPqIndex strict audit catches code corruption the cheap audit misses") {
    import graft.operators.Similarity
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tbl = "graft_strictpq"
    val rnd = new scala.util.Random(7)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 40L).map(i =>
        Row(i, Seq.fill(8)(rnd.nextFloat()))): _*), schema)
    // full lifecycle: publish over a partial corpus, append the rest
    Similarity.publishPqIndex(vecs.where(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", tbl, nlist = 2, m = 2, codes = 4, rounds = 2, buckets = 2)
    Similarity.appendPqIndex(vecs.where(col("vec_id") % 5 === 0), "vec_id",
      "embedding", tbl, newCorpusFp = "")
    // the append bumped _meta.n_rows to the full corpus count
    assert(Similarity.PqStore.storedMeta(spark, tbl).nRows === 40L)
    // a duplicate batch id is refused at the seam
    val eDup = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(vecs.limit(1), "vec_id", "embedding", tbl)
    }
    assert(eDup.getMessage.contains("already present"))
    // healthy: compaction (which runs the strict audit) succeeds, and the
    // appended file sets collapse to at most `buckets` files (one per
    // non-empty writer bucket — both coarse lists may hash to one bucket)
    def assignFiles(): Int = {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED ${tbl}_assign")
        .where(col("col_name") === "Location").head().getString(1)
      new java.io.File(loc.stripPrefix("file:"))
        .listFiles().count(_.getName.endsWith(".parquet"))
    }
    val preFiles = assignFiles()
    Similarity.compactPqIndex(spark, tbl)
    val files = assignFiles()
    assert(files <= 2 && files < preFiles,
      s"expected <= 2 files after compaction (pre: $preFiles), saw $files")
    // count-NEUTRAL corruption: one row's code array gets an out-of-range
    // code — rows, distinct ids, routing range and n_rows ALL survive; an
    // out-of-range code would silently read a wrong codebook row at ADC
    // time, and only the strict code-range invariant can see it
    val victim = spark.table(s"${tbl}_assign")
      .select(min(col("neighbor_id"))).head().getLong(0)
    val corrupted = spark.table(s"${tbl}_assign")
      .withColumn("cd", when(col("neighbor_id") === victim,
        array(lit(99L), lit(0L))).otherwise(col("cd")))
      .collect()
    val aSchema = spark.table(s"${tbl}_assign").schema
    spark.sql(s"DROP TABLE ${tbl}_assign")
    spark.createDataFrame(java.util.Arrays.asList(corrupted: _*), aSchema)
      .write.bucketBy(2, "c").sortBy("c").format("parquet")
      .saveAsTable(s"${tbl}_assign")
    Similarity.assertPqIndexConsistent(spark, tbl) // cheap form: still fine
    val e = intercept[IllegalArgumentException] {
      Similarity.assertPqIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("code array"))
    val e2 = intercept[IllegalArgumentException] { Similarity.compactPqIndex(spark, tbl) }
    assert(e2.getMessage.contains("republish"))
    Seq("_assign", "_cents", "_books", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  test("strict PQ audit catches a NULL code array (torn-write shape)") {
    // r13 advice: size(NULL) and exists(NULL) evaluate to NULL, so the
    // when() fell to otherwise(0) and a null-code row PASSED the strict
    // audit that exists to catch exactly this torn-write/schema-drift shape
    import graft.operators.Similarity
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tbl = "graft_nullcd"
    val rnd = new scala.util.Random(11)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 20L).map(i =>
        Row(i, Seq.fill(8)(rnd.nextFloat()))): _*), schema)
    Similarity.publishPqIndex(vecs, "vec_id", "embedding", tbl,
      nlist = 2, m = 2, codes = 4, rounds = 2, buckets = 2)
    val victim = spark.table(s"${tbl}_assign")
      .select(min(col("neighbor_id"))).head().getLong(0)
    val aSchema = StructType(spark.table(s"${tbl}_assign").schema
      .map(f => if (f.name == "cd") f.copy(nullable = true) else f))
    val torn = spark.table(s"${tbl}_assign")
      .withColumn("cd", when(col("neighbor_id") === victim,
        lit(null).cast(ArrayType(LongType))).otherwise(col("cd")))
      .collect()
    spark.sql(s"DROP TABLE ${tbl}_assign")
    spark.createDataFrame(java.util.Arrays.asList(torn: _*), aSchema)
      .write.bucketBy(2, "c").sortBy("c").format("parquet")
      .saveAsTable(s"${tbl}_assign")
    Similarity.assertPqIndexConsistent(spark, tbl) // cheap form: routing fine
    val e = intercept[IllegalArgumentException] {
      Similarity.assertPqIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("code array"))
    Seq("_assign", "_cents", "_books", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }
}
