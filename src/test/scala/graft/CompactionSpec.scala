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

  test("compactLshIndex strict audit catches a count-neutral id swap") {
    import graft.operators.Dedup
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
    val ep = Dedup.LshStore.storedMeta(spark, tbl).eps.head
    val victim = indexRows(Dedup.LshStore, tbl, "docs", Seq(ep)).select(min(col("id")))
      .head().getLong(0)
    rewriteIndexEpoch(Dedup.LshStore, tbl, "buckets", "bk", 2, ep)(
      _.withColumn("id", when(col("id") === victim, lit(999999L)).otherwise(col("id"))))
    // the count relation still balances — the CHEAP audit passes...
    Dedup.assertLshIndexConsistent(spark, tbl)
    // ...but strict (run standalone and via the compaction seam) throws
    val e = intercept[IllegalArgumentException] {
      Dedup.assertLshIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("count-balanced"))
    val e2 = intercept[IllegalArgumentException] { Dedup.compactLshIndex(spark, tbl) }
    assert(e2.getMessage.contains("republish"))
    dropIndex(tbl)
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
    rewriteIndexEpoch(Similarity.IvfStore, tbl, "assign", "c", 2,
      Similarity.IvfStore.storedMeta(spark, tbl).eps.head)(df => df.unionByName(df.limit(1)))
    Similarity.assertIvfIndexConsistent(spark, tbl) // cheap form: still fine
    val e = intercept[IllegalArgumentException] {
      Similarity.assertIvfIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("duplicated ids"))
    val e2 = intercept[IllegalArgumentException] { Similarity.compactIvfIndex(spark, tbl) }
    assert(e2.getMessage.contains("republish"))
    dropIndex(tbl)
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
    def assignFiles(): Long =
      Similarity.describePqIndex(spark, tbl).head().getLong(5)
    val preFiles = assignFiles()
    Similarity.compactPqIndex(spark, tbl)
    val files = assignFiles()
    assert(files <= 2 && files < preFiles,
      s"expected <= 2 files after compaction (pre: $preFiles), saw $files")
    // count-NEUTRAL corruption: one row's code array gets an out-of-range
    // code — rows, distinct ids, routing range and n_rows ALL survive; an
    // out-of-range code would silently read a wrong codebook row at ADC
    // time, and only the strict code-range invariant can see it
    val ep = Similarity.PqStore.storedMeta(spark, tbl).eps.head
    val victim = indexRows(Similarity.PqStore, tbl, "assign", Seq(ep))
      .select(min(col("neighbor_id"))).head().getLong(0)
    rewriteIndexEpoch(Similarity.PqStore, tbl, "assign", "c", 2, ep)(
      _.withColumn("cd", when(col("neighbor_id") === victim,
        array(lit(99L), lit(0L))).otherwise(col("cd"))))
    Similarity.assertPqIndexConsistent(spark, tbl) // cheap form: still fine
    val e = intercept[IllegalArgumentException] {
      Similarity.assertPqIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("code array"))
    val e2 = intercept[IllegalArgumentException] { Similarity.compactPqIndex(spark, tbl) }
    assert(e2.getMessage.contains("republish"))
    dropIndex(tbl)
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
    val victim = indexRows(Similarity.PqStore, tbl, "assign", Seq(0L))
      .select(min(col("neighbor_id"))).head().getLong(0)
    rewriteIndexEpoch(Similarity.PqStore, tbl, "assign", "c", 2)(
      _.withColumn("cd", when(col("neighbor_id") === victim,
        lit(null).cast(ArrayType(LongType))).otherwise(col("cd"))))
    Similarity.assertPqIndexConsistent(spark, tbl) // cheap form: routing fine
    val e = intercept[IllegalArgumentException] {
      Similarity.assertPqIndexConsistent(spark, tbl, strict = true)
    }
    assert(e.getMessage.contains("code array"))
    dropIndex(tbl)
  }
}
