package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** The streaming wrappers must leave the caller's session untouched and
  * agree with the equivalent batch aggregation. */
class StreamsSpec extends SparkSpecBase {

  import spark.implicits._

  test("runToCompletion isolates its shuffle width from the caller's session") {
    val dir = java.nio.file.Files.createTempDirectory("graft_streams_spec").toString
    val events = (0 until 400).map { i =>
      (new java.sql.Timestamp(1700000000000L + i * 61000L),
        if (i % 3 == 0) "click" else "view", (i % 7).toDouble, i.toLong % 5)
    }.toDF("ts", "event_type", "value", "user_id")
    // testdata layout is one parquet FILE named events.parquet (the stream
    // source symlinks that file); extract the single part file
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val widthBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val got = Streams.tumblingByType(spark, dir, "1 hour")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // the stream ran with width 8 in a child session — the caller's width
    // must be untouched the whole time, not merely restored afterwards
    assert(spark.conf.get("spark.sql.shuffle.partitions") === widthBefore)

    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(unix_timestamp(col("window.start")).as("k"),
        col("event_type"), col("n"), round(col("total"), 4).as("total"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("sessionCounts: gap-based sessions merge and split exactly; open sessions unemitted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sessions_spec").toString
    val base = 1700000000000L
    // user 1: three events 10 min apart (one session), then a 2 h jump
    // (new session); user 2: a lone event. A final far-future marker event
    // (user 9) pushes the watermark past every real session's end.
    val rows = Seq(
      (1L, base, 1.0), (1L, base + 600000L, 2.0), (1L, base + 1200000L, 3.0),
      (1L, base + 1200000L + 7200000L, 4.0),
      (2L, base, 5.0),
      (9L, base + 100L * 3600000L, 0.0))
    val events = rows.map { case (u, ts, v) =>
      (new java.sql.Timestamp(ts), "e", v, u)
    }.toDF("ts", "event_type", "value", "user_id")
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val got = Streams.sessionCounts(spark, dir, "30 minutes")
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
      .toSet
    val gapUs = 1800000000L // 30 min in micros
    def us(ms: Long) = ms * 1000L
    val expected = Set(
      // user 1 session 1: events at +0, +10, +20 min; end = last + gap
      (1L, us(base), us(base + 1200000L) + gapUs, 3L, 6.0),
      // user 1 session 2: the lone event after the 2 h jump
      (1L, us(base + 8400000L), us(base + 8400000L) + gapUs, 1L, 4.0),
      // user 2: lone event
      (2L, us(base), us(base) + gapUs, 1L, 5.0),
      // user 9's marker is itself a session, far from the watermark cut
      (9L, us(base + 360000000000L / 1000L), us(base + 360000000000L / 1000L) + gapUs, 1L, 0.0))
    // the marker session end (+100h) is NOT <= max(ts) - 1h: unemitted
    val expectedEmitted = expected.filterNot(_._1 == 9L)
    assert(got === expectedEmitted)
  }

  test("atLeastOnceDedupTotals: redelivered copies collapse to single totals") {
    val dir = java.nio.file.Files.createTempDirectory("graft_alo_spec").toString
    val base = 1700000000000L
    val events = (0 until 60).map { i =>
      (i.toLong, new java.sql.Timestamp(base + i * 60000L),
        if (i % 2 == 0) "a" else "b", (i % 5).toDouble, i.toLong % 3)
    }.toDF("event_id", "ts", "event_type", "value", "user_id")
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val got = Streams.atLeastOnceDedupTotals(spark, dir)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // despite the source being staged TWICE, totals equal single-copy ones
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("v"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got === batch)
  }

  test("leftOuterMatchCensus: matches emit always, nulls only past the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lo_spec").toString
    val base = 1700000000000L
    def at(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val rows = Seq(
      // u1: view then purchase 10 min later → matched pair
      (1L, 1L, at(0), "view"), (2L, 1L, at(10), "purchase"),
      // u2: purchase with NO view, early → null row once watermark passes
      (3L, 2L, at(5), "purchase"),
      // u3: purchase near the end of input → still open, never emits
      (4L, 3L, at(170), "purchase"),
      // marker view far ahead pins the final watermark to +180min - 1h
      (5L, 9L, at(180), "view"))
    val events = rows.map { case (id, u, ts, e) => (id, ts, e, 1.0, u) }
      .toDF("event_id", "ts", "event_type", "value", "user_id")
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val got = Streams.leftOuterMatchCensus(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((1L, 0L)))   // matched immediately
    assert(got(2L) === ((0L, 1L)))   // unmatched, watermark passed it
    assert(!got.contains(3L), "open purchase must not emit")
  }

  test("funnelStages: state machine matches the batch funnel, horizon cuts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_spec").toString
    val base = 1700000000000L
    def at(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val rows = Seq(
      // u1 completes in order inside the 1 h horizon
      (1L, at(0), "view"), (1L, at(5), "click"), (1L, at(10), "buy"),
      // u2 clicks BEFORE viewing — stops at step 1
      (2L, at(1), "click"), (2L, at(2), "view"),
      // u3's buy falls OUTSIDE the horizon — stops at step 2
      (3L, at(0), "view"), (3L, at(3), "click"), (3L, at(90), "buy"))
    val events = rows.map { case (u, ts, e) => (ts, e, 1.0, u) }
      .toDF("ts", "event_type", "value", "user_id")
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))

    val steps = Seq("view", "click", "buy")
    val got = Streams.funnelStages(spark, dir, steps, horizonSec = 3600L)
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      1 -> (("view", 3L, 1000000L)),
      2 -> (("click", 2L, 666666L)),
      3 -> (("buy", 1L, 333333L))))
    // and the batch operator over the same slice agrees row-for-row
    val batchSlice = spark.read.parquet(s"$dir/events.parquet")
      .where(col("ts") < new java.sql.Timestamp(base + 3600000L))
    val batch = graft.operators.Events
      .funnel(batchSlice, "user_id", "ts", "event_type", steps)
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(batch === got)
  }

  test("nearDupBatch: replaying a committed batch rewrites both sinks identically") {
    import java.nio.file.Files
    val cellDir = Files.createTempDirectory("graft_ndspec_cells").toString
    val keepDir = Files.createTempDirectory("graft_ndspec_keep").toString
    def fp(dir: String): Map[String, Seq[String]] = {
      val f = new java.io.File(dir)
      f.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> spark.read.parquet(d.getPath)
          .collect().map(_.toString).toSeq.sorted
      }.toMap
    }
    // b0: two docs sharing every trigram (exact dup text) + one distinct;
    // b1: a re-arrival of the b0 text (cross-batch near-dup) + a fresh doc
    val b0 = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "a b c d e f"), (11L, "p q r s t o"))
      .toDF("doc_id", "text")
    Streams.nearDupBatch(b0, 0L, cellDir, keepDir)
    Streams.nearDupBatch(b1, 1L, cellDir, keepDir)
    val keeps = spark.read.parquet(keepDir)
      .collect().map(r => r.getLong(0)).toSet
    // greedy first-wins: 1 beats 2 in-batch, 10 hits 1's claimed cells
    assert(keeps === Set(1L, 3L, 11L))
    val (c1, k1) = (fp(cellDir), fp(keepDir))
    // replay the LAST batch (the only one Structured Streaming can replay:
    // batch N starts only after N-1 committed, so a crash re-runs at most
    // the newest batch) — simulated post-crash re-run, byte-identical
    // sinks both times
    Streams.nearDupBatch(b1, 1L, cellDir, keepDir)
    assert(fp(cellDir) === c1)
    assert(fp(keepDir) === k1)
    Streams.nearDupBatch(b1, 1L, cellDir, keepDir)
    assert(fp(cellDir) === c1)
    assert(fp(keepDir) === k1)
  }

  test("ingestNearDupDocsKeyed equals the claim-store form; cell-less docs survive") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_ndkeyed_spec").toString
    // spans all three batch ranges; ids 5 and 250 re-arrive as +10000 near
    // dups; doc 10 is TOO SHORT to shingle (2 tokens → no cells → must
    // survive via the solo sentinel, not silently vanish from the keyed
    // operator); its +10000 copy gains a token and DOES shingle
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // in-batch dup of 1
      (5L, "one two three four five six"),
      (10L, "tiny doc"),                             // no shingles
      (250L, "omega psi chi phi upsilon tau"),       // batch 1
      (251L, "unrelated words entirely different here now"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val store = keyed(Streams.ingestNearDupDocs(spark, dir))
    val state = keyed(Streams.ingestNearDupDocsKeyed(spark, dir))
    assert(state === store)
    // the short doc and its later near-identical copy (which shingles
    // differently — "tiny doc dup0" has one trigram, unclaimed) survive;
    // the in-batch exact dup 2 and the re-arrival 10250 (band-key
    // collisions with 250) do not. (10005's appended token happens to
    // shift every band key of ITS text — both implementations agree it
    // survives; the assertion set pins only the deterministic cases.)
    assert(state.map(_._1).contains(10L))
    assert(state.map(_._1).contains(10010L))
    assert(!state.map(_._1).contains(2L))
    assert(!state.map(_._1).contains(10250L))
  }

  test("keyed near-dup reconciles out-of-order + duplicated deliveries to first-arrival outcome") {
    // r13 verdict item #6: the at-least-once contract. Batches arrive OUT
    // of id order and two docs are REDELIVERED in later batches — the
    // union over batches must equal a replay of the claim rule over the
    // same arrival schedule (first arrival wins; a redelivered copy finds
    // all its cells already claimed by itself and is never kept twice).
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val batches = Seq(
      // high ids first: arrival order deliberately disagrees with id order
      Seq((50L, "alpha beta gamma delta epsilon zeta"),
          (7L, "unrelated totally different words here now")),
      // 3 shares 50's exact text (every cell claimed in b0 → dropped even
      // though its id is smaller — FIRST ARRIVAL wins, not min id);
      // 50 itself is redelivered (at-least-once) → all cells self-claimed
      Seq((3L, "alpha beta gamma delta epsilon zeta"),
          (50L, "alpha beta gamma delta epsilon zeta")),
      // 7 redelivered two batches late + one genuinely fresh doc
      Seq((7L, "unrelated totally different words here now"),
          (99L, "final batch brand new tokens entirely")))
    val srcDir = Files.createTempDirectory("graft_ndooo_src")
    batches.zipWithIndex.foreach { case (rows, b) =>
      val tmp = Files.createTempDirectory("graft_ndooo_tmp")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(f"b$b%02d.parquet"))
      srcDir.resolve(f"b$b%02d.parquet").toFile.setLastModified(1000000L * (b + 1))
    }
    val got = Streams.runNearDupKeyed(spark, srcDir.toString, schema,
      Files.createTempDirectory("graft_ndooo_keep").toString,
      Files.createTempDirectory("graft_ndooo_chk").toString, 1)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side replay of the claim rule over the SAME schedule, cells
    // derived by the SAME band-key expressions the stream uses
    val claimed = scala.collection.mutable.Set.empty[String]
    val expected = batches.zipWithIndex.flatMap { case (rows, b) =>
      val cells = rows.toDF("doc_id", "text")
        .select(col("doc_id").as("id"),
          graft.functions.Vectors.md5BandKeys(16, 4)(
            graft.functions.Vectors.shinglesFast(3)(col("text"))).as("bks"))
        .select(col("id"), posexplode(
          when(size(col("bks")) > 0, col("bks"))
            .otherwise(array(concat(lit("solo:"), col("id").cast("string"))))))
        .select(col("id"),
          concat(col("pos").cast("string"), lit("|"), col("col")).as("cell"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val minPerCell = cells.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).min }
      val ok = cells.groupBy(_._1).collect {
        case (id, cs) if cs.forall { case (_, c) =>
          !claimed(c) && minPerCell(c) == id } => id
      }
      cells.foreach { case (_, c) => claimed += c }
      ok.map(id => (id, b.toLong))
    }.toSet
    assert(got === expected)
    // pins: first arrivals kept; the smaller-id late twin and both
    // redelivered copies dropped; the fresh doc kept in its own batch
    assert(got === Set((50L, 0L), (7L, 0L), (99L, 2L)))
  }

  test("keyed near-dup stream resumes from checkpoint with claim state intact") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
          (3L, "unrelated totally different words here now")),
      // 20 collides with 1's cells (exact text) — dropping it requires the
      // RESTARTED stream to still hold batch 0's claims
      Seq((20L, "alpha beta gamma delta epsilon zeta"),
          (21L, "fresh vocabulary never seen before anywhere")),
      // 30 collides with 3 (claimed two restarts earlier); 31 is fresh
      Seq((30L, "unrelated totally different words here now"),
          (31L, "final batch brand new tokens entirely")))
    def stage(dst: java.nio.file.Path, upTo: Int): Unit =
      batches.take(upTo).zipWithIndex.foreach { case (rows, b) =>
        val f = dst.resolve(f"b$b%02d.parquet")
        if (!Files.exists(f)) {
          val tmp = Files.createTempDirectory("graft_ndresume_tmp")
          rows.toDF("doc_id", "text").coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val part = new java.io.File(tmp.toString).listFiles()
            .find(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet")).get
          Files.move(part.toPath, f)
          f.toFile.setLastModified(1000000L * (b + 1))
        }
      }
    def run(src: java.nio.file.Path, keep: String, chk: String) =
      Streams.runNearDupKeyed(spark, src.toString, schema, keep, chk, 1)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fresh single pass over all three batches = the reference outcome
    val srcB = Files.createTempDirectory("graft_ndresume_b")
    stage(srcB, 3)
    val fresh = run(srcB,
      Files.createTempDirectory("graft_ndresume_keepb").toString,
      Files.createTempDirectory("graft_ndresume_chkb").toString)
    // interrupted run: batch 0 only, stream completes and stops; then the
    // remaining files arrive and a NEW stream starts from the SAME
    // checkpoint — RocksDB state must come back with batch 0's claims
    val srcA = Files.createTempDirectory("graft_ndresume_a")
    val keepA = Files.createTempDirectory("graft_ndresume_keepa").toString
    val chkA = Files.createTempDirectory("graft_ndresume_chka").toString
    stage(srcA, 1)
    val part1 = run(srcA, keepA, chkA)
    assert(part1 === Set((1L, 0L), (3L, 0L)))
    stage(srcA, 3)
    val resumed = run(srcA, keepA, chkA)
    assert(resumed === fresh)
    assert(resumed === Set((1L, 0L), (3L, 0L), (21L, 1L), (31L, 2L)))
  }

  test("stageBatchFiles removes every per-file temp directory when a staging write fails") {
    val tag = s"leak${System.nanoTime}"
    val src = java.nio.file.Files.createTempDirectory("graft_streams_stage")
    val incoming = spark.range(0L, 40L).toDF("doc_id")
    // one predicate stages fine, the other fails inside its write job
    intercept[Exception] {
      Streams.stageBatchFiles(incoming,
        Seq(col("doc_id") % 2 === 0, raise_error(lit("staging predicate failed")).isNull),
        src, tag)
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val left = tmp.listFiles().map(_.getName).filter(_.startsWith(s"graft_${tag}_tmp"))
    assert(left.isEmpty, s"staging left temp directories behind: ${left.mkString(", ")}")
    src.toFile.listFiles().foreach(_.delete())
    src.toFile.delete()
  }
}
