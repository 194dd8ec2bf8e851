package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Structured Streaming surface (additive — the reference's DelayedSeries is
  * pull-based lazy loading, not streaming; SURVEY §2.7 last row).
  *
  * The same tumbling/session aggregations exposed as batch operators run
  * unchanged as streams: `readStream` → watermark → windowed agg. For local
  * verification the stream is driven synchronously to completion over the
  * parquet input (`processAllAvailable`) into a memory sink — the query
  * plan is identical to what a Kafka-fed cluster deployment would run.
  */
object Streams {

  private val nameCounter = new AtomicInteger(0)

  /** Isolated child session for a verification stream: local streams carry
    * tiny per-batch state, so the session's batch-sized shuffle width just
    * multiplies state-store open/commit overhead — but mutating the
    * caller's session-global conf would race any concurrent query on it.
    * The child (shared SparkContext, own SQLConf) inherits the caller's
    * runtime conf (ANSI, nanosAsLong, …) minus the shuffle width. */
  /** New session (shared SparkContext, own SQLConf) inheriting the
    * caller's runtime conf — static entries throw AnalysisException on set
    * and are skipped. */
  private def sessionWithConfs(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    s2
  }

  private[graft] def isolatedStreamSession(spark: SparkSession): SparkSession = {
    val stream = sessionWithConfs(spark)
    stream.conf.set("spark.sql.shuffle.partitions", "8")
    // At 100 TB the stateful queries (dedup-by-id, funnel state machines,
    // session windows) hold per-key state for every live key in the
    // watermark horizon — on the default HDFS-backed in-memory provider
    // that state lives on-heap and OOMs executors long before the data
    // does. `spark.graft.streaming.stateStore=rocksdb` routes state to the
    // embedded RocksDB provider (off-heap, spills to local SSD, incremental
    // checkpoints to the checkpoint location) with NO query change — the
    // plan, results, and watermark semantics are identical (asserted in
    // RocksDbStateSpec). Default stays in-memory: for the local
    // verification streams state is tiny and RocksDB's per-batch
    // open/commit overhead would only slow the suite.
    if (spark.conf.getOption("spark.graft.streaming.stateStore")
          .exists(_.equalsIgnoreCase("rocksdb"))) {
      stream.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing ships per-batch deltas instead of full
      // SST uploads — the production default for large state
      stream.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    }
    stream
  }

  /** The file-stream source requires a DIRECTORY; expose the single
    * events.parquet file through a temp dir (symlink). Caller must delete
    * via [[dropStagedSourceDir]]. */
  private def stageSourceDir(dir: String): java.nio.file.Path = {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    srcDir
  }

  private def dropStagedSourceDir(srcDir: java.nio.file.Path): Unit = {
    java.nio.file.Files.deleteIfExists(srcDir.resolve("events.parquet"))
    java.nio.file.Files.deleteIfExists(srcDir)
  }

  /** events stream off the staged dir; ts arrives either as INT64 nanos
    * (read as long under nanosAsLong) or as timestamp[us] without timezone
    * (TIMESTAMP_NTZ) depending on the generator vintage → normalized to a
    * real (instant) timestamp; watermarks reject NTZ. Session timezone is
    * UTC, so the NTZ cast preserves the stored micros exactly. */
  private def eventsStream(
      stream: SparkSession, batchSchema: org.apache.spark.sql.types.StructType,
      srcDir: java.nio.file.Path): DataFrame = {
    val raw = stream.readStream.schema(batchSchema).parquet(srcDir.toString)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Run a streaming aggregation over the events table to completion and
    * return the result as a batch DataFrame. */
  private def runToCompletion(
      spark: SparkSession, dir: String, outputMode: String = "complete")(
      agg: DataFrame => DataFrame): DataFrame = {
    val batchSchema = graft.Tables.rawSchema(spark, dir, "events")
    val srcDir = stageSourceDir(dir)
    val stream = isolatedStreamSession(spark)
    val events = eventsStream(stream, batchSchema, srcDir)
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    try {
      val q = agg(events).writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // localCheckpoint pins the rows off the memory sink, so the sink table
      // and scratch dir can be released — repeated calls in a long-lived
      // session no longer accumulate sink tables (driver memory) or temp dirs.
      // The checkpointed RDD is context-level, so re-rooting the result in
      // the CALLER's session is free and keeps downstream composition in one
      // session.
      val chk = stream.table(name).localCheckpoint(true)
      spark.createDataFrame(chk.rdd, chk.schema)
    } finally {
      stream.catalog.dropTempView(name)
      dropStagedSourceDir(srcDir)
    }
  }

  /** Tumbling windows through a PARQUET FILE SINK in append mode — the
    * production exactly-once output path (checkpointed offsets + file
    * manifest), where a window row is emitted ONLY once the watermark has
    * passed its end (late-window finalization; complete-mode memory sinks
    * never exercise this). Windows still open when the input is exhausted
    * are deliberately unemitted — the batch-oracle twin is the same
    * aggregation filtered to `window_end <= max(ts) - delay`. Returns the
    * sink's contents read back; scratch dirs cleaned up. */
  def tumblingFileSink(
      spark: SparkSession, dir: String, windowLen: String): DataFrame = {
    val batchSchema = graft.Tables.rawSchema(spark, dir, "events")
    val srcDir = stageSourceDir(dir)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_stream_fsink")
    val chkDir = java.nio.file.Files.createTempDirectory("graft_stream_fchk")
    val stream = isolatedStreamSession(spark)
    try {
      val events = eventsStream(stream, batchSchema, srcDir)
      val q = events
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), windowLen), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .select(unix_timestamp(col("window.start")).as("k"),
          col("event_type"), col("n"), round(col("total"), 4).as("total"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", chkDir.toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // explicit schema: when NO window finalized (input shorter than
      // windowLen + delay) the sink dir holds only _spark_metadata and a
      // schema-inferring read would throw instead of returning empty
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total", org.apache.spark.sql.types.DoubleType)))
      spark.read.schema(outSchema).parquet(sinkDir.toString).localCheckpoint(true)
    } finally {
      dropStagedSourceDir(srcDir)
      rmTree(chkDir)
      rmTree(sinkDir)
    }
  }

  /** Stage `incoming` as one single-file batch per predicate under
    * `srcDir`, named `bNN.parquet` with MONOTONE mtimes (= arrival order
    * for the file-stream source, which orders by (mtime, path) — both
    * monotone in the batch index here, so ordering is deterministic
    * regardless of write completion order). The per-range writes are
    * independent single-file jobs into private tmp dirs — overlapped so
    * the staging pays ~one job latency instead of |preds| (r17: staging
    * runs INSIDE the timed ingest/probe queries; profiled ~0.1-0.15 s of
    * sequential job latency per extra batch file at sf0.1). */
  private def stageBatchFiles(
      incoming: DataFrame,
      preds: Seq[org.apache.spark.sql.Column],
      srcDir: java.nio.file.Path,
      tag: String): Unit = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = preds.zipWithIndex.map { case (pred, b) =>
      Future {
        val tmp = java.nio.file.Files.createTempDirectory(s"graft_${tag}_tmp")
        incoming.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val dst = srcDir.resolve(f"b$b%02d.parquet")
        java.nio.file.Files.move(findPartFile(tmp), dst)
        // arrival order rides on mtime — fail LOUDLY if the filesystem
        // refuses to set it, otherwise batch order silently becomes
        // nondeterministic (order-dependent flaky results)
        require(dst.toFile.setLastModified(1000000L * (b + 1)),
          s"stageBatchFiles: cannot set mtime on $dst — file-stream arrival " +
            "order would be nondeterministic on this filesystem")
        rmTree(tmp)
      }
    }
    graft.functions.Par.awaitAllSettled(fs: _*)
  }

  /** Locate the single part file of a coalesce(1) write — the
    * `Files.list` stream MUST be closed (it holds a directory fd; the
    * previous inline form leaked one per staged batch). */
  private def findPartFile(dir: java.nio.file.Path): java.nio.file.Path = {
    val s = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.find(_.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file under $dir"))
    } finally s.close()
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** `foreachBatch` sink — the escape hatch for targets Structured
    * Streaming has no native sink for (JDBC upserts, MERGE into a table
    * format, multi-table writes). Exactly-once recipe: foreachBatch is
    * at-least-once (a failed batch REPLAYS with the same checkpointed
    * batchId), so the write must be IDEMPOTENT in the batchId — here each
    * micro-batch overwrites its own deterministic `batch=<id>` directory,
    * so a replay rewrites the same files instead of appending duplicates
    * (dynamic partition overwrite / MERGE-on-batchId are the table-format
    * analogs). Update-mode per-type running totals land one snapshot per
    * batch; reading back the LATEST batch per type reproduces the batch
    * aggregate exactly — the parity check of q133. */
  def foreachBatchTypeTotals(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = graft.Tables.rawSchema(spark, dir, "events")
    val srcDir = stageSourceDir(dir)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_stream_feb")
    val chkDir = java.nio.file.Files.createTempDirectory("graft_stream_febchk")
    val stream = isolatedStreamSession(spark)
    try {
      val events = eventsStream(stream, batchSchema, srcDir)
      val agg = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", chkDir.toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // explicit schema incl. the discovered `batch` partition column — an
      // inference-free read stays well-defined on an empty sink
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.LongType)))
      spark.read.schema(outSchema).parquet(sinkDir.toString)
        .groupBy(col("event_type"))
        .agg(max_by(col("n"), col("batch")).as("n"),
          max_by(col("total"), col("batch")).as("total"))
        .localCheckpoint(true)
    } finally {
      dropStagedSourceDir(srcDir)
      rmTree(chkDir)
      rmTree(sinkDir)
    }
  }

  /** Tumbling-window counts/sums per event type with a watermark —
    * the streaming twin of Resample.sampleTime. */
  def tumblingByType(spark: SparkSession, dir: String, windowLen: String): DataFrame =
    runToCompletion(spark, dir) { events =>
      events
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), windowLen), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .select(
          unix_timestamp(col("window.start")).as("k"),
          col("event_type"), col("n"), round(col("total"), 4).as("total"))
    }

  /** Sliding (overlapping) windows — each event contributes to
    * windowLen/slide windows; the streaming twin of Series.windowDist. */
  def slidingCounts(
      spark: SparkSession, dir: String, windowLen: String, slide: String): DataFrame =
    runToCompletion(spark, dir) { events =>
      events
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), windowLen, slide))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .select(
          unix_timestamp(col("window.start")).as("k"),
          col("n"), round(col("total"), 4).as("total"))
    }

  /** Stream-stream self-join: for each event, the same user's events in the
    * following hour — the streaming form of a time-range self-join (state
    * on both sides, expired by the watermarks + the time constraint; at
    * scale state is partitioned by the join key like any shuffle). The
    * joined pairs land in the sink; the per-user pair counts are a batch
    * aggregate over it. */
  def withinHourPairCounts(spark: SparkSession, dir: String, maxUserId: Long): DataFrame =
    runToCompletion(spark, dir, outputMode = "append") { events =>
      val base = events.where(col("user_id") < maxUserId)
      val a = base.withWatermark("ts", "2 hours").alias("a")
      val b = base.withWatermark("ts", "2 hours").alias("b")
      a.join(b, expr(
        "a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + interval 1 hour"))
        .select(col("a.user_id").as("user_id"), col("a.event_id").as("eid_a"))
    }
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Stream-stream LEFT OUTER time-range join — the semantics q108's
    * inner join can't express: every purchase pairs with the same user's
    * views in the preceding hour, and a purchase with NO such view still
    * emits (null-padded) — but only once the WATERMARK has passed it, the
    * point where the engine can PROVE no matching view is still coming.
    * That proof obligation is the whole semantics: matches emit
    * immediately; null rows emit on state eviction (Spark runs a no-data
    * batch when the watermark advances, so bounded replay finalizes).
    * Purchases newer than (max ts − delay) remain open and deliberately
    * never emit — the batch oracle applies the same cutoff, the q122
    * late-finalization convention.
    *
    * At scale: state is partitioned by user_id like any shuffle; the time
    * bound + watermark cap each side's state at `delay` of history.
    * Returns per-user (n_matched, n_unmatched) over the emitted rows. */
  def leftOuterMatchCensus(spark: SparkSession, dir: String): DataFrame =
    runToCompletion(spark, dir, outputMode = "append") { events =>
      val p = events.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withWatermark("ts", "1 hour").alias("p")
      val v = events.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("v_eid"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour").alias("v")
      p.join(v, expr(
        "user_id = v_user AND v_ts >= ts - interval 1 hour AND v_ts <= ts"),
        "left_outer")
        .select(col("user_id"), col("event_id"), col("v_eid"))
    }
      .groupBy(col("user_id"))
      .agg(sum(when(col("v_eid").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("v_eid").isNull, 1L).otherwise(0L)).as("n_unmatched"))

  /** AT-LEAST-ONCE ingest dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark`: the staged source holds TWO links to
    * the same events file (an upstream redelivery, the at-least-once
    * firehose contract), and the stream drops the replayed copies by
    * event_id while the watermark lets state age out (duplicates carry the
    * SAME event time, so they always land inside the delay window —
    * exactly the guarantee this operator is specified for, where q173's
    * unbounded `dropDuplicates` would retain state forever). The batch
    * oracle is plain DISTINCT-by-id totals. */
  def atLeastOnceDedupTotals(spark: SparkSession, dir: String): DataFrame = {
    val batchSchema = graft.Tables.rawSchema(spark, dir, "events")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_alo")
    val target = java.nio.file.Paths.get(s"$dir/events.parquet")
    java.nio.file.Files.createSymbolicLink(srcDir.resolve("events.parquet"), target)
    java.nio.file.Files.createSymbolicLink(srcDir.resolve("events_redelivery.parquet"), target)
    val stream = isolatedStreamSession(spark)
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    try {
      val q = eventsStream(stream, batchSchema, srcDir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_type"), col("value"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val chk = stream.table(name).localCheckpoint(true)
      spark.createDataFrame(chk.rdd, chk.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("v_cents"))
    } finally {
      stream.catalog.dropTempView(name)
      rmTree(srcDir)
    }
  }

  /** Streaming-ingest dedup — the streaming twin of `Dedup.exact`: drop
    * duplicate content keys as they arrive, BEFORE they reach storage (the
    * shape of a training-data ingest pipe: dedup at the firehose, not in a
    * nightly batch). Local verification uses unbounded `dropDuplicates`
    * state (= global distinct, exactly the batch oracle); on a real
    * unbounded stream use `dropDuplicatesWithinWatermark` so state ages out
    * with the watermark. */
  def dedupedTypeTotals(spark: SparkSession, dir: String): DataFrame =
    runToCompletion(spark, dir, outputMode = "append") { events =>
      events
        .withWatermark("ts", "25 hours")
        .dropDuplicates(Seq("user_id", "event_type", "value"))
        .select(col("event_type"), col("value"))
    }
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))

  /** Stream-STATIC enrichment join — the dimension-lookup shape of a
    * production ingest (every event joined against a slowly-changing
    * reference table). Unlike stream-stream joins there is NO watermark
    * state: Spark re-plans the static side per micro-batch and the join
    * broadcasts or shuffles exactly like a batch join (at scale: keep the
    * dim broadcast-sized or pre-bucket it on the join key). The static
    * dim here derives from the same events table (each user's
    * lexicographically-first event type), so the batch oracle replays it
    * verbatim. */
  def enrichedTypeTotals(spark: SparkSession, dir: String): DataFrame =
    runToCompletion(spark, dir) { events =>
      val staticDim = events.sparkSession.read
        .parquet(s"$dir/events.parquet")
        .groupBy(col("user_id"))
        .agg(concat(min(col("event_type")), lit("_"), col("user_id") % 5).as("home_type"))
      events.join(staticDim, "user_id")
        .groupBy(col("home_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    }

  /** Gap-based SESSION windows per user — the streaming form of
    * windowWhile's "new window when the key jumps" semantics: a session
    * holds an event iff it lands strictly before the previous event's ts +
    * `gap`, so its window is [first ts, last ts + gap). Append mode emits a
    * session only once the watermark passes its end — sessions still open
    * at end-of-input stay unemitted, and the batch oracle applies the same
    * `end <= max(ts) - delay` cut (gaps-and-islands: lag + break-flag
    * cumulative sum). At scale the session state store partitions by the
    * grouping key exactly like the aggregation shuffle. Micro timestamps
    * (unix_micros / epoch_us) keep boundary values integer-exact. */
  def sessionCounts(spark: SparkSession, dir: String, gap: String): DataFrame =
    runToCompletion(spark, dir, outputMode = "append") { events =>
      events
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .select(
          unix_micros(col("session_window.start")).as("sess_start"),
          unix_micros(col("session_window.end")).as("sess_end"),
          col("user_id"), col("n"), round(col("total"), 4).as("total"))
    }

  /** Arbitrary-state streaming: per-user running (count, sum) via
    * mapGroupsWithState — the Structured Streaming home of the reference's
    * per-group custom reducers (SURVEY §2.10) and the building block for
    * windowWhile-style session logic on unbounded streams. State lives in the
    * state store (checkpointed, partitioned by group key at scale). */
  def statefulUserTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = runToCompletion(spark, dir, outputMode = "update") { events =>
      events
        .select(col("user_id").cast("long").as("user_id"), col("value").cast("double").as("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (user, rows, state) =>
            val (cnt0, sum0) = state.getOption.getOrElse((0L, 0.0))
            var cnt = cnt0
            var total = sum0
            rows.foreach { case (_, v) => cnt += 1; total += v }
            state.update((cnt, total))
            (user, cnt, total)
        }
        .toDF("user_id", "n_events", "sum_value")
    }
    // with >1 micro-batch the memory sink holds one update per batch per
    // user; the final state is the row with the largest count
    updates.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        round(max_by(col("sum_value"), col("n_events")), 4).as("sum_value"))
  }

  /** [[statefulUserTotals]] with per-key state routed to the RocksDB state
    * store (the 100 TB configuration — off-heap state, changelog
    * checkpoints; see [[isolatedStreamSession]]). Results are by
    * construction identical to the in-memory provider's; running it as its
    * own oracle-checked query keeps the production state path continuously
    * verified, not just spec'd. */
  def statefulUserTotalsRocksDb(spark: SparkSession, dir: String): DataFrame = {
    val tagged = sessionWithConfs(spark)
    tagged.conf.set("spark.graft.streaming.stateStore", "rocksdb")
    statefulUserTotals(tagged, dir)
  }

  /** ScaleDrill hook: the [[statefulUserTotals]] mapGroupsWithState kernel
    * under the ROCKSDB provider against an arbitrary pre-staged events
    * directory (amplified input), forced through multiple micro-batches
    * (`maxFilesPerTrigger`), returning the final per-user rows PLUS the
    * state-store metrics the drill asserts on — summed commit ms, peak
    * state rows, peak state memory — read from the query's progress events.
    * This is the measured leg of the "RocksDB state scales" claim that
    * q249/q258/q259 certify only at test SF. */
  private[graft] def drillStatefulRocksDb(
      spark: SparkSession, eventsDir: String, maxFilesPerTrigger: Int):
      (DataFrame, Map[String, Long]) = {
    import spark.implicits._
    val tagged = sessionWithConfs(spark)
    tagged.conf.set("spark.graft.streaming.stateStore", "rocksdb")
    val stream = isolatedStreamSession(tagged)
    val batchSchema = stream.read.parquet(eventsDir).schema
    val raw = stream.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)
    val updates = raw
      .select(col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val (cnt0, sum0) = state.getOption.getOrElse((0L, 0.0))
          var cnt = cnt0
          var total = sum0
          rows.foreach { case (_, v) => cnt += 1; total += v }
          state.update((cnt, total))
          (user, cnt, total)
      }
      .toDF("user_id", "n_events", "sum_value")
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    try {
      val q = updates.writeStream
        .outputMode("update").format("memory").queryName(name).start()
      val metrics = try {
        q.processAllAvailable()
        val sos = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        Map(
          "state_commit_ms" -> sos.map(_.commitTimeMs).sum,
          "state_rows_peak" -> (sos.map(_.numRowsTotal) :+ 0L).max,
          "state_mem_peak_bytes" -> (sos.map(_.memoryUsedBytes) :+ 0L).max,
          "batches" -> q.recentProgress.count(_.numInputRows > 0).toLong)
      } finally q.stop()
      val chk = stream.table(name)
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          round(max_by(col("sum_value"), col("n_events")), 4).as("sum_value"))
        .localCheckpoint(true)
      (spark.createDataFrame(chk.rdd, chk.schema), metrics)
    } finally stream.catalog.dropTempView(name)
  }

  /** [[sessionCounts]] with session-window state in RocksDB — a DIFFERENT
    * state-store code path than [[statefulUserTotalsRocksDb]]'s
    * mapGroupsWithState (session merge reads, updates and removes windows
    * per key in the store), so the scale configuration of gap-sessionization
    * gets its own oracle-checked query rather than inheriting q249's. */
  def sessionCountsRocksDb(spark: SparkSession, dir: String, gap: String): DataFrame = {
    val tagged = sessionWithConfs(spark)
    tagged.conf.set("spark.graft.streaming.stateStore", "rocksdb")
    sessionCounts(tagged, dir, gap)
  }

  /** [[tumblingByType]] with streaming-AGGREGATION state in RocksDB —
    * the third distinct state manager (StreamingAggregationStateManager's
    * key→agg-buffer rows; q249 covers arbitrary mapGroups state, q258 the
    * session-window merge path). Together the three oracle-checked flavors
    * pin every stateful-operator family to the scale store. */
  def tumblingByTypeRocksDb(spark: SparkSession, dir: String, windowLen: String): DataFrame = {
    val tagged = sessionWithConfs(spark)
    tagged.conf.set("spark.graft.streaming.stateStore", "rocksdb")
    tumblingByType(tagged, dir, windowLen)
  }

  /** STREAMING funnel — the ordered k-step funnel of
    * [[graft.operators.Events.funnel]] as a per-entity state machine:
    * `mapGroupsWithState` holds (stage, last-step-µs) per entity — O(1)
    * state, unlike the batch form's per-step time lists — and advances on
    * each event of the next step's type strictly after the last step's
    * time. An ascending greedy scan reproduces the chained-min semantics
    * exactly (taking the EARLIEST step-i time maximizes later steps'
    * candidate sets), so the emitted stages — and the hash — match the
    * batch oracle. Within a micro-batch rows sort by (ts, type) (ids
    * can't matter: advancement compares times only); ACROSS batches the
    * file source feeds event-time-ordered input here — a production
    * deployment with late data would buffer behind a watermark first
    * (the [[tumblingFileSink]] pattern).
    *
    * The campaign window [start, start + horizonSec) is resolved
    * batch-side from the table's min ts (a production stream configures
    * absolute campaign bounds); output matches the batch funnel's
    * (step, step_name, entities, conv_ppm) shape. */
  def funnelStages(
      spark: SparkSession,
      dir: String,
      steps: Seq[String],
      horizonSec: Long): DataFrame = {
    import spark.implicits._
    val loUs = Tables(spark, dir, "events")
      .agg(min(unix_micros(col("ts")))).head.getLong(0)
    val hiUs = loUs + horizonSec * 1000000L
    val updates = runToCompletion(spark, dir, outputMode = "update") { events =>
      events
        .withColumn("__us", unix_micros(col("ts")))
        .where(col("__us") < lit(hiUs))
        .select(col("user_id").cast("long").as("user_id"), col("__us"),
          col("event_type"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Int, Long), (Long, Int)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (user, rows, state) =>
            var (stage, lastUs) = state.getOption.getOrElse((0, Long.MinValue))
            rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, tp) =>
              if (stage < steps.length && tp == steps(stage) && us > lastUs) {
                stage += 1; lastUs = us
              }
            }
            state.update((stage, lastUs))
            (user, stage)
        }
        .toDF("user_id", "stage")
    }
    // one update row per batch per entity; the final state has max stage
    val finalStage = updates.groupBy(col("user_id"))
      .agg(max(col("stage")).as("stage"))
    val countCols = steps.indices.map(i =>
      sum(when(col("stage") >= i + 1, 1L).otherwise(0L)).as(s"__c${i + 1}"))
    graft.operators.Events.stageRows(
      finalStage.agg(countCols.head, countCols.tail: _*), steps)
  }

  /** STREAMING INGESTION dedup — the full accumulation loop of a crawl
    * pipeline: documents arrive in ordered micro-batches (one file per
    * trigger); each batch exact-dedups WITHIN itself, LEFT ANTI joins its
    * fingerprints against everything the sink has accumulated, and appends
    * only the survivors under a batchId-keyed overwrite (the exactly-once
    * recipe of [[foreachBatchTypeTotals]] — a replayed batch rewrites the
    * same files). The corpus-so-far never re-shuffles: only its
    * fingerprint column is read back per batch, exactly the
    * `Dedup.exactDelta` contract driven by a stream.
    *
    * Because batches arrive in ascending doc_id ranges (mtime-ordered
    * files, maxFilesPerTrigger=1), first-arrival-wins equals the global
    * min-id dedup — so the accumulated sink is hash-comparable to a plain
    * batch GROUP BY over the same union (the oracle). The staged stream
    * interleaves duplicate copies (ids +10000) that arrive AFTER their
    * originals and must all be dropped by the anti-join. */
  def ingestDedupDocs(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val docs = graft.Tables.raw(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val incoming = docs.unionAll(
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val srcDir = Files.createTempDirectory("graft_ingest_src")
    val sinkDir = Files.createTempDirectory("graft_ingest_sink")
    val chkDir = Files.createTempDirectory("graft_ingest_chk")
    val stream = isolatedStreamSession(spark)
    try {
      // three ordered batch files: two ranges of originals, then the copies
      val ranges: Seq[org.apache.spark.sql.Column] = Seq(
        col("doc_id") < 250, col("doc_id") >= 250 && col("doc_id") < 10000,
        col("doc_id") >= 10000)
      stageBatchFiles(incoming, ranges, srcDir, "ingest")
      val sinkSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.LongType)))
      val src = stream.readStream
        .schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chkDir.toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val s = batch.sparkSession
          val newFp = batch
            .groupBy(graft.functions.Text.fingerprint(col("text")).as("fp"))
            .agg(min(col("doc_id")).as("keep_id"))
          // exclude THIS batch's partition from the seen-set: on a replay
          // after a failure the sink already holds batch=batchId, and
          // treating its fingerprints as "seen" would anti-join the
          // replayed rows to an empty overwrite (silent data loss) — the
          // idempotent rewrite must see exactly the pre-batch state
          val seen = s.read.schema(sinkSchema).parquet(sinkDir.toString)
            .where(col("batch") =!= batchId)
            .select(col("fp"))
          newFp.join(seen, Seq("fp"), "left_anti")
            .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      spark.read.schema(sinkSchema).parquet(sinkDir.toString)
        .select(col("keep_id"), col("fp"))
        .localCheckpoint(true)
    } finally {
      dropStagedIngestDir(srcDir)
      rmTree(chkDir)
      rmTree(sinkDir)
    }
  }

  private def dropStagedIngestDir(srcDir: java.nio.file.Path): Unit = rmTree(srcDir)

  /** STREAMING near-dup dedup of the stream AGAINST ITSELF — greedy
    * first-wins over LSH band-bucket cells ([[graft.operators.Dedup
    * .bandBuckets]]): a doc survives iff it is the FIRST toucher of every
    * one of its cells, where "first" spans all prior micro-batches AND
    * earlier (smaller-id) docs of its own batch, and every incoming doc
    * CLAIMS its cells whether or not it survives (mark-all — the policy
    * that keeps per-cell state a single claim and makes the outcome a pure
    * function of arrival order). Batch equivalence: with arrival order =
    * id order, the union over micro-batches equals one global
    * rank-per-cell pass — exactly what the differential oracle replays.
    *
    * At 100 TB-ingest scale the claimed-cells state is the bucketed-index
    * shape ([[graft.operators.Dedup.publishLshIndex]]'s `_buckets` table):
    * cells-of-batch shuffle against it, never the corpus. Here the seen
    * set is a batch-partitioned parquet sink with the idempotent-replay
    * discipline of [[ingestDedupDocs]] (a replayed batch excludes its own
    * partition from the seen set, then overwrites it).
    *
    * Input staging: documents plus near-dup copies (every doc_id % 5 == 0
    * doc re-arrives as doc_id + 10000 with one appended token) in three
    * id-ordered batch files. Output: (keep_id, batch) survivors. */
  def ingestNearDupDocs(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val (srcDir, incomingSchema) = stageNearDupInput(spark, dir)
    val cellDir = Files.createTempDirectory("graft_neardup_cells")
    val keepDir = Files.createTempDirectory("graft_neardup_keep")
    val chkDir = Files.createTempDirectory("graft_neardup_chk")
    val stream = isolatedStreamSession(spark)
    try {
      val keepSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.LongType)))
      val src = stream.readStream
        .schema(incomingSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chkDir.toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nearDupBatch(batch, batchId, cellDir.toString, keepDir.toString)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      spark.read.schema(keepSchema).parquet(keepDir.toString)
        .select(col("keep_id"), col("batch"))
        .localCheckpoint(true)
    } finally {
      dropStagedIngestDir(srcDir)
      rmTree(chkDir)
      rmTree(cellDir)
      rmTree(keepDir)
    }
  }

  /** One [[ingestNearDupDocs]] micro-batch against the two sinks —
    * factored out so the replay discipline is fault-injectable in a spec:
    * re-applying a batch whose partitions already exist must rewrite them
    * IDENTICALLY (the seen set excludes `batch = batchId`, so a replayed
    * batch sees exactly the pre-batch state — including its own claims
    * would anti-join the replayed survivors to an empty overwrite). */
  private[graft] def nearDupBatch(
      batch: DataFrame, batchId: Long, cellDir: String, keepDir: String): Unit = {
    val s = batch.sparkSession
    val cellSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("bk", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.LongType)))
    val cells = graft.operators.Dedup
      .bandBuckets(batch, "doc_id", "text").localCheckpoint(true)
    // pre-batch state only: a replayed batch must not see its own claims
    // (same silent-loss hazard as ingestDedupDocs)
    val seen = s.read.schema(cellSchema).parquet(cellDir)
      .where(col("batch") =!= batchId).select(col("band"), col("bk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bk")).orderBy(col("id"))
    val bad = cells
      .withColumn("rn", row_number().over(w)).where(col("rn") > 1)
      .select(col("id"))
      .union(cells.join(seen, Seq("band", "bk")).select(col("id")))
      .distinct()
    // either write order is replay-safe BECAUSE of the batch exclusion
    // above: a crash between the two writes leaves at most this batch's
    // own partitions, which the re-run neither reads nor trusts — it
    // recomputes both from the pre-batch state and overwrites. Order-free
    // ⇒ overlap the two independent sink writes (r17: ~0.1 s of job
    // latency per micro-batch at sf0.1, paid once per batch otherwise)
    locally {
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      val keepF = Future(batch.select(col("doc_id"))
        .join(bad.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("keep_id"))
        .write.mode("overwrite").parquet(s"$keepDir/batch=$batchId"))
      val cellF = Future(cells.select(col("band"), col("bk")).distinct()
        .write.mode("overwrite").parquet(s"$cellDir/batch=$batchId"))
      graft.functions.Par.awaitAllSettled(keepF, cellF)
    }
  }

  /** Stage the near-dup ingest fixture: documents plus near-dup copies
    * (every doc_id % 5 == 0 doc re-arrives as doc_id + 10000 with one
    * appended token) as three id-ordered batch files with monotone mtimes
    * (arrival order). Shared by [[ingestNearDupDocs]] and
    * [[ingestNearDupDocsKeyed]] so the two implementations answer the
    * same oracle over the same staged input. Caller deletes the dir. */
  private def stageNearDupInput(spark: SparkSession, dir: String):
      (java.nio.file.Path, org.apache.spark.sql.types.StructType) = {
    import java.nio.file.Files
    val docs = graft.Tables.raw(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val incoming = docs.unionAll(
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" dup0")).as("text")))
    val srcDir = Files.createTempDirectory("graft_neardup_src")
    val ranges: Seq[org.apache.spark.sql.Column] = Seq(
      col("doc_id") < 250, col("doc_id") >= 250 && col("doc_id") < 10000,
      col("doc_id") >= 10000)
    stageBatchFiles(incoming, ranges, srcDir, "neardup")
    (srcDir, incoming.schema)
  }

  /** [[ingestNearDupDocs]] with the claimed-cells state in KEYED STREAMING
    * STATE (RocksDB `flatMapGroupsWithState` over (band, bucket) cells)
    * instead of a batch-partitioned parquet store — the 100 TB-stream
    * form. The parquet-store variant re-reads the ENTIRE claim store every
    * micro-batch (`batch =!= batchId` over all prior partitions), so its
    * per-batch cost grows with stream lifetime; here each batch touches
    * only its OWN cells' state-store groups (RocksDB point lookups), so
    * per-batch cost tracks batch size, flat in batch index — measured by
    * the ScaleDrill `stream_neardup_keyed` kernel.
    *
    * Semantics are IDENTICAL by construction and certified by the shared
    * q307/q308 oracle: per cell, the state holds one claimed bit; a batch's
    * docs survive a cell iff the cell was unclaimed by prior batches AND
    * theirs is the smallest id touching it this batch (arrival order = id
    * order, the q307 discipline); every toucher claims (mark-all), so the
    * outcome is a pure function of arrival order. Docs too short to
    * shingle have no cells and always survive — they ride a per-doc
    * sentinel cell (`solo:<id>`, globally unique, collision-free with the
    * 32-hex md5 keys) so they still flow through the keyed operator.
    * Replay safety is the state store's own versioned-commit contract
    * (a replayed batch re-reads the pre-batch store version), plus the
    * idempotent batch-partitioned keep sink. */
  def ingestNearDupDocsKeyed(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val (srcDir, schema) = stageNearDupInput(spark, dir)
    val keepDir = Files.createTempDirectory("graft_neardupk_keep")
    val chkDir = Files.createTempDirectory("graft_neardupk_chk")
    try runNearDupKeyed(spark, srcDir.toString, schema,
      keepDir.toString, chkDir.toString, maxFilesPerTrigger = 1)._1
    finally {
      dropStagedIngestDir(srcDir)
      rmTree(chkDir)
      rmTree(keepDir)
    }
  }

  /** The keyed-state near-dup stream itself — shared by
    * [[ingestNearDupDocsKeyed]] (oracle query q308) and the ScaleDrill
    * kernel (which stages its own amplified input and asserts the
    * per-batch timings this returns are flat in batch index). Returns the
    * (keep_id, batch) survivors plus metrics: per-batch wall-clock
    * (`batch_ms_<i>`), state-store commit total and peak rows/memory. */
  private[graft] def runNearDupKeyed(
      spark: SparkSession,
      srcPath: String,
      schema: org.apache.spark.sql.types.StructType,
      keepPath: String,
      chkPath: String,
      maxFilesPerTrigger: Int): (DataFrame, Map[String, Long]) = {
    // keyed per-cell state is the RocksDB case by design: at stream scale
    // the claim set is every distinct cell ever seen — off-heap or bust
    val tagged = sessionWithConfs(spark)
    tagged.conf.set("spark.graft.streaming.stateStore", "rocksdb")
    val stream = isolatedStreamSession(tagged)
    import stream.implicits._
    val src = stream.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcPath)
    // widen BEFORE the md5 kernel — the streaming analogue of Par.widen:
    // a trigger of few fat single-row-group files scans as 1-2 partitions,
    // serializing the shingle+md5 band-key kernel on as many cores (the
    // r12 drill's stream_neardup_keyed batches spent ~95% of their time
    // exactly here — state-store commits were 1.5 s of an 86 s run at
    // 50×). One extra exchange of the raw batch text buys a full-width
    // kernel; triggers that already arrive as many files can turn it off
    // (spark.graft.streaming.widen=false) to skip the exchange.
    val widened =
      if (stream.conf.get("spark.graft.streaming.widen", "true").toBoolean)
        src.repartition(stream.sparkContext.defaultParallelism)
      else src
    // same md5 band-key family as Dedup.bandBuckets — inlined as pure
    // projections (streaming frames cannot checkpoint); `pos|key` strings
    // key the state groups
    val bks = graft.functions.Vectors.md5BandKeys(16, 4)(
      graft.functions.Vectors.shinglesFast(3)(col("text")))
    val cells = widened
      .select(col("doc_id").as("id"), bks.as("bks"))
      .select(col("id"), posexplode(
        when(size(col("bks")) > 0, col("bks"))
          .otherwise(array(concat(lit("solo:"), col("id").cast("string"))))))
      .select(col("id"), concat(col("pos").cast("string"), lit("|"), col("col")).as("cell"))
      .as[(Long, String)]
    val flags = cells
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, Boolean)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val ids = rows.map(_._1).toArray
          val claimedBefore = state.exists
          var minId = Long.MaxValue
          var i = 0
          while (i < ids.length) { if (ids(i) < minId) minId = ids(i); i += 1 }
          state.update(true) // mark-all: every toucher claims the cell
          val mn = minId
          ids.iterator.map(id => (id, !claimedBefore && id == mn))
      }
      .toDF("id", "ok")
    val q = flags.writeStream
      .outputMode("append")
      .option("checkpointLocation", chkPath)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        // a doc survives iff EVERY one of its cells approved it
        b.groupBy(col("id"))
          .agg(bool_and(col("ok")).as("all_ok"))
          .where(col("all_ok"))
          .select(col("id").as("keep_id"))
          .write.mode("overwrite").parquet(s"$keepPath/batch=$batchId")
        ()
      }
      .start()
    val metrics = try {
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val sos = progress.flatMap(_.stateOperators.toSeq)
      Map(
        "batches" -> progress.size.toLong,
        "state_commit_ms" -> sos.map(_.commitTimeMs).sum,
        "state_rows_peak" -> (sos.map(_.numRowsTotal) :+ 0L).max,
        "state_mem_peak_bytes" -> (sos.map(_.memoryUsedBytes) :+ 0L).max) ++
        progress.zipWithIndex.map { case (p, i) => s"batch_ms_$i" -> p.batchDuration }
    } finally q.stop()
    val keepSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch", org.apache.spark.sql.types.LongType)))
    val out = spark.read.schema(keepSchema).parquet(keepPath)
      .select(col("keep_id"), col("batch"))
      .localCheckpoint(true)
    (out, metrics)
  }

  /** STREAMING near-dup flagging against a PUBLISHED LSH index
    * ([[graft.operators.Dedup.publishLshIndex]]) — the full ingest-time
    * dedup shape: the corpus hash work is amortized in the stored bucketed
    * tables, and each arriving micro-batch shingles ONLY itself and probes
    * them via `foreachBatch` (the standard home for arbitrary batch logic —
    * here a multi-join verify pipeline — inside a stream). Because every
    * incoming doc's flag rows depend only on (doc, index), the union over
    * micro-batches equals the one-shot batch probe, which is exactly what
    * the differential oracle recomputes. Managed tables live in the
    * SparkContext-shared external catalog, so the isolated stream session
    * sees the caller-published index. Output: (incoming_id, corpus_id,
    * jaccard) across all batches; sink is batchId-partitioned with the
    * idempotent-overwrite replay discipline of [[ingestDedupDocs]]. */
  def streamLshIndexProbe(
      spark: SparkSession, incoming: DataFrame, indexTable: String,
      batchPreds: Seq[org.apache.spark.sql.Column],
      corpusFp: String = ""): DataFrame = {
    streamIndexProbe(spark, incoming, batchPreds,
        "incoming_id BIGINT, corpus_id BIGINT, jaccard DOUBLE", "lshstream") { batch =>
      graft.operators.Dedup
        .probeLshIndex(batch.sparkSession, batch, "doc_id", "text", indexTable,
          corpusFp = corpusFp)
    }
  }

  /** Shared scaffold of the stored-index stream probes: stage `incoming`
    * as ONE arrival-ordered file per predicate in `batchPreds`, stream them
    * with `maxFilesPerTrigger=1` (one micro-batch per file), run `probe`
    * per batch via `foreachBatch` into a batchId-partitioned sink
    * (idempotent overwrite = exactly-once under replay), and read the
    * union back as `columns` (the probe's output, a DDL column list). The
    * query subset and batch split are the CALLER's — this layer owns only
    * the streaming plumbing. */
  private def streamIndexProbe(
      spark: SparkSession,
      incoming: DataFrame,
      batchPreds: Seq[org.apache.spark.sql.Column],
      columns: String,
      tag: String)(probe: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.Files
    require(batchPreds.nonEmpty, "streamIndexProbe needs at least one batch predicate")
    val srcDir = Files.createTempDirectory(s"graft_${tag}_src")
    val sinkDir = Files.createTempDirectory(s"graft_${tag}_sink")
    val chkDir = Files.createTempDirectory(s"graft_${tag}_chk")
    val stream = isolatedStreamSession(spark)
    try {
      stageBatchFiles(incoming, batchPreds, srcDir, tag)
      val src = stream.readStream
        .schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = src.writeStream
        .outputMode("append")
        .option("checkpointLocation", chkDir.toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          probe(batch).write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(s"$columns, batch BIGINT"))
        .parquet(sinkDir.toString).drop("batch")
        .localCheckpoint(true)
    } finally {
      rmTree(srcDir)
      rmTree(chkDir)
      rmTree(sinkDir)
    }
  }

  /** STREAMING ANN flagging against a PUBLISHED IVF index
    * ([[graft.operators.Similarity.publishIvfIndex]]) — the embedding twin
    * of [[streamLshIndexProbe]]: each arriving micro-batch of vectors
    * quantizes ONLY itself and probes the stored bucketed inverted lists
    * via `foreachBatch`. Each query's top-k depends only on (query, index),
    * so the union over batches equals the one-shot [[graft.operators.Similarity.probeIvfIndex]]
    * — the q265 oracle is q263's. Output: (query_id, rank, neighbor_id,
    * cosine) across all batches. */
  def streamIvfIndexProbe(
      spark: SparkSession, incoming: DataFrame, indexTable: String, k: Int,
      batchPreds: Seq[org.apache.spark.sql.Column],
      corpusFp: String = ""): DataFrame = {
    streamIndexProbe(spark, incoming, batchPreds,
        "query_id BIGINT, rank BIGINT, neighbor_id BIGINT, cosine DOUBLE", "ivfstream") { batch =>
      graft.operators.Similarity
        .probeIvfIndex(batch.sparkSession, batch, "vec_id", "embedding", indexTable,
          k = k, corpusFp = corpusFp)
    }
  }

  /** STREAMING ANN against a PUBLISHED IVF+PQ index
    * ([[graft.operators.Similarity.publishPqIndex]]) — completes the
    * streaming-probe matrix (LSH [[streamLshIndexProbe]], IVF
    * [[streamIvfIndexProbe]], and now the codes-only PQ artifact): each
    * arriving query micro-batch quantizes ONLY itself and ADC-probes the
    * stored inverted lists via `foreachBatch`. Per-query determinism makes
    * union-over-batches ≡ the one-shot [[graft.operators.Similarity.probePqIndex]],
    * which is exactly what the q313 oracle (shared verbatim with
    * q111/q310) recomputes. Output: (query_id, rank, neighbor_id, dist)
    * across all batches; batchId-partitioned idempotent-overwrite sink. */
  def streamPqIndexProbe(
      spark: SparkSession, incoming: DataFrame, indexTable: String, k: Int,
      batchPreds: Seq[org.apache.spark.sql.Column],
      nprobe: Int = 2,
      corpusFp: String = ""): DataFrame = {
    streamIndexProbe(spark, incoming, batchPreds,
        "query_id BIGINT, rank BIGINT, neighbor_id BIGINT, dist BIGINT", "pqstream") { batch =>
      graft.operators.Similarity
        .probePqIndex(batch.sparkSession, batch, "vec_id", "embedding", indexTable,
          k = k, nprobe = nprobe, corpusFp = corpusFp)
    }
  }
}
