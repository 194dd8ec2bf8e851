package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.Tables

/** Structured Streaming surface (additive — the reference's DelayedSeries is
  * pull-based lazy loading, not streaming; SURVEY §2.7 last row).
  *
  * The same tumbling/session aggregations exposed as batch operators run
  * unchanged as streams: `readStream` → watermark → windowed agg. For local
  * verification each stream is driven synchronously until its input is
  * drained — the query plan is identical to what a Kafka-fed cluster
  * deployment would run.
  *
  * Every op is one [[run]]: a [[Source]], a plan over its streaming frame
  * and a [[Sink]]. The run's contract, stated once:
  *  - Session: the stream runs in ONE child session built per call
  *    (shared SparkContext, own SQLConf: the caller's runtime conf, shuffle
  *    width 8, the state store the op asks for). The caller's conf is
  *    never mutated, so concurrent queries on it are never raced.
  *  - Replay: `foreachBatch` is at-least-once (a failed batch REPLAYS with
  *    the same checkpointed batchId), so every per-batch write overwrites
  *    its own `batch=<id>` partition ([[BatchSink]]), and a batch that reads
  *    its sink back sees only the OTHER batches' partitions — a replay
  *    rewrites the same files from the same pre-batch state.
  *  - Cleanup: staged input, sink and checkpoint directories are deleted
  *    when the run ends, on success or failure, as is the memory-sink
  *    table; only caller-owned directories (`resumeAt`) survive.
  *  - Result: the sink is read back through a declared schema (well-defined
  *    on an empty sink), pinned by `localCheckpoint` and re-rooted in the
  *    CALLER's session, so downstream composition never touches the
  *    throwaway stream session and repeated calls accumulate neither sink
  *    tables nor temp dirs.
  */
object Streams {

  private val nameCounter = new AtomicInteger(0)

  private def rocksDbToggled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.streaming.stateStore").exists(_.equalsIgnoreCase("rocksdb"))

  /** The child session a stream of `spark`'s runs in, on the state store
    * `spark.graft.streaming.stateStore` selects. */
  private[graft] def isolatedStreamSession(spark: SparkSession): SparkSession =
    streamSession(spark, rocksDbToggled(spark))

  /** Local streams carry tiny per-batch state, so the caller's batch-sized
    * shuffle width would just multiply state-store open/commit overhead.
    *
    * At 100 TB the stateful queries (dedup-by-id, funnel state machines,
    * session windows) hold per-key state for every live key in the
    * watermark horizon — on the default HDFS-backed in-memory provider that
    * state lives on-heap and OOMs executors long before the data does.
    * `rocksDb` routes state to the embedded RocksDB provider (off-heap,
    * spills to local SSD, incremental checkpoints) with NO query change —
    * the plan, results and watermark semantics are identical (asserted in
    * RocksDbStateSpec). The toggle's default stays in-memory: for the local
    * verification streams state is tiny and RocksDB's per-batch
    * open/commit overhead would only slow the suite. */
  private def streamSession(spark: SparkSession, rocksDb: Boolean): SparkSession = {
    val stream = spark.newSession()
    // static entries throw on set and are skipped
    spark.conf.getAll.foreach { case (k, v) =>
      try stream.conf.set(k, v) catch { case _: AnalysisException => () }
    }
    stream.conf.set("spark.sql.shuffle.partitions", "8")
    if (rocksDb) {
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

  /** Temp directories that live exactly as long as one [[withScratch]] block. */
  private final class Scratch {
    val dirs = ArrayBuffer.empty[Path]
    def apply(tag: String): Path = {
      val d = Files.createTempDirectory(s"graft_$tag")
      dirs += d
      d
    }
  }

  private def withScratch[A](body: Scratch => A): A = {
    val scratch = new Scratch
    try body(scratch)
    finally scratch.dirs.foreach(rmTree)
  }

  /** What a stream reads. */
  private sealed trait Source

  /** `dir`'s events.parquet linked `copies` times into one staged directory
    * (the file source needs a DIRECTORY; a second link is an upstream
    * redelivery of every event). */
  private final case class EventsOf(dir: String, copies: Int = 1) extends Source

  /** `incoming`, staged as one arrival-ordered file per predicate
    * ([[stageBatchFiles]]) and read one file per trigger. */
  private final case class Staged(incoming: DataFrame, preds: Seq[Column]) extends Source {
    require(preds.nonEmpty, "a staged stream needs at least one batch predicate")
  }

  /** The parquet files already under `path`, `perTrigger` per micro-batch. */
  private final case class FilesAt(path: String, schema: StructType, perTrigger: Int)
    extends Source

  /** Where a stream writes. */
  private sealed trait Sink

  /** Memory sink in output `mode`. */
  private final case class Memory(mode: String) extends Sink

  /** Parquet file sink in append mode — the production exactly-once output
    * path (checkpointed offsets + file manifest); `columns` is its DDL. */
  private final case class ParquetFiles(columns: String) extends Sink

  /** `foreachBatch` — the escape hatch for targets Structured Streaming has
    * no native sink for: `body(batch, batchId, sink)` runs per micro-batch
    * against one [[BatchSink]] of `columns`. */
  private final case class Batches(columns: String, mode: String = "append")(
      val body: (DataFrame, Long, BatchSink) => Unit) extends Sink

  /** The idempotent `batch=<id>` overwrite sink under `dir` (dynamic
    * partition overwrite / MERGE-on-batchId are the table-format analogs),
    * read back as the DDL `columns` plus the `batch` partition column. */
  private final case class BatchSink(dir: String, columns: String) {
    def write(rows: DataFrame, batchId: Long): Unit =
      rows.write.mode("overwrite").parquet(s"$dir/batch=$batchId")

    def read(s: SparkSession): DataFrame =
      s.read.schema(StructType.fromDDL(s"$columns, batch BIGINT")).parquet(dir)

    /** The sink as batch `batchId` must see it: on a replay the sink already
      * holds batch=batchId, and treating it as seen would anti-join the
      * replayed rows to an empty overwrite (silent data loss). */
    def seenBefore(s: SparkSession, batchId: Long): DataFrame =
      read(s).where(col("batch") =!= batchId)
  }

  /** Run `plan` over `source` into `sink` to completion and return the sink
    * read back (after `readBack`) in the caller's session, plus the
    * [[progressMetrics]] of the run. `rocksDb` forces the RocksDB state
    * store; otherwise the caller's toggle decides. `resumeAt` = caller-owned
    * (sink, checkpoint) directories that outlive the run, so a later run at
    * the same pair resumes the stream. */
  private def run(
      spark: SparkSession, source: Source, sink: Sink, rocksDb: Boolean = false,
      resumeAt: Option[(String, String)] = None,
      readBack: DataFrame => DataFrame = identity)(
      plan: DataFrame => DataFrame): (DataFrame, Map[String, Long]) = withScratch { scratch =>
    val stream = streamSession(spark, rocksDb || rocksDbToggled(spark))
    val input = source match {
      case EventsOf(dir, copies) =>
        val src = scratch("stream_src")
        (0 until copies).foreach(i => Files.createSymbolicLink(
          src.resolve(s"events_$i.parquet"), Paths.get(s"$dir/events.parquet")))
        normalizeTs(stream.readStream.schema(Tables.rawSchema(spark, dir, "events"))
          .parquet(src.toString))
      case Staged(incoming, preds) =>
        val src = scratch("stream_src")
        stageBatchFiles(incoming, preds, src, "stream")
        stream.readStream.schema(incoming.schema)
          .option("maxFilesPerTrigger", 1L).parquet(src.toString)
      case FilesAt(path, schema, perTrigger) =>
        stream.readStream.schema(schema)
          .option("maxFilesPerTrigger", perTrigger.toLong).parquet(path)
    }
    val (out, chk) = resumeAt.getOrElse(
      (scratch("stream_sink").toString, scratch("stream_chk").toString))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val writer = plan(input).writeStream.option("checkpointLocation", chk)
    try {
      val q = (sink match {
        case Memory(mode) => writer.outputMode(mode).format("memory").queryName(name)
        case ParquetFiles(_) => writer.outputMode("append").format("parquet").option("path", out)
        case b: Batches =>
          val to = BatchSink(out, b.columns)
          writer.outputMode(b.mode)
            .foreachBatch((batch: DataFrame, batchId: Long) => b.body(batch, batchId, to))
      }).start()
      val metrics =
        try { q.processAllAvailable(); progressMetrics(q.recentProgress.toSeq) }
        finally q.stop()
      val rows = sink match {
        case Memory(_) => stream.table(name)
        case ParquetFiles(columns) => stream.read.schema(StructType.fromDDL(columns)).parquet(out)
        case b: Batches => BatchSink(out, b.columns).read(stream)
      }
      // the checkpointed RDD is context-level, so re-rooting its plan in
      // the caller's session is free (no row conversion, stats kept)
      val pinned = readBack(rows).localCheckpoint(true)
      (GraftShim.ofRows(spark, pinned.queryExecution.analyzed), metrics)
    } finally stream.catalog.dropTempView(name)
  }

  /** The measured record of a drained stream, over its data-bearing
    * batches: their count, wall-clock each (`batch_ms_<i>`), summed
    * state-store commit time and peak state rows / memory. */
  private def progressMetrics(progress: Seq[StreamingQueryProgress]): Map[String, Long] = {
    val data = progress.filter(_.numInputRows > 0)
    val sos = data.flatMap(_.stateOperators.toSeq)
    Map(
      "batches" -> data.size.toLong,
      "state_commit_ms" -> sos.map(_.commitTimeMs).sum,
      "state_rows_peak" -> (sos.map(_.numRowsTotal) :+ 0L).max,
      "state_mem_peak_bytes" -> (sos.map(_.memoryUsedBytes) :+ 0L).max) ++
      data.zipWithIndex.map { case (p, i) => s"batch_ms_$i" -> p.batchDuration }
  }

  /** ts arrives either as INT64 nanos (read as long under nanosAsLong) or as
    * timestamp[us] without timezone (TIMESTAMP_NTZ) depending on the
    * generator vintage → normalized to a real (instant) timestamp;
    * watermarks reject NTZ. Session timezone is UTC, so the NTZ cast
    * preserves the stored micros exactly. */
  private def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _ => raw
  }

  /** Run a streaming aggregation over the events table to completion and
    * return the result as a batch DataFrame. */
  private def runToCompletion(
      spark: SparkSession, dir: String, outputMode: String = "complete",
      rocksDb: Boolean = false)(agg: DataFrame => DataFrame): DataFrame =
    run(spark, EventsOf(dir), Memory(outputMode), rocksDb)(agg)._1

  /** Stage `incoming` as one single-file batch per predicate under
    * `srcDir`, named `bNN.parquet` with MONOTONE mtimes (= arrival order
    * for the file-stream source, which orders by (mtime, path) — both
    * monotone in the batch index here, so ordering is deterministic
    * regardless of write completion order). The per-range writes are
    * independent single-file jobs into private tmp dirs — overlapped so
    * the staging pays ~one job latency instead of |preds| (r17: staging
    * runs INSIDE the timed ingest/probe queries; profiled ~0.1-0.15 s of
    * sequential job latency per extra batch file at sf0.1). */
  private[graft] def stageBatchFiles(
      incoming: DataFrame,
      preds: Seq[Column],
      srcDir: Path,
      tag: String): Unit = {
    graft.functions.Par.all(preds.zipWithIndex.map { case (pred, b) => () =>
      val tmp = Files.createTempDirectory(s"graft_${tag}_tmp")
      try {
        incoming.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val dst = srcDir.resolve(f"b$b%02d.parquet")
        Files.move(findPartFile(tmp), dst)
        // arrival order rides on mtime — fail LOUDLY if the filesystem
        // refuses to set it, otherwise batch order silently becomes
        // nondeterministic (order-dependent flaky results)
        require(dst.toFile.setLastModified(1000000L * (b + 1)),
          s"stageBatchFiles: cannot set mtime on $dst — file-stream arrival " +
            "order would be nondeterministic on this filesystem")
      } finally rmTree(tmp)
    })
  }

  /** Locate the single part file of a coalesce(1) write — the
    * `Files.list` stream MUST be closed (it holds a directory fd; the
    * previous inline form leaked one per staged batch). */
  private def findPartFile(dir: Path): Path = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.find(_.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file under $dir"))
    } finally s.close()
  }

  private def rmTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** Per-type tumbling-window counts/sums behind a 1 h watermark. */
  private def tumblingTotals(windowLen: String)(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(
        unix_timestamp(col("window.start")).as("k"),
        col("event_type"), col("n"), round(col("total"), 4).as("total"))

  /** Tumbling windows through a PARQUET FILE SINK in append mode — the
    * production exactly-once output path (checkpointed offsets + file
    * manifest), where a window row is emitted ONLY once the watermark has
    * passed its end (late-window finalization; complete-mode memory sinks
    * never exercise this). Windows still open when the input is exhausted
    * are deliberately unemitted — the batch-oracle twin is the same
    * aggregation filtered to `window_end <= max(ts) - delay`. Returns the
    * sink's contents read back (empty, not an error, when no window
    * finalized). */
  def tumblingFileSink(
      spark: SparkSession, dir: String, windowLen: String): DataFrame =
    run(spark, EventsOf(dir),
        ParquetFiles("k BIGINT, event_type STRING, n BIGINT, total DOUBLE"))(
      tumblingTotals(windowLen))._1

  /** `foreachBatch` sink — the escape hatch for targets Structured
    * Streaming has no native sink for (JDBC upserts, MERGE into a table
    * format, multi-table writes), made exactly-once by the idempotent
    * `batch=<id>` overwrite. Update-mode per-type running totals land one
    * snapshot per batch; reading back the LATEST batch per type reproduces
    * the batch aggregate exactly — the parity check of q133. */
  def foreachBatchTypeTotals(spark: SparkSession, dir: String): DataFrame =
    run(spark, EventsOf(dir),
      Batches("event_type STRING, n BIGINT, total DOUBLE", mode = "update")(
        (batch, batchId, sink) => sink.write(batch, batchId)),
      readBack = _.groupBy(col("event_type"))
        .agg(max_by(col("n"), col("batch")).as("n"),
          max_by(col("total"), col("batch")).as("total"))) { events =>
      events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    }._1

  /** Tumbling-window counts/sums per event type with a watermark —
    * the streaming twin of Resample.sampleTime. */
  def tumblingByType(spark: SparkSession, dir: String, windowLen: String): DataFrame =
    runToCompletion(spark, dir)(tumblingTotals(windowLen))

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
  def atLeastOnceDedupTotals(spark: SparkSession, dir: String): DataFrame =
    run(spark, EventsOf(dir, copies = 2), Memory("append")) { events =>
      events
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_type"), col("value"))
    }._1
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("v_cents"))

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

  /** Per-user gap sessions behind a 1 h watermark (see [[sessionCounts]]). */
  private def sessionTotals(gap: String)(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("user_id"), col("n"), round(col("total"), 4).as("total"))

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
    runToCompletion(spark, dir, outputMode = "append")(sessionTotals(gap))

  /** The q249 kernel: per-user running (count, sum) in `mapGroupsWithState`
    * state, one update row per user per micro-batch. */
  private def userTotalUpdates(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"), col("value").cast("double").as("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
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

  /** With >1 micro-batch the sink holds one update per batch per user; the
    * final state is the row with the largest count. */
  private def finalUserTotals(updates: DataFrame): DataFrame =
    updates.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        round(max_by(col("sum_value"), col("n_events")), 4).as("sum_value"))

  /** Arbitrary-state streaming: per-user running (count, sum) via
    * mapGroupsWithState — the Structured Streaming home of the reference's
    * per-group custom reducers (SURVEY §2.10) and the building block for
    * windowWhile-style session logic on unbounded streams. State lives in the
    * state store (checkpointed, partitioned by group key at scale). */
  def statefulUserTotals(spark: SparkSession, dir: String): DataFrame =
    finalUserTotals(runToCompletion(spark, dir, outputMode = "update")(userTotalUpdates))

  /** [[statefulUserTotals]] with per-key state routed to the RocksDB state
    * store (the 100 TB configuration — off-heap state, changelog
    * checkpoints). Results are by construction identical to the in-memory
    * provider's; running it as its own oracle-checked query keeps the
    * production state path continuously verified, not just spec'd. */
  def statefulUserTotalsRocksDb(spark: SparkSession, dir: String): DataFrame =
    finalUserTotals(
      runToCompletion(spark, dir, outputMode = "update", rocksDb = true)(userTotalUpdates))

  /** ScaleDrill hook: the [[statefulUserTotals]] mapGroupsWithState kernel
    * under the ROCKSDB provider against an arbitrary pre-staged events
    * directory (amplified input), forced through multiple micro-batches
    * (`maxFilesPerTrigger`), returning the final per-user rows PLUS the
    * state-store metrics the drill asserts on ([[progressMetrics]]). This
    * is the measured leg of the "RocksDB state scales" claim that
    * q249/q258/q259 certify only at test SF. */
  private[graft] def drillStatefulRocksDb(
      spark: SparkSession, eventsDir: String, maxFilesPerTrigger: Int):
      (DataFrame, Map[String, Long]) =
    run(spark, FilesAt(eventsDir, spark.read.parquet(eventsDir).schema, maxFilesPerTrigger),
      Memory("update"), rocksDb = true, readBack = finalUserTotals)(userTotalUpdates)

  /** [[sessionCounts]] with session-window state in RocksDB — a DIFFERENT
    * state-store code path than [[statefulUserTotalsRocksDb]]'s
    * mapGroupsWithState (session merge reads, updates and removes windows
    * per key in the store), so the scale configuration of gap-sessionization
    * gets its own oracle-checked query rather than inheriting q249's. */
  def sessionCountsRocksDb(spark: SparkSession, dir: String, gap: String): DataFrame =
    runToCompletion(spark, dir, outputMode = "append", rocksDb = true)(sessionTotals(gap))

  /** [[tumblingByType]] with streaming-AGGREGATION state in RocksDB —
    * the third distinct state manager (StreamingAggregationStateManager's
    * key→agg-buffer rows; q249 covers arbitrary mapGroups state, q258 the
    * session-window merge path). Together the three oracle-checked flavors
    * pin every stateful-operator family to the scale store. */
  def tumblingByTypeRocksDb(spark: SparkSession, dir: String, windowLen: String): DataFrame =
    runToCompletion(spark, dir, rocksDb = true)(tumblingTotals(windowLen))

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
        .mapGroupsWithState[(Int, Long), (Long, Int)](GroupStateTimeout.NoTimeout) {
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

  /** The three id-ordered arrival batches of the ingest fixtures: two
    * ranges of originals, then the +10000 copies. */
  private def idRanges: Seq[Column] = Seq(
    col("doc_id") < 250, col("doc_id") >= 250 && col("doc_id") < 10000,
    col("doc_id") >= 10000)

  /** STREAMING INGESTION dedup — the full accumulation loop of a crawl
    * pipeline: documents arrive in ordered micro-batches (one file per
    * trigger); each batch exact-dedups WITHIN itself, LEFT ANTI joins its
    * fingerprints against everything the sink has accumulated, and appends
    * only the survivors to its own `batch=<id>` partition. The
    * corpus-so-far never re-shuffles: only its fingerprint column is read
    * back per batch, exactly the `Dedup.exactDelta` contract driven by a
    * stream.
    *
    * Because batches arrive in ascending doc_id ranges (mtime-ordered
    * files, maxFilesPerTrigger=1), first-arrival-wins equals the global
    * min-id dedup — so the accumulated sink is hash-comparable to a plain
    * batch GROUP BY over the same union (the oracle). The staged stream
    * interleaves duplicate copies (ids +10000) that arrive AFTER their
    * originals and must all be dropped by the anti-join. */
  def ingestDedupDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.raw(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val incoming = docs.unionAll(
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    run(spark, Staged(incoming, idRanges),
      Batches("fp STRING, keep_id BIGINT") { (batch, batchId, sink) =>
        val newFp = batch
          .groupBy(graft.functions.Text.fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"))
        val seen = sink.seenBefore(batch.sparkSession, batchId).select(col("fp"))
        sink.write(newFp.join(seen, Seq("fp"), "left_anti"), batchId)
      },
      readBack = _.select(col("keep_id"), col("fp")))(identity)._1
  }

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
    * set is a batch-partitioned parquet sink read with the replay
    * discipline of [[BatchSink.seenBefore]].
    *
    * Input: [[nearDupIncoming]] in three id-ordered batch files. Output:
    * (keep_id, batch) survivors. */
  def ingestNearDupDocs(spark: SparkSession, dir: String): DataFrame = withScratch { scratch =>
    val cellDir = scratch("neardup_cells").toString
    run(spark, Staged(nearDupIncoming(spark, dir), idRanges),
      Batches("keep_id BIGINT")((batch, batchId, keep) =>
        nearDupBatch(batch, batchId, cellDir, keep.dir)))(identity)._1
  }

  /** One [[ingestNearDupDocs]] micro-batch against the two sinks —
    * factored out so the replay discipline is fault-injectable in a spec:
    * re-applying a batch whose partitions already exist must rewrite them
    * IDENTICALLY (the seen set excludes `batch = batchId`, so a replayed
    * batch sees exactly the pre-batch state — including its own claims
    * would anti-join the replayed survivors to an empty overwrite). */
  private[graft] def nearDupBatch(
      batch: DataFrame, batchId: Long, cellDir: String, keepDir: String): Unit = {
    val cellSink = BatchSink(cellDir, "band INT, bk STRING")
    val cells = graft.operators.Dedup
      .bandBuckets(batch, "doc_id", "text").localCheckpoint(true)
    val seen = cellSink.seenBefore(batch.sparkSession, batchId)
      .select(col("band"), col("bk"))
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
    graft.functions.Par.both(
      BatchSink(keepDir, "keep_id BIGINT").write(
        batch.select(col("doc_id"))
          .join(bad.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("keep_id")), batchId),
      cellSink.write(cells.select(col("band"), col("bk")).distinct(), batchId))
  }

  /** The near-dup ingest fixture: documents plus near-dup copies (every
    * doc_id % 5 == 0 doc re-arrives as doc_id + 10000 with one appended
    * token). Shared by [[ingestNearDupDocs]] and [[ingestNearDupDocsKeyed]]
    * so the two implementations answer the same oracle over the same
    * staged input. */
  private def nearDupIncoming(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.raw(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    docs.unionAll(
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" dup0")).as("text")))
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
  def ingestNearDupDocsKeyed(spark: SparkSession, dir: String): DataFrame =
    nearDupKeyed(spark, Staged(nearDupIncoming(spark, dir), idRanges), resumeAt = None)._1

  /** The keyed-state near-dup stream over the files under `srcPath` —
    * shared by the ScaleDrill kernel (which stages its own amplified input
    * and asserts the per-batch timings this returns are flat in batch
    * index) and the checkpoint-resume specs: the (keep, checkpoint) dirs
    * are the caller's. Returns the (keep_id, batch) survivors plus
    * [[progressMetrics]]. */
  private[graft] def runNearDupKeyed(
      spark: SparkSession,
      srcPath: String,
      schema: StructType,
      keepPath: String,
      chkPath: String,
      maxFilesPerTrigger: Int): (DataFrame, Map[String, Long]) =
    nearDupKeyed(spark, FilesAt(srcPath, schema, maxFilesPerTrigger),
      resumeAt = Some((keepPath, chkPath)))

  private def nearDupKeyed(
      spark: SparkSession, source: Source,
      resumeAt: Option[(String, String)]): (DataFrame, Map[String, Long]) =
    // keyed per-cell state is the RocksDB case by design: at stream scale
    // the claim set is every distinct cell ever seen — off-heap or bust
    run(spark, source,
      Batches("keep_id BIGINT") { (flags, batchId, keep) =>
        // a doc survives iff EVERY one of its cells approved it
        keep.write(flags.groupBy(col("id"))
          .agg(bool_and(col("ok")).as("all_ok"))
          .where(col("all_ok"))
          .select(col("id").as("keep_id")), batchId)
      },
      rocksDb = true, resumeAt = resumeAt) { src =>
      val stream = src.sparkSession
      import stream.implicits._
      // same md5 band-key family as Dedup.bandBuckets — inlined as pure
      // projections (streaming frames cannot checkpoint); `pos|key` strings
      // key the state groups
      val bks = graft.functions.Vectors.md5BandKeys(16, 4)(
        graft.functions.Vectors.shinglesFast(3)(col("text")))
      // widen BEFORE the md5 kernel — the streaming analogue of Par.widen:
      // a trigger of few fat single-row-group files scans as 1-2
      // partitions, serializing the shingle+md5 band-key kernel on as many
      // cores (the r12 drill's stream_neardup_keyed batches spent ~95% of
      // their time exactly here — state-store commits were 1.5 s of an
      // 86 s run at 50×)
      src.repartition(stream.sparkContext.defaultParallelism)
        .select(col("doc_id").as("id"), bks.as("bks"))
        .select(col("id"), posexplode(
          when(size(col("bks")) > 0, col("bks"))
            .otherwise(array(concat(lit("solo:"), col("id").cast("string"))))))
        .select(col("id"), concat(col("pos").cast("string"), lit("|"), col("col")).as("cell"))
        .as[(Long, String)]
        .groupByKey(_._2)
        .flatMapGroupsWithState[Boolean, (Long, Boolean)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
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
    * jaccard) across all batches. */
  def streamLshIndexProbe(
      spark: SparkSession, incoming: DataFrame, indexTable: String,
      batchPreds: Seq[Column],
      corpusFp: String = ""): DataFrame = {
    streamIndexProbe(spark, incoming, batchPreds,
        "incoming_id BIGINT, corpus_id BIGINT, jaccard DOUBLE") { batch =>
      graft.operators.Dedup
        .probeLshIndex(batch.sparkSession, batch, "doc_id", "text", indexTable,
          corpusFp = corpusFp)
    }
  }

  /** Shared scaffold of the stored-index stream probes: `incoming` streams
    * one micro-batch per predicate in `batchPreds`, `probe` runs per batch
    * and its output (the DDL `columns`) is read back as the union over
    * batches. The query subset and batch split are the CALLER's. */
  private def streamIndexProbe(
      spark: SparkSession,
      incoming: DataFrame,
      batchPreds: Seq[Column],
      columns: String)(probe: DataFrame => DataFrame): DataFrame =
    run(spark, Staged(incoming, batchPreds),
      Batches(columns)((batch, batchId, sink) => sink.write(probe(batch), batchId)),
      readBack = _.drop("batch"))(identity)._1

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
      batchPreds: Seq[Column],
      corpusFp: String = ""): DataFrame = {
    streamIndexProbe(spark, incoming, batchPreds,
        "query_id BIGINT, rank BIGINT, neighbor_id BIGINT, cosine DOUBLE") { batch =>
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
    * across all batches. */
  def streamPqIndexProbe(
      spark: SparkSession, incoming: DataFrame, indexTable: String, k: Int,
      batchPreds: Seq[Column],
      nprobe: Int = 2,
      corpusFp: String = ""): DataFrame = {
    streamIndexProbe(spark, incoming, batchPreds,
        "query_id BIGINT, rank BIGINT, neighbor_id BIGINT, dist BIGINT") { batch =>
      graft.operators.Similarity
        .probePqIndex(batch.sparkSession, batch, "vec_id", "embedding", indexTable,
          k = k, nprobe = nprobe, corpusFp = corpusFp)
    }
  }
}
