package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{KSeries, Lookup}
import graft.functions.Text
import graft.operators._
import graft.streaming.Streams

/** One benchmark run of one workload: set-up (session, input scan, one
  * untimed warm-up pass), then timed passes until `seconds` have elapsed.
  *
  * Every op is one call into a public graft entry point, split into three
  * phases: build (the call itself, with the eager jobs it runs), plan
  * (`queryExecution.executedPlan`) and exec (`queryExecution.toRdd.count()`;
  * never `count()`, which lets Catalyst prune the measured plan). Before each
  * op the JVM is drained to a fixed point of `getPersistentRDDs`; that drain
  * is recorded but is not part of any op's time.
  *
  * With `trace=1` a listener records every Spark job and the task counters,
  * and spans (workload > pass > op > phase > job) are kept in memory and
  * written once at the end. The runner (`run.py`) turns `result.json` into
  * metrics and compares the checked results with the DuckDB oracle.
  *
  * Args: workload inDir workDir outDir seconds trace fault
  */
object Main {

  final case class Step(layer: String, check: String, body: () => DataFrame)

  final class Ctx(val spark: SparkSession, val in: String, val work: String) {
    def t(name: String): DataFrame = Tables(spark, in, name)
  }

  // ---------------------------------------------------------------- tracing

  final case class Span(id: Int, parent: Int, name: String, startUs: Long, var endUs: Long,
      attrs: scala.collection.mutable.LinkedHashMap[String, Double] =
        scala.collection.mutable.LinkedHashMap.empty)

  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  /** Job intervals and task counters; attached only in traced runs. */
  final class Recorder extends SparkListener {
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val spillBytes = new java.util.concurrent.atomic.AtomicLong()
    val outputBytes = new java.util.concurrent.atomic.AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time * 1000L)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add((e.jobId, jobStart.getOrDefault(e.jobId, e.time * 1000L), e.time * 1000L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    def counters(): (Long, Long, Long) = (shuffleBytes.get, spillBytes.get, outputBytes.get)
  }

  // --------------------------------------------------------------- workloads

  private def daily(c: Ctx): KSeries =
    KSeries(c.t("orders").groupBy(to_date(col("o_orderdate")).as("k"))
      .agg(sum(col("o_totalprice")).as("v")), ordered = true)

  /** The ordered-series surface; each op is its declared query's call. */
  def frameSeries(c: Ctx): Seq[Step] = Seq(
    Step("OrderedScan.forwardFill", "q71_scan_ffill", () => {
      val d = daily(c)
      val sparse = d.filterAll((k, _) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      OrderedScan.forwardFill(sparse.realign(grid, "day").df, "k", Seq("v"), buckets = 16)
        .select(col("k"), round(col("v"), 4).as("filled"))
    }),
    Step("OrderedScan.rowNumber", "q73_scan_rownum", () =>
      OrderedScan.rowNumber(daily(c).df, "k", "ord", buckets = 16).select(col("k"), col("ord"))),
    Step("OrderedScan.runningSum", "q72_scan_cumsum", () =>
      OrderedScan.runningSum(daily(c).df, "k", "v", "cum", buckets = 16)
        .select(col("k"), round(col("cum"), 4).as("cum"))),
    Step("AsOf.join", "q20_asof_smaller", () => {
      val d = daily(c)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(date_add(col("lo"), 3), col("hi"),
          expr("interval 11 days"))).as("g"))
      AsOf.join(grid, "g", d.df, "k", Seq("v"), Lookup.NearestSmaller)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
    }),
    Step("Resample.resampleUniform", "q35_resample_uniform", () => {
      val sparse = daily(c).filterAll((k, _) => month(k) =!= 2 && month(k) =!= 7)
      Resample.resampleUniform(sparse, k => trunc(k, "month").cast("date"),
        (lo, hi) => sequence(lo, hi, expr("interval 1 month")))(sum)
        .select(col("k"), round(col("v"), 4).as("v"))
    }),
    Step("ChunkWhile.assign", "q54_chunk_while", () => {
      val d = daily(c).df
        .select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      ChunkWhile.assign(d, "k", (first, cur) => cur - first < 10)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("total"))
    }),
    Step("Events.intervalCoverage", "q253_interval_coverage", () =>
      Events.intervalCoverage(c.t("events"), "user_id", "ts",
        expr("CAST(round(value * 60000000) AS BIGINT)"))))

  /** The training-data batch pipeline. Components reads the LSH pairs the
    * previous op wrote (outside any timer), so it never re-pays the LSH. */
  def dedupBatch(c: Ctx, pairsPath: () => String): Seq[Step] = Seq(
    Step("Dedup.exact", "q36_dedup_exact", () => Dedup.exact(c.t("documents"), "doc_id", "text")),
    Step("Dedup.minhashLshPortable", "q113_minhash_portable", () =>
      Dedup.minhashLshPortable(c.t("documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)),
    Step("Dedup.components", "components_of_q113", () =>
      Dedup.components(c.spark.read.parquet(pairsPath()))
        .select(col("id").cast("long").as("doc_id"), col("cluster").cast("long").as("cluster"))),
    Step("Dedup.containmentNearDup", "q266_containment_neardup", () =>
      Dedup.containmentNearDup(c.t("documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L)),
    Step("Dedup.ngramContaminationLarge", "q132_decontaminate_large", () => {
      val docs = c.t("documents")
      Dedup.ngramContaminationLarge(docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", n = 3, minOverlap = 0.5)
    }),
    Step("Text.bm25TopTerms", "q148_bm25", () =>
      Text.bm25TopTerms(c.t("documents").where(col("doc_id") < 100), "doc_id", "text", kTop = 3)),
    Step("Packing.packByTokens", "q96_token_packing", () => {
      val d = c.t("documents").select(col("doc_id"), Text.tokenCount(col("text")).as("n_tok"))
      Packing.packByTokens(d, "doc_id", "n_tok", targetTokens = 4096)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("bin_tokens"))
    }))

  /** Index maintenance, writes before reads. LSH: the corpus is
    * doc_id % 7 != 0 (the q261 corpus); publish doc_id % 5 != 0 (80 %),
    * append the other 20 %, compact, lose the catalog entries, recover, then
    * probe with the doc_id % 7 == 0 batch. PQ: publish vec_id % 5 != 0,
    * append the rest, compact, probe vec_id < 5 (the q311 shape). Every pass
    * republishes under the same names, so each pass starts from the same
    * state. Compaction and recovery must leave the probes' answers unchanged,
    * so the q261 and q311 oracles hold after them. */
  def indexSteps(c: Ctx): Seq[Step] = {
    lazy val docs = c.t("documents")
    lazy val corpus = docs.where(col("doc_id") % 7 =!= 0)
    def lshFp(n: Int) = s"pb-lsh-$n"
    lazy val emb = c.t("embeddings")
    def pqFp(n: Int) = s"pb-pq-$n"
    Seq(
      Step("Dedup.publishLshIndex", "", () => {
        Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0), "doc_id", "text", LshTable,
          corpusFp = lshFp(0)); null
      }),
      Step("Dedup.appendLshIndex", "", () => {
        Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0), "doc_id", "text", LshTable,
          newCorpusFp = lshFp(1)); null
      }),
      Step("Dedup.compactLshIndex", "", () => { Dedup.compactLshIndex(c.spark, LshTable); null }),
      Step("Bucketing.simulateCatalogLoss", "untimed", () => {
        Seq("_buckets", "_docs", "_meta").foreach(x =>
          graft.sources.Bucketing.simulateCatalogLoss(c.spark, LshTable + x))
        null
      }),
      Step("Dedup.recoverLshIndex", "", () => {
        Dedup.recoverLshIndex(c.spark, LshTable, expectedCorpusFp = lshFp(1)); null
      }),
      Step("Dedup.probeLshIndex", "q261_lsh_index_append", () =>
        Dedup.probeLshIndex(c.spark, docs.where(col("doc_id") % 7 === 0), "doc_id", "text",
          LshTable, corpusFp = lshFp(1))),
      Step("Similarity.publishPqIndex", "", () => {
        Similarity.publishPqIndex(emb.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          PqTable, nlist = 8, m = 8, codes = 16, rounds = 2, corpusFp = pqFp(0)); null
      }),
      Step("Similarity.appendPqIndex", "", () => {
        Similarity.appendPqIndex(emb.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
          PqTable, newCorpusFp = pqFp(1)); null
      }),
      Step("Similarity.compactPqIndex", "", () => { Similarity.compactPqIndex(c.spark, PqTable); null }),
      Step("Similarity.probePqIndex", "q311_pq_index_append", () =>
        Similarity.probePqIndex(c.spark, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          PqTable, k = 3, nprobe = 2, corpusFp = pqFp(1))))
  }

  val MinTimedPasses = 3
  val LshTable = "pb_lsh"
  val PqTable = "pb_pq"

  /** The ops each workload times, in order, by layer name; "full" runs every
    * step once. A workload that probes an index it does not maintain has that
    * index published (and appended) once before the warm-up pass. */
  val Workloads: Map[String, Seq[String]] = Map(
    "series_dedup" -> Seq("OrderedScan.forwardFill", "AsOf.join", "ChunkWhile.assign",
      "Dedup.containmentNearDup", "Text.bm25TopTerms"),
    "index_maintain" -> Seq("Dedup.publishLshIndex", "Dedup.appendLshIndex",
      "Dedup.probeLshIndex", "Similarity.probePqIndex"))

  /** The streaming layer: keyed near-dup state (one file per trigger) and
    * stateful per-user totals (two files per trigger), both on RocksDB. */
  def streamIngest(c: Ctx, pass: () => Int, extras: scala.collection.mutable.Map[String, Double]): Seq[Step] = {
    val docsDir = s"${c.in}/stream_docs"
    lazy val schema = c.spark.read.parquet(docsDir).schema
    def stash(prefix: String, m: Map[String, Long]): Unit =
      m.foreach { case (k, v) => extras(s"$prefix$k") = v.toDouble }
    Seq(
      Step("Streams.runNearDupKeyed", "q308_stream_neardup_keyed", () => {
        val d = s"${c.work}/stream/p${pass()}"
        val (df, m) = Streams.runNearDupKeyed(c.spark, docsDir, schema, s"$d/keep", s"$d/chk",
          maxFilesPerTrigger = 1)
        stash("", m); df
      }),
      Step("Streams.drillStatefulRocksDb", "q249_stream_rocksdb", () => {
        val (df, m) = Streams.drillStatefulRocksDb(c.spark, s"${c.in}/stream_events",
          maxFilesPerTrigger = 2)
        stash("", m); df
      }))
  }

  // ------------------------------------------------------------------ runner

  /** GC + drain to a fixed point of the persistent-RDD census: dead
    * checkpoint blocks are only released after a driver GC enqueues them
    * for the ContextCleaner, so without this an op measures the previous
    * op's backlog. */
  def quiesce(spark: SparkSession): Unit = {
    var prev = -1
    var cur = spark.sparkContext.getPersistentRDDs.size
    var i = 0
    while (cur != 0 && cur != prev && i < 12) {
      System.gc(); Thread.sleep(60)
      prev = cur
      cur = spark.sparkContext.getPersistentRDDs.size
      i += 1
    }
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.shuffle.sort.bypassMergeThreshold", 2048)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // certify the distributed ordered-scan forms, as the scale drill does:
      // at these sizes the gate would otherwise route to one global window
      .config("spark.graft.globalWindow.maxBytes", "1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, out, secondsArg, traceArg, fault, warmupsArg) = args
    val seconds = secondsArg.toDouble
    val warmups = warmupsArg.toInt
    val traced = traceArg == "1"
    val spark = session(work)
    val sc = spark.sparkContext
    val rec = new Recorder
    if (traced) sc.addSparkListener(rec)
    val c = new Ctx(spark, in, work)

    var pass = 0
    var pairsAt = ""  // where the current pass's LSH pairs were written
    def checkPath(i: Int) = s"$out/check/p$pass/${"%02d".format(i)}"
    val extras = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val catalog = frameSeries(c) ++ dedupBatch(c, () => pairsAt) ++
      indexSteps(c) ++ streamIngest(c, () => pass, extras)
    val steps: Seq[Step] =
      if (workload == "full") catalog
      else Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
        .map(l => catalog.find(_.layer == l).get)
    val maintained = steps.map(_.layer).toSet
    // indexes probed but not maintained by the workload: publish once, untimed
    if (steps.exists(_.layer == "Similarity.probePqIndex") && !maintained("Similarity.publishPqIndex"))
      catalog.filter(s => s.layer == "Similarity.publishPqIndex" || s.layer == "Similarity.appendPqIndex")
        .foreach(_.body())

    val spans = ArrayBuffer.empty[Span]
    def open(parent: Int, name: String): Span = {
      val s = Span(spans.size, parent, name, nowUs(), -1L)
      if (traced) spans += s
      s
    }
    val root = open(-1, workload)
    val ops = ArrayBuffer.empty[String]       // one JSON object per op call
    val passes = ArrayBuffer.empty[String]    // one JSON object per pass

    def runPass(checked: Boolean): Unit = {
      val ps = open(root.id, s"pass$pass")
      var quiesceUs = 0L
      var opUs = 0L
      var failed = 0
      var publishUs = 0L
      steps.zipWithIndex.foreach { case (st, i) =>
        val q0 = nowUs()
        quiesce(spark)
        val q1 = nowUs()
        quiesceUs += q1 - q0
        if (traced) spans += Span(spans.size, ps.id, "quiesce", q0, q1)
        if (st.check == "untimed") st.body()
        else {
          extras.clear()
          val (sh0, sp0, ob0) = rec.counters()
          val os = open(ps.id, st.layer)
          var b = 0L; var p = 0L; var e = 0L
          var rows = -1L
          var err: String = null
          var df: DataFrame = null
          try {
            if (st.layer == fault) throw new RuntimeException(s"injected benchmark fault in $fault")
            val bs = open(os.id, "build")
            df = st.body()
            bs.endUs = nowUs(); b = bs.endUs - bs.startUs
            if (df != null) {
              val pl = open(os.id, "plan")
              df.queryExecution.executedPlan
              pl.endUs = nowUs(); p = pl.endUs - pl.startUs
              val ex = open(os.id, "exec")
              // the checked warm-up pass executes the plan by writing the
              // result for the oracle; timed passes only count its rows
              if (checked && st.check.nonEmpty) df.write.mode("overwrite").parquet(checkPath(i))
              else rows = df.queryExecution.toRdd.count()
              ex.endUs = nowUs(); e = ex.endUs - ex.startUs
            }
          } catch {
            case t: Throwable =>
              err = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
              System.err.println(s"[perfbench] ${st.layer} failed in pass $pass: $err")
              failed += 1
          }
          os.endUs = nowUs()
          val wall = os.endUs - os.startUs
          opUs += wall
          if (st.layer.contains(".publish")) publishUs += wall
          if (traced) {
            org.apache.spark.perfbench.Bus.drain(sc)
            val (sh1, sp1, ob1) = rec.counters()
            val ckpt = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
            os.attrs ++= Seq("shuffle_bytes" -> (sh1 - sh0).toDouble, "spill_bytes" -> (sp1 - sp0).toDouble,
              "write_bytes" -> (ob1 - ob0).toDouble, "ckpt_bytes" -> ckpt.toDouble)
          }
          if (err == null && st.layer == "Dedup.minhashLshPortable") {
            if (checked) pairsAt = checkPath(i)
            else {
              pairsAt = s"$work/pairs/p$pass"
              df.write.mode("overwrite").parquet(pairsAt)
            }
          }
          ops += Json.obj(
            "pass" -> pass, "i" -> i, "layer" -> st.layer, "check" -> st.check,
            "checked" -> (checked && st.check.nonEmpty && err == null),
            "wall_ms" -> wall / 1e3, "build_ms" -> b / 1e3, "plan_ms" -> p / 1e3,
            "exec_ms" -> e / 1e3, "quiesce_ms" -> (q1 - q0) / 1e3, "rows" -> rows,
            "error" -> err, "extras" -> extras.toMap, "attrs" -> os.attrs.toMap)
        }
      }
      System.gc(); System.gc()
      val rt = Runtime.getRuntime
      val heap = (rt.totalMemory - rt.freeMemory).toDouble / (1 << 20)
      ps.endUs = nowUs()
      passes += Json.obj("pass" -> pass, "op_s" -> opUs / 1e6, "quiesce_s" -> quiesceUs / 1e6,
        "publish_s" -> publishUs / 1e6, "failed" -> failed, "heap_retained_mb" -> heap,
        "index_bytes" -> indexBytes(work))
      pass += 1
    }

    // set-up ends with the untimed warm-up passes; the first one is checked.
    // A negative `seconds` stops after them (used to record the class archive).
    (0 until warmups).foreach(w => runPass(checked = w == 0))
    val setupEndUs = nowUs()
    val timedStart = System.nanoTime()
    // at least MinTimedPasses, so that the reported median is always taken
    // at the same position of the (still slightly warming) pass sequence
    while (seconds >= 0 &&
        (pass < warmups + MinTimedPasses || (System.nanoTime() - timedStart) / 1e9 < seconds))
      runPass(checked = false)
    val measuredS = (System.nanoTime() - timedStart) / 1e9
    root.endUs = nowUs()

    if (traced) {
      org.apache.spark.perfbench.Bus.drain(sc)
      // each job becomes a child of the innermost span open at its start
      val byStart = spans.filter(_.endUs >= 0).sortBy(s => (s.startUs, -s.endUs))
      rec.jobs.forEach { case (id, s, e) =>
        val parent = byStart.filter(p => p.startUs <= s && s <= p.endUs)
          .lastOption.map(_.id).getOrElse(root.id)
        spans += Span(spans.size, parent, s"job$id", s, e)
      }
    }
    val spanJson = spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "run" -> workload, "attrs" -> s.attrs.toMap))
    val json = Json.obj(
      "workload" -> workload,
      "setup_end_us" -> setupEndUs, "warmups" -> warmups, "measured_s" -> measuredS,
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
      "ops" -> Json.Raw(ops.mkString("[", ",\n", "]")),
      "oracle_sql" -> steps.map(_.check).filter(_.startsWith("q")).distinct
        .map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap,
      "spans" -> Json.Raw(spanJson.mkString("[", ",\n", "]")))
    Files.write(Paths.get(s"$out/result.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Bytes on disk of the benchmark's index tables (LSH and PQ). */
  def indexBytes(work: String): Long = {
    val wh = new java.io.File(s"$work/warehouse")
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    Option(wh.listFiles).map(_.filter(_.getName.startsWith("pb_")).map(size).sum).getOrElse(0L)
  }

}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null                => "null"
    case Raw(s)              => s
    case s: String           => str(s)
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean          => b.toString
    case m: Map[_, _]        => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case other               => str(other.toString)
  }
}
