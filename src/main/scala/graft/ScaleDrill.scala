package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EMPIRICAL scale drill: amplify the test tables ~X× IN-FLIGHT and time
  * the heaviest non-streaming kernels on the amplified data — the measured
  * leg of the "survives 100×" argument that the per-query plan audits
  * (PLANS.md) can only make structurally.
  *
  * Amplification is a replica crossJoin (broadcast of an X-row index) with
  * salted ids, so no new testdata is needed and the input materializes to
  * ~X× the base scale factor in memory before any kernel is timed:
  *   - documents: every token carries a `~<replica>` tag, so replica
  *     vocabularies are DISJOINT and the near-dup graph is exactly X
  *     independent copies of the base graph — candidate work scales ×X
  *     with no artificial mega-cluster collapsing all replicas of a doc;
  *   - embeddings: ids salted, vectors perturbed per replica (the IVF/PQ
  *     codebooks see X× training rows, not X identical copies);
  *   - events: user ids offset per replica → X× distinct entities, the
  *     partition-parallel axis of interval coverage;
  *   - lineitem: a unique long key per (orderkey, linenumber, replica) →
  *     an ~12M-key ordered series (at X=20/sf0.1) for the OrderedScan
  *     bucket-stitch fill/rank drills, with nulls injected for the fill.
  *
  * Each op is timed to a wall budget AND plan-audited: any unpartitioned
  * WindowExec in the executed plan that is NOT the documented ≤buckets-row
  * OrderedScan carry stitch (recognizable: it orders by `__bucket`) is a
  * flag — the single-partition sort is exactly the shape that dies at 100×.
  *
  * `main` (the committed SCALE_DRILL.json): sf0.1 × 20. The ScalaTest spec
  * runs the same code at sf0.01 × 4 so the drill itself stays green in CI.
  */
object ScaleDrill {

  final case class OpResult(name: String, sec: Double, rows: Long, flags: Seq[String],
      extras: Map[String, Long] = Map.empty)

  private def reps(spark: SparkSession, x: Int): DataFrame =
    spark.range(x).select(col("id").as("__rep"))

  /** X× documents: salted ids, replica-disjoint vocabulary (see header). */
  def amplifyDocs(spark: SparkSession, dir: String, x: Int): DataFrame =
    Tables(spark, dir, "documents")
      .crossJoin(broadcast(reps(spark, x)))
      .select(
        (col("doc_id") * x + col("__rep")).as("doc_id"),
        concat_ws(" ",
          transform(split(trim(col("text")), " "),
            w => concat(w, lit("~"), col("__rep")))).as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** X× embeddings: salted ids, per-replica perturbation of every value. */
  def amplifyEmbeddings(spark: SparkSession, dir: String, x: Int): DataFrame =
    Tables(spark, dir, "embeddings")
      .crossJoin(broadcast(reps(spark, x)))
      .select(
        (col("vec_id") * x + col("__rep")).as("vec_id"),
        transform(col("embedding"),
          v => (v + (col("__rep") % 7).cast("float") * lit(1e-3f)).cast("float"))
          .as("embedding"),
        col("label"))

  /** X× events: replica-offset user ids → X× distinct entities. */
  def amplifyEvents(spark: SparkSession, dir: String, x: Int): DataFrame =
    Tables(spark, dir, "events")
      .crossJoin(broadcast(reps(spark, x)))
      .select(
        (col("event_id") * x + col("__rep")).as("event_id"),
        col("ts"),
        (col("user_id") + col("__rep") * lit(1000000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))

  /** X× lineitem as an ordered (k, v) series with unique long keys and
    * nulls injected every 7th row (the forward-fill workload). */
  def amplifyLineitemSeries(spark: SparkSession, dir: String, x: Int): DataFrame =
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    // so the ordered key is a per-row monotonic id salted by replica —
    // key SEMANTICS don't matter to the fill/rank drill, uniqueness does
    Tables(spark, dir, "lineitem")
      .select(col("l_quantity"))
      .withColumn("__row", monotonically_increasing_id())
      .crossJoin(broadcast(reps(spark, x)))
      .select(
        (col("__row") * x + col("__rep")).as("k"),
        when((col("__row") + col("__rep")) % 7 === 0, lit(null).cast("double"))
          .otherwise(col("l_quantity")).as("v"))

  /** Unpartitioned WindowExec nodes in the EXECUTED plan that are not the
    * OrderedScan carry stitch (which orders by `__bucket` over ≤buckets
    * rows by construction). Best-effort: segments behind a localCheckpoint
    * are not in the final lineage and are audited by PLANS.md instead. */
  def globalWindowFlags(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    unwrap(df.queryExecution.executedPlan).collect {
      case w: WindowExec
          if w.partitionSpec.isEmpty &&
            !w.orderSpec.exists(_.child.references.exists(_.name.startsWith("__bucket"))) =>
        s"unpartitioned Window ordered by ${w.orderSpec.map(_.child.sql).mkString(",")}"
    }
  }

  /** Build and run the drill; one OpResult per kernel. Inputs materialize
    * (localCheckpoint) BEFORE timing starts so each measurement is the
    * kernel, not the amplification projection. */
  def runAll(spark: SparkSession, dir: String, x: Int): Seq[OpResult] = {
    // the drill certifies the DISTRIBUTED forms: force every size-gated
    // ordered op onto its bucket-stitch path (at real corpus scale the
    // gate routes there anyway; letting test-SF inputs take the small
    // global-window path would certify the wrong plan and trip the
    // unpartitioned-window detector on a deliberate small-side route)
    val gateKey = "spark.graft.globalWindow.maxBytes"
    val prevGate = spark.conf.getOption(gateKey)
    spark.conf.set(gateKey, "1")
    try runAllGated(spark, dir, x)
    finally prevGate match {
      case Some(v) => spark.conf.set(gateKey, v)
      case None    => spark.conf.unset(gateKey)
    }
  }

  private def runAllGated(spark: SparkSession, dir: String, x: Int): Seq[OpResult] = {
    // Serve the amplified inputs from PARQUET temp files, not memory
    // checkpoints: a checkpointed input competes with every kernel for the
    // storage pool, so late kernels measured a partially-evicted input —
    // position in the suite, not the kernel (decontamination: 72 s at 50×
    // in-suite after 15 heavy kernels vs 15.0 s with a two-kernel prefix;
    // the kernel itself is linear). A file-served input is what the
    // production path reads anyway, costs the same for every kernel
    // regardless of position, and leaves the whole pool to execution.
    val inDir = java.nio.file.Files.createTempDirectory(s"graft_drill_in_x$x")
    def served(df: DataFrame, name: String): DataFrame = {
      val p = inDir.resolve(name).toString
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val docs = served(amplifyDocs(spark, dir, x), "docs")
    val emb = served(amplifyEmbeddings(spark, dir, x), "emb")
    val ev = served(amplifyEvents(spark, dir, x), "ev")
    val li = served(amplifyLineitemSeries(spark, dir, x), "li")

    // Task-metric census per kernel: spill + shuffle-write volume + peak
    // single-task execution memory land in each op's extras, so the record
    // answers "did this spill at X×?" from measurement (PLANS.md cites it)
    val sc = spark.sparkContext
    val mx = new org.apache.spark.GraftTaskMetrics
    mx.attach(sc)

    val out = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    try {
    // Drain the ContextCleaner backlog from the PREVIOUS kernel before
    // starting the clock: dead checkpoint blocks (each kernel's internal
    // localCheckpoints) hold executor storage until a DRIVER GC enqueues
    // them for cleaning, so without this later kernels in an amplified
    // pass measure the accumulated backlog, not themselves — r10's
    // containment_pairs recorded 38 s in-suite at 50× vs 11.7 s when the
    // same pipeline ran segmented in a fresh session (quadratic-looking
    // step with a perfectly linear candidate census). Same discipline as
    // Bench's quiesced end-of-suite rerun pass.
    def quiesce(): Unit = {
      // GC+drain to a FIXED POINT of the persistent-RDD census, not a fixed
      // sleep: each GC enqueues dead checkpoint-block references, the sleep
      // lets the ContextCleaner unpersist them (which shrinks
      // getPersistentRDDs), and the loop exits when a round frees nothing
      // more. A fixed 1.2 s drain was not enough after occurrence-scale
      // kernels with vocabulary checkpoints (decontamination measured 67 s
      // in-suite directly after bigram_nll at 50× vs 15.4 s isolated); the
      // fixed point costs ~0.9 s when there is nothing to drain and is
      // bounded at ~6.5 s when there is.
      System.gc(); Thread.sleep(400)
      var prev = -1
      var cur = spark.sparkContext.getPersistentRDDs.size
      var i = 0
      while (cur != prev && i < 12) {
        System.gc(); Thread.sleep(500)
        prev = cur
        cur = spark.sparkContext.getPersistentRDDs.size
        i += 1
      }
      System.gc()
    }
    // SPARK_GRAFT_DRILL_ONLY=op1,op2 — iterate on single kernels: skipped
    // ops neither run nor record (their body is not built; a skipped
    // `timed` yields an empty frame, so ONLY must include a kernel's
    // upstream producers when it consumes one, e.g. components←lsh_pairs).
    // Point SPARK_GRAFT_DRILL_OUT at a scratch path in this mode — the
    // record holds only the filtered ops.
    val onlyOps = sys.env.get("SPARK_GRAFT_DRILL_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def skipOp(name: String): Boolean = onlyOps.exists(!_.contains(name))
    // streaming extras merge AFTER the census and must never shadow a
    // census key (spill_mem_mb etc.) — a silent shadow would corrupt the
    // drill's spill record for the stream ops with no warning
    def censusPlus(census: Map[String, Long], metrics: Map[String, Long]): Map[String, Long] = {
      val overlap = census.keySet.intersect(metrics.keySet)
      require(overlap.isEmpty,
        s"stream metrics would shadow spill-census keys: ${overlap.mkString(",")}")
      census ++ metrics
    }
    def timed(name: String)(build: => DataFrame): DataFrame = {
      if (skipOp(name)) return spark.emptyDataFrame
      quiesce()
      mx.reset(sc)
      val t0 = System.nanoTime()
      val df = build
      // force through df's OWN physical plan — the exact plan
      // globalWindowFlags audits. A count() round-trip re-optimizes and
      // PRUNES operators the count doesn't reference (a rowNumber kernel
      // collapsed to scan-and-count: 8 tasks, 712 shuffle bytes for a
      // 6M-row window), so the timing and the spill census measured the
      // eager quantile prep, not the kernel.
      val rows = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      out += OpResult(name, sec, rows, globalWindowFlags(df), mx.snapshot(sc))
      df
    }

    val pairs = timed("lsh_pairs") {
      operators.Dedup.minhashLshPortable(docs, "doc_id", "text")
    }
    // materialize OUTSIDE the downstream timers: components/kcore/kfold
    // consume the pair list, they should not re-pay the LSH pipeline
    val pairsM = pairs.localCheckpoint(true)
    timed("components") { operators.Dedup.components(pairsM) }
    // rounds-executed observability (r18): the ladder's cost model is
    // rounds × per-round constant — record the measured round count next
    // to the kernel's time so the scale record shows ladder LENGTH too
    if (out.nonEmpty && out.last.name == "components")
      out(out.size - 1) = out.last.copy(extras = out.last.extras +
        ("cc_rounds" -> operators.Dedup.lastComponentsRounds.get.toLong))
    timed("kcore") { operators.Graphs.kCore(pairsM, "id_a", "id_b", k = 2) }
    timed("group_kfold") {
      operators.Sampling.groupKFold(
        docs.select(col("doc_id"), col("n_chars")), "doc_id", pairsM, k = 5)
    }
    timed("ordered_fill") { operators.OrderedScan.forwardFill(li, "k", Seq("v")) }
    timed("ordered_rank") { operators.OrderedScan.rowNumber(li, "k", "__ord") }
    // STRING keys exercise the OTHER bucket path: no monotone numeric
    // proxy exists, so OrderedScan samples lexicographic boundary cuts —
    // this is the only drill op certifying that path at 10M+ rows
    timed("ordered_rank_str") {
      operators.OrderedScan.rowNumber(
        li.select(md5(col("k").cast("string")).as("ks")), "ks", "__ord")
    }
    // FIXED query set across amplification levels (a base-table slice):
    // production query load does not grow with corpus size, so the probe
    // kernels must measure CORPUS scaling — an amplified query set grows
    // candidates on BOTH axes and makes every fixed-nlist probe quadratic
    // in X by construction (measured r11: step 9.5x for 2.5x data once
    // the per-candidate ADC constant was removed)
    val queryVecs = amplifyEmbeddings(spark, dir, 1)
      .where(col("vec_id") % 37 === 0).localCheckpoint(true)
    timed("ivfpq_probe") {
      operators.Similarity.ivfPqKnnPortable(
        emb, queryVecs, "vec_id", "embedding", k = 10)
    }
    // the amortized-training counterpart: per-call Lloyd made ivfpq_probe
    // the drill's worst scaler (ratio 36x at 50x); a bounded training
    // sample pins that term, so this op's ratio ≈ the assignment+probe scan
    timed("ivf_sampled_probe") {
      operators.Similarity.ivfKnnSampledTrain(
        emb, queryVecs, "vec_id", "embedding",
        k = 10, trainRows = 512)
    }
    timed("bm25") { functions.Text.bm25TopTerms(docs, "doc_id", "text", kTop = 5) }
    timed("interval_coverage") {
      operators.Events.intervalCoverage(ev, "user_id", "ts",
        expr("CAST(round(value * 60000000) AS BIGINT)"))
    }
    timed("distinctive_terms") { functions.Text.distinctiveTerms(docs, "source", "text") }

    // ---- round-11 additions: the remaining uncovered kernel families ----
    // iterative graph propagation beyond components/kcore: 3 checkpointed
    // PageRank rounds over the SAME near-dup edge list — per-round cost is
    // one degree join + one dst-keyed agg, so the curve must track edges
    timed("pagerank") {
      operators.Graphs.pageRankFixedPoint(pairsM, "id_a", "id_b", rounds = 3)
    }
    // the distributed prefix sum (greedy sequence packing): ONE running-sum
    // stitch over doc-hash order — the at-scale shape of "pack the corpus
    // into 4k-token bins"; bins grow linearly with the corpus
    timed("token_packing") {
      operators.Packing.packByTokens(
        docs.select(col("doc_id"), functions.Text.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", targetTokens = 4096)
    }
    // two-level LM derivation (bigram vocab → first-word totals → per-
    // occurrence join): replica-disjoint vocabularies grow BOTH levels ×X
    // while occurrences grow ×X — the curve certifies the vocabulary join
    // stays term-keyed (never occurrence×vocab)
    timed("bigram_nll") {
      functions.Text.bigramNll(docs, "doc_id", "text")
    }

    // ---- round-17 additions: the reference-specialty operators (r16
    //      verdict #2) — oracle-covered at three SFs but previously
    //      without a measured amplification record ----
    // as-of join in its distributed union+last-over-window form (the shape
    // the reference certifies in tests/FSharp.DataFrame.Tests/Frame.fs:
    // 189-302, re-expressed per SURVEY §2.4): align each user's probe
    // events to the latest preceding data event PER USER — X× events and
    // X× distinct users, so the window's partition axis scales with X and
    // the sorted union is the only shuffle
    timed("asof_join") {
      val probe = ev.where(col("event_id") % 3 =!= 0)
        .select(col("user_id"), col("ts"), col("event_id"))
      val data = ev.where(col("event_id") % 3 === 0)
        .select(col("user_id"), col("ts").as("dts"), col("value"))
      operators.AsOf.join(probe, "ts", data, "dts", Seq("value"),
        partitionBy = Seq("user_id"))
    }
    // resampleUniform (grid + forward gap-fill, the reference's golden
    // tests tests/.../Series.fs:120-235): bucket the 600k×X-row ordered
    // series into a generated [lo, hi] grid — the data-side cost is ONE
    // map-side-partial groupBy; the grid/gap-fill side is model-sized
    // (≈ max-key/4096 buckets), never row-scale
    timed("resample_uniform") {
      operators.Resample.resampleUniform(
        graft.core.KSeries(li, "k", "v"),
        k => (k / 4096L).cast("long"),
        (lo, hi) => sequence(lo, hi))(sum)
    }
    // chunkWhile sessionization (reference src/SeriesModule.fs:448-463):
    // the inherently-sequential first-key recurrence runs per user after
    // ONE repartition (mapPartitions scan), then the session aggregate —
    // X× users is the parallel axis, ~67 events/user stays constant
    timed("chunk_while") {
      val sess = operators.ChunkWhile.assign(
        ev.select(col("user_id"), col("ts").cast("long").as("tsl"), col("value")),
        "tsl", (first, cur) => cur - first < 21600L,
        partitionBy = Seq("user_id"))
      sess.groupBy(col("user_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    }

    // ---- round-10 additions: the round-9 production surface ----
    // Unit-returning work (index writes): timed, rows = batch size, no
    // executed-plan handle to audit — write plans are covered by PLANS.md
    def timedUnit(name: String)(work: => Long): Unit = {
      if (skipOp(name)) return
      quiesce()
      mx.reset(sc)
      val t0 = System.nanoTime()
      val rows = work
      out += OpResult(name, (System.nanoTime() - t0) / 1e9, rows, Nil,
        mx.snapshot(sc))
    }

    // containment family: Broder asymmetric containment over the same md5
    // band candidates as LSH — replica-disjoint vocabularies make the
    // candidate census exactly X independent copies of the base census
    timed("containment_pairs") {
      operators.Dedup.containmentNearDup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 500000L)
    }
    timed("containment_prune") {
      operators.Dedup.containmentDedup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 500000L)
    }
    // the TRIGGERED hot-bucket cap at amplified scale (q309's form): the
    // cap pinned below the corpus max bucket size, so the broadcast
    // anti-join branch runs for real. The claim under measurement is
    // pay-per-anomaly: the capped kernel's cost and step ratio must track
    // containment_pairs' (same verify work minus the dropped pairs), not
    // exceed it — r11's window implementation charged every row
    timed("containment_capped") {
      operators.Dedup.containmentNearDup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 500000L,
        maxBucket = Some(2))
    }

    // decontamination at amplified scale (the q292 kernel): BOTH the
    // training corpus and the probe set grow ×X. Pinned to the LARGE-probe
    // equi-join form (ngram-keyed shuffles, never probe×corpus) — the
    // shape a real eval-suite sweep over a full corpus pays — because the
    // auto-router would take the broadcast path at the x=1 baseline and
    // the equi-join path amplified, making the ratio compare two
    // different physical plans. r15: the large path joins shuffled-hash
    // instead of sort-merge (this kernel's occurrence-join SORT was the
    // suite's largest spill at 100×: 1.7 GB mem-spill; the bloom
    // alternative measured WORSE here — 75% of train shingles hit a
    // corpus-shaped probe, so membership pruning buys ~nothing)
    timed("decontamination") {
      operators.Dedup.ngramContaminationLarge(
        docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 3, minOverlap = 0.5)
    }

    // LSH index lifecycle at amplified scale (the q261 shape): publish over
    // 80% of the indexed corpus, APPEND the rest, PROBE a disjoint batch.
    // Probe steady state must scale with the BATCH, not the stored corpus —
    // only the batch side shuffles against the bucketed tables.
    val lshTbl = "graft_drill_lsh"
    val lshCorpus = docs.where(col("doc_id") % 7 =!= 0)
    val lshFp = s"drill_docs@x$x"
    timedUnit("lsh_index_publish") {
      operators.Dedup.publishLshIndex(lshCorpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", lshTbl, corpusFp = s"$lshFp-partial")
      0L
    }
    // batch row count computed OUTSIDE the timed block — the timing covers
    // only the append, not an extra count job over the amplified batch
    locally {
      val batch = lshCorpus.where(col("doc_id") % 5 === 0)
      val n = batch.count()
      timedUnit("lsh_index_append") {
        operators.Dedup.appendLshIndex(batch, "doc_id", "text", lshTbl,
          newCorpusFp = lshFp)
        n
      }
    }
    timed("lsh_index_probe") {
      operators.Dedup.probeLshIndex(spark, docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", lshTbl, corpusFp = lshFp)
    }

    // IVF index lifecycle (the q264 shape): publish with a BOUNDED training
    // sample, append under the STORED centroids (no retrain), probe
    val ivfTbl = "graft_drill_ivf"
    val ivfCorpus = emb.where(col("vec_id") % 7 =!= 0)
    val ivfFp = s"drill_emb@x$x"
    timedUnit("ivf_index_publish") {
      operators.Similarity.publishIvfIndex(ivfCorpus.where(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", ivfTbl, trainRows = 512, corpusFp = s"$ivfFp-partial")
      0L
    }
    locally {
      val batch = ivfCorpus.where(col("vec_id") % 5 === 0)
      val n = batch.count()
      timedUnit("ivf_index_append") {
        operators.Similarity.appendIvfIndex(batch, "vec_id", "embedding", ivfTbl,
          newCorpusFp = ivfFp)
        n
      }
    }
    timed("ivf_index_probe") {
      operators.Similarity.probeIvfIndex(spark, queryVecs,
        "vec_id", "embedding", ivfTbl, k = 10, corpusFp = ivfFp)
    }

    // stored IVF+PQ index lifecycle (the q311/q312 shape): publish
    // codes-only inverted lists over 80% of the corpus (models trained on
    // exactly that 80%), APPEND the rest routed+encoded under the STORED
    // models (no retrain), COMPACT at the stored bucket spec (strict PQ
    // audit runs inside), PROBE via ADC — probes never touch raw vectors
    val pqTbl = "graft_drill_pq"
    timedUnit("pq_index_publish") {
      operators.Similarity.publishPqIndex(ivfCorpus.where(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", pqTbl, corpusFp = s"$ivfFp-partial")
      0L
    }
    locally {
      val batch = ivfCorpus.where(col("vec_id") % 5 === 0)
      val n = batch.count()
      timedUnit("pq_index_append") {
        operators.Similarity.appendPqIndex(batch, "vec_id", "embedding", pqTbl,
          newCorpusFp = ivfFp)
        n
      }
    }
    timedUnit("pq_index_compact") {
      operators.Similarity.compactPqIndex(spark, pqTbl)
      0L
    }
    timed("pq_index_probe") {
      operators.Similarity.probePqIndex(spark, queryVecs,
        "vec_id", "embedding", pqTbl, k = 10, corpusFp = ivfFp)
    }

    // streaming state at amplified scale: the q249 mapGroupsWithState kernel
    // under ROCKSDB, X× events and X× distinct users forced through multiple
    // micro-batches; extras carry the state-store metrics (commit ms, peak
    // state rows/bytes) — the measured form of "state scales off-heap"
    if (!skipOp("stream_state_rocksdb")) {
      val evDir = java.nio.file.Files.createTempDirectory("graft_drill_ev")
      try {
        val target = evDir.resolve("events").toString
        // repartition (not coalesce — it can't widen a narrow input) to a
        // fixed 16 files so maxFilesPerTrigger=4 yields 4 micro-batches at
        // every amplification: per-batch state commits are the measurement
        ev.repartition(16).write.mode("overwrite").parquet(target)
        quiesce()
        mx.reset(sc)
        val t0 = System.nanoTime()
        val (res, metrics) =
          streaming.Streams.drillStatefulRocksDb(spark, target, maxFilesPerTrigger = 4)
        val rows = res.count()
        out += OpResult("stream_state_rocksdb", (System.nanoTime() - t0) / 1e9,
          rows, Nil, censusPlus(mx.snapshot(sc), metrics))
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(evDir.toFile)
      }
    }

    // keyed-state streaming near-dup (q308): per-batch cost must be FLAT
    // in batch index — the parquet-claim-store form (q307) re-reads ALL
    // prior claims every micro-batch (cost grows with stream lifetime),
    // the RocksDB flatMapGroupsWithState form touches only the batch's
    // own cells. Four equal-size doc batches; extras carry per-batch
    // wall-clock and state metrics; a late batch costing > 2× the second
    // (the first pays stream/plan init) flags the run.
    if (!skipOp("stream_neardup_keyed")) {
      val ndDir = java.nio.file.Files.createTempDirectory("graft_drill_nd")
      try {
        val srcDir = ndDir.resolve("src")
        java.nio.file.Files.createDirectories(srcDir)
        val inc = docs.select(col("doc_id"), col("text"))
        streaming.Streams.stageBatchFiles(inc,
          (0 until 4).map(b => pmod(col("doc_id"), lit(4)) === b), srcDir, "drill_nd")
        quiesce()
        mx.reset(sc)
        val t0 = System.nanoTime()
        val (res, metrics) = streaming.Streams.runNearDupKeyed(
          spark, srcDir.toString, inc.schema,
          ndDir.resolve("keep").toString, ndDir.resolve("chk").toString,
          maxFilesPerTrigger = 1)
        val rows = res.count()
        val bms = (0 until 4).flatMap(i => metrics.get(s"batch_ms_$i"))
        val flags =
          if (bms.size == 4 && bms(3) > 2 * math.max(1000L, bms(1)))
            Seq(s"per-batch cost grows with batch index: ${bms.mkString(",")} ms")
          else Nil
        out += OpResult("stream_neardup_keyed", (System.nanoTime() - t0) / 1e9,
          rows, flags, censusPlus(mx.snapshot(sc), metrics))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(ndDir.toFile)
    }
    out.toSeq
    } finally {
      sc.removeSparkListener(mx)
      org.apache.commons.io.FileUtils.deleteDirectory(inDir.toFile)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val x = sys.env.getOrElse("SPARK_GRAFT_DRILL_X", "20").toInt
    val budget = sys.env.getOrElse("SPARK_GRAFT_DRILL_BUDGET_SEC", "120").toDouble
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // x=1 pass first: the per-op BASELINE the scale ratio divides by, and
    // the JIT/codegen warmup that keeps the amplified pass honest
    val base = runAll(spark, sfDir, 1).map(r => r.name -> r.sec).toMap
    val results = runAll(spark, sfDir, x)
    def n3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val opsJson = results.map { r =>
      val flags = r.flags.map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")
      val b = base.getOrElse(r.name, 0.0)
      // ratio vs ideal: time grew `ratio`× for x× data — <x is sublinear
      // (fixed overheads amortize), ≈x linear, >>x a scaling bug
      val extras = if (r.extras.isEmpty) ""
        else r.extras.toSeq.sortBy(_._1)
          .map { case (k, v) => s""","$k":$v""" }.mkString
      s""""${r.name}":{"sec":${n3(r.sec)},"base_sec":${n3(b)},"ratio":${n3(
          if (b > 0) r.sec / b else -1.0)},"rows":${r.rows},"over_budget":${r.sec > budget}$extras,"flags":$flags}"""
    }.mkString("{", ",", "}")
    val total = results.map(_.sec).sum
    // STEP-ratio check vs a lower-amplification record: per-level ratios
    // can hide a curve that bends between levels (r10's containment_pairs
    // stayed under budget at both 20× and 50× while stepping 5.8× for
    // 2.5× data). With SPARK_GRAFT_DRILL_STEP_BASE=<record path> (e.g.
    // SCALE_DRILL.json when running the 50× pass), each op's
    // time_hi/time_lo must stay within 2× the data step x_hi/x_lo.
    // Kernels finishing under 5 s at the HIGHER level are reported but
    // not flagged: at that absolute scale the in-suite shot is dominated
    // by harness state (scheduler latency, cache/cleaner residue), not
    // the kernel — interval_coverage measured 1.2-1.5 s isolated at 50×
    // vs 3.2-3.7 s in-suite, a 6× apparent step for a linear plan.
    val stepFloorSec = 5.0
    val stepFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val stepsJson = sys.env.get("SPARK_GRAFT_DRILL_STEP_BASE").map { basePath =>
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(basePath)), java.nio.charset.StandardCharsets.UTF_8)
      val xLo = """"x":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(sys.error(s"no x field in $basePath"))
      require(xLo > 0 && xLo < x, s"step base x=$xLo must be below this run's x=$x")
      val loSec = """"([a-z0-9_]+)":\{"sec":([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val dataStep = x.toDouble / xLo
      val entries = results.flatMap { r =>
        loSec.get(r.name).filter(_ > 0).map { lo =>
          val step = r.sec / lo
          if (step > 2.0 * dataStep && r.sec >= stepFloorSec)
            stepFailures += s"${r.name} (step ${n3(step)})"
          s""""${r.name}":${n3(step)}"""
        }
      }
      s""","step_base_x":$xLo,"step_budget":${n3(2.0 * dataStep)},"steps":${
        entries.mkString("{", ",", "}")}"""
    }.getOrElse("")
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val line =
      s"""{"sf":"$sfDir","x":$x,"heap_gb":${n3(heapGb)},"budget_sec":${n3(budget)},"total_sec":${n3(total)}$stepsJson,"ops":$opsJson}"""
    // the record lives at the repo root (the Bench selfPath discipline):
    // prefer the cwd, fall back to the canonical repo path
    val fileName = sys.env.getOrElse("SPARK_GRAFT_DRILL_OUT", "SCALE_DRILL.json")
    val path =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/root/repo")) &&
          !java.nio.file.Files.isDirectory(java.nio.file.Paths.get("src/main/scala/graft")))
        java.nio.file.Paths.get(s"/root/repo/$fileName")
      else java.nio.file.Paths.get(fileName)
    java.nio.file.Files.writeString(path, line + "\n")
    println(line)
    val bad = results.filter(r => r.sec > budget || r.flags.nonEmpty)
    spark.stop()
    if (bad.nonEmpty || stepFailures.nonEmpty) {
      System.err.println(s"[scaledrill] FAILED ops: ${
        (bad.map(_.name) ++ stepFailures).mkString(", ")}")
      sys.exit(1)
    }
  }
}
