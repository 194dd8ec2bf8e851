package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.sources.Faults

/** STAGED-COMMIT index appends (r13 verdict item #2): a crash at ANY point
  * before the final `_meta` commit write must leave probes returning
  * EXACTLY the pre-append results — the tear is impossible to observe,
  * not merely caught loudly. Each family (LSH, IVF, IVF+PQ) is killed at
  * its named crash points via [[graft.sources.Faults]], probed, retried,
  * and compacted; compaction garbage-collects the orphaned epochs. */
class StagedAppendSpec extends SparkSpecBase {

  override def afterAll(): Unit = {
    Faults.failAt = null; Faults.actAt = null; Faults.action = null
    spark.conf.set("spark.graft.lease.enabled", "true")
    super.afterAll()
  }

  private def dropAll(prefix: String): Unit = dropIndex(prefix)

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** (committed, orphan) rows of one data table from a describe report. */
  private def census(report: DataFrame, table: String): (Long, Long) = {
    val r = report.where(col("table") === table).head()
    (r.getLong(1), r.getLong(2))
  }

  // -------- vector fixtures (IVF / PQ) --------
  private def vecs(n: Int, dims: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList((0L until n.toLong).map(i =>
        Row(i, Seq.fill(dims)(rnd.nextFloat()))): _*), schema)
  }

  test("IVF append: crash at every point leaves probes at pre-append state; retry + compact heal") {
    val all = vecs(60, 8, seed = 31)
    val a = all.where(col("vec_id") % 5 =!= 0)
    val b = all.where(col("vec_id") % 5 === 0)
    val q = all.where(col("vec_id") < 3)
    def probe(tbl: String, fp: String) = rowsOf(Similarity.probeIvfIndex(
      spark, q, "vec_id", "embedding", tbl, k = 3, corpusFp = fp))
    dropAll("graft_sc_ivf"); dropAll("graft_sc_ivfc")
    Similarity.publishIvfIndex(a, "vec_id", "embedding", "graft_sc_ivf",
      trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A")
    val pre = probe("graft_sc_ivf", "A")
    // crash point 1: after epoch allocation, before any data write
    Faults.failAt = "ivf.append.allocated"
    intercept[RuntimeException] {
      Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_sc_ivf", "AB")
    }
    Faults.failAt = null
    assert(probe("graft_sc_ivf", "A") === pre, "allocated-crash changed probe results")
    Similarity.assertIvfIndexConsistent(spark, "graft_sc_ivf", strict = true)
    // crash point 2: after the data write, before the meta commit — the
    // staged rows are IN `_assign` but must stay invisible
    Faults.failAt = "ivf.append.staged"
    intercept[RuntimeException] {
      Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_sc_ivf", "AB")
    }
    Faults.failAt = null
    def ivfCensus = census(Similarity.describeIvfIndex(spark, "graft_sc_ivf"), "graft_sc_ivf_assign")
    val rawAfterTear = ivfCensus._1 + ivfCensus._2
    assert(probe("graft_sc_ivf", "A") === pre, "staged-crash changed probe results")
    Similarity.assertIvfIndexConsistent(spark, "graft_sc_ivf", strict = true)
    // retry succeeds (orphans never block it) and matches an untorn control
    Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_sc_ivf", "AB")
    Similarity.publishIvfIndex(a, "vec_id", "embedding", "graft_sc_ivfc",
      trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A")
    Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_sc_ivfc", "AB")
    val healed = probe("graft_sc_ivf", "AB")
    assert(healed === probe("graft_sc_ivfc", "AB"), "retried index != untorn control")
    assert(healed !== pre)
    // compaction GCs the orphaned epoch rows and preserves the probe
    assert(ivfCensus._1 + ivfCensus._2 === rawAfterTear + b.count())
    Similarity.compactIvfIndex(spark, "graft_sc_ivf")
    assert(ivfCensus === ((all.count(), 0L)), "compaction did not GC the orphaned epoch")
    val eps = Similarity.IvfStore.storedMeta(spark, "graft_sc_ivf").eps
    assert(eps.size === 1, s"compaction left committed epochs $eps")
    assert(new java.io.File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      "graft_sc_ivf_assign").list().toSeq === Seq(s"ep-${eps.head}"))
    assert(probe("graft_sc_ivf", "AB") === healed)
    dropAll("graft_sc_ivf"); dropAll("graft_sc_ivfc")
  }

  test("PQ append: staged crash invisible, retry matches control, n_rows stays honest") {
    val all = vecs(64, 16, seed = 37)
    val a = all.where(col("vec_id") % 4 =!= 0)
    val b = all.where(col("vec_id") % 4 === 0)
    val q = all.where(col("vec_id") < 4)
    def probe(tbl: String, fp: String) = rowsOf(Similarity.probePqIndex(
      spark, q, "vec_id", "embedding", tbl, k = 3, nprobe = 2, corpusFp = fp))
    dropAll("graft_sc_pq"); dropAll("graft_sc_pqc")
    Similarity.publishPqIndex(a, "vec_id", "embedding", "graft_sc_pq",
      nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "A")
    val pre = probe("graft_sc_pq", "A")
    Faults.failAt = "pq.append.staged"
    intercept[RuntimeException] {
      Similarity.appendPqIndex(b, "vec_id", "embedding", "graft_sc_pq", "AB")
    }
    Faults.failAt = null
    assert(probe("graft_sc_pq", "A") === pre, "staged-crash changed probe results")
    // the strict audit (incl. the n_rows cross-check) passes over the torn
    // state: orphans are invisible and _meta.n_rows still counts A only
    Similarity.assertPqIndexConsistent(spark, "graft_sc_pq", strict = true)
    Similarity.appendPqIndex(b, "vec_id", "embedding", "graft_sc_pq", "AB")
    assert(Similarity.PqStore.storedMeta(spark, "graft_sc_pq").nRows === all.count())
    Similarity.publishPqIndex(a, "vec_id", "embedding", "graft_sc_pqc",
      nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "A")
    Similarity.appendPqIndex(b, "vec_id", "embedding", "graft_sc_pqc", "AB")
    val healed = probe("graft_sc_pq", "AB")
    assert(healed === probe("graft_sc_pqc", "AB"), "retried index != untorn control")
    Similarity.compactPqIndex(spark, "graft_sc_pq")
    assert(census(Similarity.describePqIndex(spark, "graft_sc_pq"), "graft_sc_pq_assign")
      === ((all.count(), 0L)), "compaction did not GC the orphaned epoch")
    assert(probe("graft_sc_pq", "AB") === healed)
    dropAll("graft_sc_pq"); dropAll("graft_sc_pqc")
  }

  test("LSH append: crash between/after data writes invisible; retry + compact heal") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy cat tonight",
      "pack my box with five dozen liquor jugs right now",
      "sphinx of black quartz judge my vow completely today",
      "how vexingly quick daft zebras jump over fences")
    val docs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 20L).map(i =>
        Row(i, texts((i % texts.size).toInt) + s" tail${i % 7}")): _*),
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
    val a = docs.where(col("doc_id") % 4 =!= 0)
    val b = docs.where(col("doc_id") % 4 === 0)
    val incoming = docs.where(col("doc_id") < 4)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(tbl: String, fp: String) = rowsOf(Dedup.probeLshIndex(
      spark, incoming, "doc_id", "text", tbl, threshold = 0.3, corpusFp = fp))
    dropAll("graft_sc_lsh"); dropAll("graft_sc_lshc")
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_sc_lsh",
      buckets = 2, corpusFp = "A")
    val pre = probe("graft_sc_lsh", "A")
    Faults.failAt = "lsh.append.staged"
    intercept[RuntimeException] {
      Dedup.appendLshIndex(b, "doc_id", "text", "graft_sc_lsh", "AB")
    }
    Faults.failAt = null
    assert(probe("graft_sc_lsh", "A") === pre, "staged-crash changed probe results")
    // both audit forms pass over the torn state — the orphaned epoch is
    // invisible, so the bands×docs relation holds on committed rows
    Dedup.assertLshIndexConsistent(spark, "graft_sc_lsh", strict = true)
    Dedup.appendLshIndex(b, "doc_id", "text", "graft_sc_lsh", "AB")
    Dedup.publishLshIndex(docs, "doc_id", "text", "graft_sc_lshc",
      buckets = 2, corpusFp = "AB")
    val healed = probe("graft_sc_lsh", "AB")
    // append(publish(A), B) is row-equal to publish(A ∪ B) for LSH (the
    // pipeline is per-doc deterministic) — the control is a fresh publish
    assert(healed === probe("graft_sc_lshc", "AB"), "retried index != fresh publish")
    assert(healed !== pre)
    def lshDocsCensus = census(Dedup.describeLshIndex(spark, "graft_sc_lsh"), "graft_sc_lsh_docs")
    val rawDocs = lshDocsCensus._1 + lshDocsCensus._2
    Dedup.compactLshIndex(spark, "graft_sc_lsh")
    assert(lshDocsCensus._1 + lshDocsCensus._2 < rawDocs,
      "compaction did not GC the orphaned epoch")
    assert(probe("graft_sc_lsh", "AB") === healed)
    dropAll("graft_sc_lsh"); dropAll("graft_sc_lshc")
  }

  // -------- shared LSH fixture for the r15 commit/race/compact proofs --------
  private def lshDocs: DataFrame = {
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

  test("LSH append: a kill INSIDE the meta COMMIT swap leaves old-or-new meta fully readable (r14 verdict #1)") {
    val docs = lshDocs
    val a = docs.where(col("doc_id") % 4 =!= 0)
    val b = docs.where(col("doc_id") % 4 === 0)
    val incoming = docs.where(col("doc_id") < 4)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(tbl: String, fp: String) = rowsOf(Dedup.probeLshIndex(
      spark, incoming, "doc_id", "text", tbl, threshold = 0.3, corpusFp = fp))
    // untorn control: append(publish(A), B) == publish(A ∪ B) for LSH
    dropAll("graft_cm_ctl")
    Dedup.publishLshIndex(docs, "doc_id", "text", "graft_cm_ctl",
      buckets = 2, corpusFp = "AB")
    val post = probe("graft_cm_ctl", "AB")
    // window semantics: a kill BEFORE the staged meta is renamed in rolls
    // the commit back (probe == pre-append, retry succeeds); a kill AFTER
    // means the commit happened (probe == post-append, retry refuses dups)
    for ((point, committed) <- Seq(
        ("lsh.append.commit.staged", false),
        ("lsh.append.commit.aside", false),
        ("lsh.append.commit.renamed", true))) {
      dropAll("graft_cm_lsh")
      Dedup.publishLshIndex(a, "doc_id", "text", "graft_cm_lsh",
        buckets = 2, corpusFp = "A")
      val pre = probe("graft_cm_lsh", "A")
      Faults.failAt = point
      intercept[RuntimeException] {
        Dedup.appendLshIndex(b, "doc_id", "text", "graft_cm_lsh", "AB")
      }
      Faults.failAt = null
      if (!committed) {
        // old meta readable (self-healed on open): pre-append visibility
        assert(probe("graft_cm_lsh", "A") === pre, s"$point: rolled-back commit not at pre state")
        Dedup.assertLshIndexConsistent(spark, "graft_cm_lsh", strict = true)
        // and the append is retryable to the untorn result
        Dedup.appendLshIndex(b, "doc_id", "text", "graft_cm_lsh", "AB")
        assert(probe("graft_cm_lsh", "AB") === post, s"$point: retry != untorn control")
      } else {
        // new meta readable: the commit fully happened — probe sees the
        // batch, a blind retry refuses the duplicate ids
        assert(probe("graft_cm_lsh", "AB") === post, s"$point: committed state != untorn control")
        Dedup.assertLshIndexConsistent(spark, "graft_cm_lsh", strict = true)
        intercept[IllegalArgumentException] {
          Dedup.appendLshIndex(b, "doc_id", "text", "graft_cm_lsh", "AB")
        }
      }
    }
    dropAll("graft_cm_lsh"); dropAll("graft_cm_ctl")
  }

  test("IVF/PQ append: kill inside the meta COMMIT swap (worst window: live renamed aside) heals to pre-append; retry matches control") {
    val all = vecs(60, 8, seed = 41)
    val a = all.where(col("vec_id") % 5 =!= 0)
    val b = all.where(col("vec_id") % 5 === 0)
    val q = all.where(col("vec_id") < 3)
    // IVF
    def iprobe(tbl: String, fp: String) = rowsOf(Similarity.probeIvfIndex(
      spark, q, "vec_id", "embedding", tbl, k = 3, corpusFp = fp))
    dropAll("graft_cm_ivf"); dropAll("graft_cm_ivfc")
    Similarity.publishIvfIndex(a, "vec_id", "embedding", "graft_cm_ivf",
      trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A")
    val ipre = iprobe("graft_cm_ivf", "A")
    Faults.failAt = "ivf.append.commit.aside"
    intercept[RuntimeException] {
      Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_cm_ivf", "AB")
    }
    Faults.failAt = null
    assert(iprobe("graft_cm_ivf", "A") === ipre, "IVF aside-kill not healed to pre state")
    Similarity.assertIvfIndexConsistent(spark, "graft_cm_ivf", strict = true)
    Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_cm_ivf", "AB")
    Similarity.publishIvfIndex(a, "vec_id", "embedding", "graft_cm_ivfc",
      trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A")
    Similarity.appendIvfIndex(b, "vec_id", "embedding", "graft_cm_ivfc", "AB")
    assert(iprobe("graft_cm_ivf", "AB") === iprobe("graft_cm_ivfc", "AB"),
      "IVF retry after commit kill != untorn control")
    dropAll("graft_cm_ivf"); dropAll("graft_cm_ivfc")
    // PQ
    val allp = vecs(64, 16, seed = 43)
    val ap = allp.where(col("vec_id") % 4 =!= 0)
    val bp = allp.where(col("vec_id") % 4 === 0)
    val qp = allp.where(col("vec_id") < 4)
    def pprobe(tbl: String, fp: String) = rowsOf(Similarity.probePqIndex(
      spark, qp, "vec_id", "embedding", tbl, k = 3, nprobe = 2, corpusFp = fp))
    dropAll("graft_cm_pq"); dropAll("graft_cm_pqc")
    Similarity.publishPqIndex(ap, "vec_id", "embedding", "graft_cm_pq",
      nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "A")
    val ppre = pprobe("graft_cm_pq", "A")
    Faults.failAt = "pq.append.commit.aside"
    intercept[RuntimeException] {
      Similarity.appendPqIndex(bp, "vec_id", "embedding", "graft_cm_pq", "AB")
    }
    Faults.failAt = null
    assert(pprobe("graft_cm_pq", "A") === ppre, "PQ aside-kill not healed to pre state")
    Similarity.assertPqIndexConsistent(spark, "graft_cm_pq", strict = true)
    Similarity.appendPqIndex(bp, "vec_id", "embedding", "graft_cm_pq", "AB")
    Similarity.publishPqIndex(ap, "vec_id", "embedding", "graft_cm_pqc",
      nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "A")
    Similarity.appendPqIndex(bp, "vec_id", "embedding", "graft_cm_pqc", "AB")
    assert(pprobe("graft_cm_pq", "AB") === pprobe("graft_cm_pqc", "AB"),
      "PQ retry after commit kill != untorn control")
    dropAll("graft_cm_pq"); dropAll("graft_cm_pqc")
  }

  test("LSH append: interleaved appends — the loser aborts loudly, the winner's commit is the index state (r14 verdict #2)") {
    // the advisory lease would make the racer WAIT for the victim instead
    // of reaching the allocator; this spec proves the in-protocol GUARDS
    // (the correctness backstop behind the lease), so bypass the lease —
    // LeaseSpec covers the lease's own wait/takeover/timeout contract.
    // try/finally: a mid-test failure must not leave the suite's later
    // tests (and their lease coverage) running with the lease disabled
    spark.conf.set("spark.graft.lease.enabled", "false")
    try {
    val docs = lshDocs
    val a = docs.where(col("doc_id") % 4 === 1)
    val b = docs.where(col("doc_id") % 4 === 2)  // victim's batch
    val b2 = docs.where(col("doc_id") % 4 === 3) // racing writer's batch
    val incoming = docs.where(col("doc_id") < 8)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(tbl: String, fp: String) = rowsOf(Dedup.probeLshIndex(
      spark, incoming, "doc_id", "text", tbl, threshold = 0.3, corpusFp = fp))
    // controls: A+B2 (winner only) and A+B2+B (victim retried after losing)
    dropAll("graft_rc_c1"); dropAll("graft_rc_c2")
    Dedup.publishLshIndex(a.unionByName(b2), "doc_id", "text", "graft_rc_c1",
      buckets = 2, corpusFp = "AB2")
    Dedup.publishLshIndex(a.unionByName(b2).unionByName(b), "doc_id", "text",
      "graft_rc_c2", buckets = 2, corpusFp = "AB2B")
    val winnerOnly = probe("graft_rc_c1", "AB2")
    val both = probe("graft_rc_c2", "AB2B")

    // CASE 1: racer allocates between the victim's ALLOCATE and its stage
    // writes — the victim's post-allocate guard aborts BEFORE staging
    dropAll("graft_rc_lsh")
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_rc_lsh", buckets = 2, corpusFp = "A")
    Faults.actAt = "lsh.append.allocated"
    Faults.action = () =>
      Dedup.appendLshIndex(b2, "doc_id", "text", "graft_rc_lsh", "AB2")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.appendLshIndex(b, "doc_id", "text", "graft_rc_lsh", "AB")
    }
    assert(e1.getMessage.contains("allocator collision"), s"wrong abort: ${e1.getMessage}")
    assert(probe("graft_rc_lsh", "AB2") === winnerOnly,
      "loser's abort disturbed the winner's committed state")
    Dedup.assertLshIndexConsistent(spark, "graft_rc_lsh", strict = true)

    // CASE 2: racer runs fully while the victim has STAGED but not yet
    // committed — the victim's pre-commit guard aborts; a blind victim
    // commit would have silently dropped the racer's epoch from eps
    dropAll("graft_rc_lsh")
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_rc_lsh", buckets = 2, corpusFp = "A")
    Faults.actAt = "lsh.append.staged"
    Faults.action = () =>
      Dedup.appendLshIndex(b2, "doc_id", "text", "graft_rc_lsh", "AB2")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendLshIndex(b, "doc_id", "text", "graft_rc_lsh", "AB")
    }
    assert(e2.getMessage.contains("lost an append race"), s"wrong abort: ${e2.getMessage}")
    assert(probe("graft_rc_lsh", "AB2") === winnerOnly,
      "loser's staged rows leaked into visibility")
    Dedup.assertLshIndexConsistent(spark, "graft_rc_lsh", strict = true)
    // liveness: the loser retries cleanly once the winner is done
    Dedup.appendLshIndex(b, "doc_id", "text", "graft_rc_lsh", "AB2B")
    assert(probe("graft_rc_lsh", "AB2B") === both, "loser's retry != sequential control")
    dropAll("graft_rc_lsh"); dropAll("graft_rc_c1"); dropAll("graft_rc_c2")
    } finally spark.conf.set("spark.graft.lease.enabled", "true")
  }

  test("LSH compact: probes at every crash point read the pre-compaction rows") {
    val docs = lshDocs
    val a = docs.where(col("doc_id") % 4 =!= 0)
    val b = docs.where(col("doc_id") % 4 === 0)
    val incoming = docs.where(col("doc_id") < 4)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(fp: String) = rowsOf(Dedup.probeLshIndex(
      spark, incoming, "doc_id", "text", "graft_tc_lsh", threshold = 0.3, corpusFp = fp))
    dropAll("graft_tc_lsh")
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_tc_lsh", buckets = 2, corpusFp = "A")
    Dedup.appendLshIndex(b, "doc_id", "text", "graft_tc_lsh", "AB")
    val pre = probe("AB")
    for (point <- Seq(
        "lsh.compact.commit.staged",    // rewritten epoch complete, live meta untouched
        "lsh.compact.commit.aside",     // worst window: live meta renamed away
        "lsh.compact.commit.renamed")) { // new meta in, superseded epochs not yet swept
      // a probe racing the writer AT the crash point, then the writer dies there
      var mid: Option[Set[Seq[Any]]] = None
      Faults.actAt = point
      Faults.action = () => mid = Some(probe("AB"))
      Faults.failAt = point
      try intercept[RuntimeException] { Dedup.compactLshIndex(spark, "graft_tc_lsh") }
      finally { Faults.failAt = null; Faults.actAt = null; Faults.action = null }
      assert(mid === Some(pre), s"$point: a probe at the crash point != pre")
      assert(probe("AB") === pre, s"$point: probe after torn compact != pre")
      // the retry completes the compaction on whatever the tear left
      Dedup.compactLshIndex(spark, "graft_tc_lsh")
      assert(probe("AB") === pre, s"$point: probe after the retried compact != pre")
      Dedup.assertLshIndexConsistent(spark, "graft_tc_lsh", strict = true)
    }
    dropAll("graft_tc_lsh")
  }

  test("describeIndex: orphan/small-file census reads right before and after compaction GC") {
    // (table, rows_committed, rows_orphan, orphan_epochs, committed_epochs, files)
    def byTable(df: DataFrame): Map[String, Row] =
      df.collect().map(r => r.getString(0) -> r).toMap
    // LSH: publish, tear an append mid-stage → the report shows the orphan
    val docs = lshDocs
    val a = docs.where(col("doc_id") % 4 =!= 0)
    val b = docs.where(col("doc_id") % 4 === 0)
    dropAll("graft_dx_lsh")
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_dx_lsh", buckets = 2, corpusFp = "A")
    Faults.failAt = "lsh.append.staged"
    intercept[RuntimeException] {
      Dedup.appendLshIndex(b, "doc_id", "text", "graft_dx_lsh", "AB")
    }
    Faults.failAt = null
    val rep = byTable(Dedup.describeLshIndex(spark, "graft_dx_lsh"))
    for (t <- Seq("graft_dx_lsh_buckets", "graft_dx_lsh_docs")) {
      assert(rep(t).getLong(1) > 0, s"$t: committed rows missing")
      assert(rep(t).getLong(2) > 0, s"$t: torn-append orphan rows not reported")
      assert(rep(t).getLong(3) === 1L, s"$t: exactly one orphan epoch expected")
      assert(rep(t).getLong(4) === 1L, s"$t: committed epochs should be [0]")
    }
    val filesBefore = rep("graft_dx_lsh_buckets").getLong(5)
    Dedup.compactLshIndex(spark, "graft_dx_lsh")
    val rep2 = byTable(Dedup.describeLshIndex(spark, "graft_dx_lsh"))
    assert(rep2.values.forall(_.getLong(2) === 0L), "compaction left orphan rows")
    for (t <- Seq("graft_dx_lsh_buckets", "graft_dx_lsh_docs"))
      assert(rep2(t).getLong(5) === 2L,
        s"$t: compaction should leave one file per bucket (buckets had $filesBefore)")
    dropAll("graft_dx_lsh")
    // IVF: same story over the inverted lists
    val all = vecs(60, 8, seed = 47)
    val va = all.where(col("vec_id") % 5 =!= 0)
    val vb = all.where(col("vec_id") % 5 === 0)
    dropAll("graft_dx_ivf")
    Similarity.publishIvfIndex(va, "vec_id", "embedding", "graft_dx_ivf",
      trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A")
    Faults.failAt = "ivf.append.staged"
    intercept[RuntimeException] {
      Similarity.appendIvfIndex(vb, "vec_id", "embedding", "graft_dx_ivf", "AB")
    }
    Faults.failAt = null
    val irep = byTable(Similarity.describeIvfIndex(spark, "graft_dx_ivf"))
    assert(irep("graft_dx_ivf_assign").getLong(2) === vb.count(),
      "IVF orphan rows must equal the torn batch size")
    Similarity.compactIvfIndex(spark, "graft_dx_ivf")
    val irep2 = byTable(Similarity.describeIvfIndex(spark, "graft_dx_ivf"))
    assert(irep2("graft_dx_ivf_assign").getLong(2) === 0L, "compaction left IVF orphans")
    assert(irep2("graft_dx_ivf_assign").getLong(1) === va.count(),
      "committed rows must be exactly the published corpus")
    dropAll("graft_dx_ivf")
  }

  test("LSH append: a batch that fails inside the duplicate check leaves no job running and the lease free") {
    val docs = lshDocs
    val a = docs.where(col("doc_id") % 4 =!= 0)
    val b = docs.where(col("doc_id") % 4 === 0)
    val incoming = docs.where(col("doc_id") < 4)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(tbl: String, fp: String) = rowsOf(Dedup.probeLshIndex(
      spark, incoming, "doc_id", "text", tbl, threshold = 0.3, corpusFp = fp))
    dropAll("graft_af_lsh"); dropAll("graft_af_ctl")
    Dedup.publishLshIndex(a, "doc_id", "text", "graft_af_lsh", buckets = 2, corpusFp = "A")
    // `text` fails inside the batch's shingling job, which the duplicate
    // check runs while ALLOCATE's meta write is in flight beside it
    val boom = udf((id: Long) =>
      if (id >= 0) throw new IllegalStateException(s"text udf failed on $id") else "")
    val bad = spark.range(5000L, 5004L)
      .select(col("id").as("doc_id"), boom(col("id")).as("text"))
    val e = intercept[Exception] {
      Dedup.appendLshIndex(bad, "doc_id", "text", "graft_af_lsh", "AX")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("text udf failed")), s"wrong failure: $e")
    org.apache.spark.GraftTaskMetrics.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a job of the failed append was still running after it threw")
    val lease = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_af_lsh__lease")
    assert(!lease.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lease),
      "the failed append left its maintenance lease behind")
    Dedup.appendLshIndex(b, "doc_id", "text", "graft_af_lsh", "AB")
    Dedup.publishLshIndex(docs, "doc_id", "text", "graft_af_ctl", buckets = 2, corpusFp = "AB")
    assert(probe("graft_af_lsh", "AB") === probe("graft_af_ctl", "AB"),
      "append after the failed one != fresh publish")
    Dedup.assertLshIndexConsistent(spark, "graft_af_lsh", strict = true)
    dropAll("graft_af_lsh"); dropAll("graft_af_ctl")
  }
}
