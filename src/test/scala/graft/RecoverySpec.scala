package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.sources.{Bucketing, Faults}

/** CROSS-SESSION index recovery (r15 verdict #1) — the last durability
  * seam: with the default in-memory catalog a JVM restart loses every
  * catalog entry, while the warehouse directories survive intact. A stored
  * LSH/IVF/PQ index has no catalog entry to lose: its `_meta` file names
  * the epoch directories it reads, so a probe in the fresh session already
  * answers the pre-restart probe row-for-row, and `recover*Index` certifies
  * the surviving index (fingerprint, layout, strict audit) without
  * rewriting it.
  *
  * The first test performs a GENUINE restart: it stops the SparkContext
  * and builds a fresh session (fresh in-memory catalog) over the same
  * warehouse dir — exactly the post-crash state. [[SparkSpecBase.session]]
  * rebuilds after a stop, and suites run sequentially in the forked test
  * JVM, so the restart is invisible to every other suite. The remaining
  * tests reproduce the restart state per-table via
  * [[graft.sources.Bucketing.simulateCatalogLoss]] (directory kept,
  * entry erased) — the same mechanism the q319 oracle query uses inside
  * the single Verify session. */
class RecoverySpec extends SparkSpecBase {

  // this suite restarts the context — never hold the trait's cached
  // session; re-fetch on every use
  private def s: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = {
    Faults.failAt = null; Faults.actAt = null; Faults.action = null
    super.afterAll()
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def dropAll(prefix: String): Unit =
    dropIndex(prefix)

  // -------- fixtures (built fresh against the CURRENT session) --------
  private def lshDocs: DataFrame = {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy cat tonight",
      "pack my box with five dozen liquor jugs right now",
      "sphinx of black quartz judge my vow completely today",
      "how vexingly quick daft zebras jump over fences")
    s.createDataFrame(
      java.util.Arrays.asList((0L until 20L).map(i =>
        Row(i, texts((i % texts.size).toInt) + s" tail${i % 7}")): _*),
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
  }

  private def vecs(n: Int, dims: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    s.createDataFrame(
      java.util.Arrays.asList((0L until n.toLong).map(i =>
        Row(i, Seq.fill(dims)(rnd.nextFloat()))): _*),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = false))))
  }

  private def lshProbe(tbl: String, fp: String): Set[Seq[Any]] = {
    val docs = lshDocs
    val incoming = docs.where(col("doc_id") < 4)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    rowsOf(Dedup.probeLshIndex(s, incoming, "doc_id", "text", tbl,
      threshold = 0.3, corpusFp = fp))
  }

  private def ivfProbe(tbl: String, fp: String): Set[Seq[Any]] = {
    val q = vecs(60, 8, seed = 31).where(col("vec_id") < 3)
    rowsOf(Similarity.probeIvfIndex(s, q, "vec_id", "embedding", tbl, k = 3,
      corpusFp = fp))
  }

  private def pqProbe(tbl: String, fp: String): Set[Seq[Any]] = {
    val q = vecs(60, 8, seed = 31).where(col("vec_id") < 3)
    rowsOf(Similarity.probePqIndex(s, q, "vec_id", "embedding", tbl, k = 3,
      corpusFp = fp))
  }

  test("GENUINE restart: publish LSH+IVF+PQ, stop the SparkContext, recover all three in a fresh session — probes match, maintenance still works") {
    Seq("graft_rec_lsh", "graft_rec_ivf", "graft_rec_pq", "graft_rec_ctl")
      .foreach(dropAll)
    // LSH with a real append so the recovered index is multi-epoch
    val docs = lshDocs
    Dedup.publishLshIndex(docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text",
      "graft_rec_lsh", buckets = 2, corpusFp = "A")
    Dedup.appendLshIndex(docs.where(col("doc_id") % 4 === 0), "doc_id", "text",
      "graft_rec_lsh", newCorpusFp = "AB")
    val vv = vecs(60, 8, seed = 31)
    Similarity.publishIvfIndex(vv, "vec_id", "embedding", "graft_rec_ivf",
      trainRows = 24, nlist = 4, buckets = 2, corpusFp = "V")
    Similarity.publishPqIndex(vv, "vec_id", "embedding", "graft_rec_pq",
      nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "V")
    val (preLsh, preIvf, prePq) =
      (lshProbe("graft_rec_lsh", "AB"), ivfProbe("graft_rec_ivf", "V"),
        pqProbe("graft_rec_pq", "V"))
    assert(preLsh.nonEmpty && preIvf.nonEmpty && prePq.nonEmpty)

    // ---- THE RESTART: kill the context; the next session is a fresh
    //      JVM-equivalent (fresh in-memory catalog, same warehouse) ----
    val old = s
    old.stop()
    assert(s ne old, "session did not rebuild after stop")
    assert(!s.catalog.tableExists("graft_rec_lsh_meta"),
      "fresh session still sees the old catalog — not a real restart")
    // the meta owns the index: a probe before any recover already answers
    assert(lshProbe("graft_rec_lsh", "AB") === preLsh, "LSH probe changed across restart")

    Dedup.recoverLshIndex(s, "graft_rec_lsh", expectedCorpusFp = "AB")
    Similarity.recoverIvfIndex(s, "graft_rec_ivf", expectedCorpusFp = "V")
    Similarity.recoverPqIndex(s, "graft_rec_pq", expectedCorpusFp = "V")

    assert(lshProbe("graft_rec_lsh", "AB") === preLsh, "LSH probe changed across restart")
    assert(ivfProbe("graft_rec_ivf", "V") === preIvf, "IVF probe changed across restart")
    assert(pqProbe("graft_rec_pq", "V") === prePq, "PQ probe changed across restart")

    // recovery registers nothing in the catalog
    assert(!s.catalog.tableExists("graft_rec_lsh_buckets"))

    // post-recovery MAINTENANCE: append + compact on the recovered index
    // behave exactly as pre-restart
    val batchC = lshDocs.where(col("doc_id") < 4)
      .select((col("doc_id") + 2000L).as("doc_id"), col("text"))
    Dedup.appendLshIndex(batchC, "doc_id", "text", "graft_rec_lsh",
      newCorpusFp = "ABC")
    Dedup.compactLshIndex(s, "graft_rec_lsh")
    val healed = lshProbe("graft_rec_lsh", "ABC")
    // control: a fresh publish over the same final corpus probes identically
    Dedup.publishLshIndex(
      lshDocs.unionByName(batchC), "doc_id", "text", "graft_rec_ctl",
      buckets = 2, corpusFp = "ABC")
    assert(healed === lshProbe("graft_rec_ctl", "ABC"),
      "post-recovery maintenance drifted from a fresh publish")
    Seq("graft_rec_lsh", "graft_rec_ivf", "graft_rec_pq", "graft_rec_ctl")
      .foreach(dropAll)
  }

  test("simulateCatalogLoss reproduces the restart state in-session (the q319 oracle mechanism)") {
    dropAll("graft_rs_lsh")
    val docs = lshDocs
    Dedup.publishLshIndex(docs, "doc_id", "text", "graft_rs_lsh",
      buckets = 2, corpusFp = "AB")
    val pre = lshProbe("graft_rs_lsh", "AB")
    Seq("_buckets", "_docs", "_meta").foreach(x =>
      Bucketing.simulateCatalogLoss(s, s"graft_rs_lsh$x"))
    assert(!s.catalog.tableExists("graft_rs_lsh_meta"))
    Dedup.recoverLshIndex(s, "graft_rs_lsh", expectedCorpusFp = "AB")
    assert(lshProbe("graft_rs_lsh", "AB") === pre)
    dropAll("graft_rs_lsh")
  }

  test("recovery refuses a fingerprint mismatch and a wrong-family layout") {
    dropAll("graft_rf_lsh")
    Dedup.publishLshIndex(lshDocs, "doc_id", "text", "graft_rf_lsh",
      buckets = 2, corpusFp = "AB")
    Seq("_buckets", "_docs", "_meta").foreach(x =>
      Bucketing.simulateCatalogLoss(s, s"graft_rf_lsh$x"))
    val e = intercept[IllegalArgumentException] {
      Dedup.recoverLshIndex(s, "graft_rf_lsh", expectedCorpusFp = "WRONG")
    }
    assert(e.getMessage.contains("published over corpus"))
    // an LSH directory recovered under the IVF family must abort on the
    // stored layout, not silently re-register under the wrong bucket spec
    val e2 = intercept[Exception] {
      Similarity.recoverIvfIndex(s, "graft_rf_lsh")
    }
    // the meta schemas differ (shingle_n vs dims leading column), so either
    // the layout check or the meta read fails — both are loud refusals
    assert(e2 != null)
    dropAll("graft_rf_lsh")
  }
}
