package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.sources.{Bucketing, Faults}

/** CRASH-POINT × RECOVERY SWEEP (r16 verdict #4): RecoverySpec proves
  * recovery after catalog loss; this suite makes "idempotent and
  * crash-retryable" a PROVEN PROPERTY by sweeping EVERY named
  * [[graft.sources.Faults]] crash point in the index-maintenance protocols
  * — `{lsh,ivf,pq}.append.{allocated,staged}` and the three in-swap windows
  * of each append COMMIT and each compaction COMMIT — through the SAME
  * certification per cell:
  *
  *   tear at the point → lose the catalog (the JVM-restart state: every
  *   index directory renamed aside and back by
  *   [[Bucketing.simulateCatalogLoss]]) → `recover*Index` → the probe
  *   answers either the exact OLD state or the exact NEW state (never a
  *   half-state), the stored fingerprint names which → the retry (the
  *   documented repair) drives the index to the untorn sequential
  *   control's probe, row for row.
  *
  * Compactions never change visible rows, so their cells assert probe ==
  * pre-compact at every window plus a completed retry. The controls are
  * publish(A) → append(B) run untorn on a twin table (same training /
  * hash family — the comparison StagedAppendSpec already certifies). */
class CrashSweepSpec extends SparkSpecBase {

  // RecoverySpec (sequential in the same forked JVM) restarts the context;
  // never hold a cached session — re-fetch per use
  private def s: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = {
    Faults.failAt = null; Faults.actAt = null; Faults.action = null
    super.afterAll()
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

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

  /** One index family's maintenance surface, as the sweep drives it. */
  private case class Family(
      name: String,
      suffixes: Seq[String],
      publishA: String => Unit,
      appendB: (String, String) => Unit,
      compact: String => Unit,
      recover: String => Unit,
      probe: (String, String) => Set[Seq[Any]],
      appendPoints: Seq[String],
      compactPoints: Seq[String])

  private def mkFamily(name: String): Family = name match {
    case "lsh" =>
      val docs = lshDocs
      val a = docs.where(col("doc_id") % 4 =!= 0)
      val b = docs.where(col("doc_id") % 4 === 0)
      val q = docs.where(col("doc_id") < 4)
        .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      Family("lsh", Seq("_buckets", "_docs", "_meta"),
        t => Dedup.publishLshIndex(a, "doc_id", "text", t, buckets = 2, corpusFp = "A"),
        (t, fp) => Dedup.appendLshIndex(b, "doc_id", "text", t, fp),
        t => Dedup.compactLshIndex(s, t),
        t => Dedup.recoverLshIndex(s, t),
        (t, fp) => rowsOf(Dedup.probeLshIndex(s, q, "doc_id", "text", t,
          threshold = 0.3, corpusFp = fp)),
        Seq("allocated", "staged", "commit.staged", "commit.aside",
          "commit.renamed").map(w => s"lsh.append.$w"),
        Seq("lsh.compact.commit.staged", "lsh.compact.commit.aside",
          "lsh.compact.commit.renamed"))
    case "ivf" =>
      val vv = vecs(64, 16, seed = 31)
      val a = vv.where(col("vec_id") % 4 =!= 0)
      val b = vv.where(col("vec_id") % 4 === 0)
      val q = vv.where(col("vec_id") < 3)
      Family("ivf", Seq("_assign", "_cents", "_meta"),
        t => Similarity.publishIvfIndex(a, "vec_id", "embedding", t,
          trainRows = 24, nlist = 4, buckets = 2, corpusFp = "A"),
        (t, fp) => Similarity.appendIvfIndex(b, "vec_id", "embedding", t, fp),
        t => Similarity.compactIvfIndex(s, t),
        t => Similarity.recoverIvfIndex(s, t),
        (t, fp) => rowsOf(Similarity.probeIvfIndex(s, q, "vec_id", "embedding",
          t, k = 3, corpusFp = fp)),
        Seq("allocated", "staged", "commit.staged", "commit.aside",
          "commit.renamed").map(w => s"ivf.append.$w"),
        Seq("ivf.compact.commit.staged", "ivf.compact.commit.aside",
          "ivf.compact.commit.renamed"))
    case "pq" =>
      val vv = vecs(64, 16, seed = 31)
      val a = vv.where(col("vec_id") % 4 =!= 0)
      val b = vv.where(col("vec_id") % 4 === 0)
      val q = vv.where(col("vec_id") < 3)
      Family("pq", Seq("_assign", "_cents", "_books", "_meta"),
        t => Similarity.publishPqIndex(a, "vec_id", "embedding", t,
          nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "A"),
        (t, fp) => Similarity.appendPqIndex(b, "vec_id", "embedding", t, fp),
        t => Similarity.compactPqIndex(s, t),
        t => Similarity.recoverPqIndex(s, t),
        (t, fp) => rowsOf(Similarity.probePqIndex(s, q, "vec_id", "embedding",
          t, k = 3, nprobe = 2, corpusFp = fp)),
        Seq("allocated", "staged", "commit.staged", "commit.aside",
          "commit.renamed").map(w => s"pq.append.$w"),
        Seq("pq.compact.commit.staged", "pq.compact.commit.aside",
          "pq.compact.commit.renamed"))
  }

  private def storedFp(table: String): String =
    if (table.startsWith("graft_cw_lsh")) Dedup.LshStore.storedMeta(s, table).corpusFp
    else if (table.startsWith("graft_cw_ivf")) Similarity.IvfStore.storedMeta(s, table).corpusFp
    else Similarity.PqStore.storedMeta(s, table).corpusFp

  /** The restart state, applied to whatever survived the tear: every
    * directory of the index (meta and data tables) goes through
    * [[Bucketing.simulateCatalogLoss]]. */
  private def loseCatalog(prefix: String, suffixes: Seq[String]): Unit =
    suffixes.foreach(x => Bucketing.simulateCatalogLoss(s, prefix + x))

  Seq("lsh", "ivf", "pq").foreach { famName =>
    test(s"crash sweep [$famName]: every maintenance crash point × catalog loss × recover — probe is old-or-new, the retry reaches the untorn control") {
      val fam = mkFamily(famName)
      val ctl = s"graft_cw_${fam.name}_ctl"
      val idx = s"graft_cw_${fam.name}_idx"
      dropIndex(ctl)
      fam.publishA(ctl)
      val preProbe = fam.probe(ctl, "A")
      fam.appendB(ctl, "AB")
      val postProbe = fam.probe(ctl, "AB")
      assert(preProbe.nonEmpty && postProbe.nonEmpty && preProbe != postProbe,
        "fixture too weak to distinguish the old state from the new")

      for (point <- fam.appendPoints) {
        dropIndex(idx)
        fam.publishA(idx)
        Faults.failAt = point
        try {
          val e = intercept[RuntimeException] { fam.appendB(idx, "AB") }
          assert(e.getMessage.contains("injected fault"),
            s"$point: wrong failure: ${e.getMessage}")
        } finally Faults.failAt = null
        loseCatalog(idx, fam.suffixes)
        fam.recover(idx)
        val fp = storedFp(idx)
        assert(fp == "A" || fp == "AB",
          s"$point: recovered fp '$fp' is neither the old nor the new state")
        val got = fam.probe(idx, fp)
        if (fp == "A") {
          assert(got === preProbe, s"$point: recovered old-state probe != pre-append")
          fam.appendB(idx, "AB") // the retry IS the repair
        } else
          assert(got === postProbe, s"$point: recovered new-state probe != committed append")
        assert(fam.probe(idx, "AB") === postProbe,
          s"$point: final state != untorn sequential control")
      }

      for (point <- fam.compactPoints) {
        dropIndex(idx)
        fam.publishA(idx)
        fam.appendB(idx, "AB")
        Faults.failAt = point
        try {
          val e = intercept[RuntimeException] { fam.compact(idx) }
          assert(e.getMessage.contains("injected fault"),
            s"$point: wrong failure: ${e.getMessage}")
        } finally Faults.failAt = null
        loseCatalog(idx, fam.suffixes)
        fam.recover(idx)
        assert(storedFp(idx) === "AB",
          s"$point: compaction must never change the corpus fingerprint")
        assert(fam.probe(idx, "AB") === postProbe,
          s"$point: probe after a recovered torn compact != pre-compact rows")
        fam.compact(idx) // retry completes on the recovered index
        assert(fam.probe(idx, "AB") === postProbe,
          s"$point: probe after the retried compact changed rows")
      }
      dropIndex(idx)
      dropIndex(ctl)
    }
  }
}
