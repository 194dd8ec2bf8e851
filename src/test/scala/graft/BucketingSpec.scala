package graft

import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** Bucketed tables must join without a shuffle exchange on either side —
  * the co-location contract that amortizes the big-join shuffle at scale. */
class BucketingSpec extends SparkSpecBase {

  import spark.implicits._

  test("bucketed join plans no ShuffleExchange") {
    val left = (1 to 1000).map(i => (i.toLong, s"l$i")).toDF("id", "l")
    val right = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "r")
    Bucketing.saveBucketed(left, "bspec_left", "id", 4)
    Bucketing.saveBucketed(right, "bspec_right", "id", 4)
    val joined = Bucketing.bucketedJoin(spark, "bspec_left", "bspec_right", "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"expected exchange-free bucketed join:\n$plan")
    assert(joined.count() === 1000)
    // correctness: same result as a plain join
    val plain = left.join(right, Seq("id")).agg(sum(col("r"))).head.getDouble(0)
    val bucketed = joined.agg(sum(col("r"))).head.getDouble(0)
    assert(plain === bucketed)
  }

  test("stored LSH probe: docs table scans bucketed over both epochs, unshuffled") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Dedup
    val docs = (0L until 40L).map(i =>
      (i, s"tok${i % 5} alpha beta gamma delta tok${i % 3} epsilon zeta")).toDF("doc_id", "text")
    Dedup.publishLshIndex(docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text",
      "bspec_lsh", buckets = 4, corpusFp = "A")
    Dedup.appendLshIndex(docs.where(col("doc_id") % 4 === 0), "doc_id", "text", "bspec_lsh", "AB")
    // the static plan, sort-merge joined (no broadcast, no adaptive rewrite)
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val probe = Dedup.probeLshIndex(spark, docs.where(col("doc_id") < 6)
        .select((col("doc_id") + 100L).as("doc_id"), col("text")), "doc_id", "text",
        "bspec_lsh", corpusFp = "AB")
      assert(probe.count() > 0)
      val plan = probe.queryExecution.executedPlan
      def scansOf(p: SparkPlan, table: String) = p.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
      }
      // both committed epochs feed one relation per table
      for (t <- Seq("bspec_lsh_buckets", "bspec_lsh_docs")) {
        val scans = scansOf(plan, t)
        assert(scans.size === 1 && scans.head.relation.location.rootPaths.size === 2,
          s"expected one scan of both epochs of $t:\n$plan")
      }
      // the verify join is on the docs table's bucket key: its scan stays
      // bucketed and nothing re-shuffles it (the band join keys on
      // (band, bk) against a table bucketed by bk alone, so that side is
      // shuffled, as it was when the tables were catalog tables)
      assert(scansOf(plan, "bspec_lsh_docs").head.bucketedScan,
        s"the docs table scan is not bucketed:\n$plan")
      val shuffled = plan.collect { case e: ShuffleExchangeExec => e.child }
        .flatMap(scansOf(_, "bspec_lsh_docs"))
      assert(shuffled.isEmpty, s"the stored docs table was re-shuffled:\n$plan")
      assert(plan.toString.contains("Bucketed: true"), plan.toString)
    } finally {
      prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      dropIndex("bspec_lsh")
    }
  }
}
