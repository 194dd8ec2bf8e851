package graft

/** Physical-plan quality audit over every `SparkEntry` query: counts the
  * plan features that decide 100 TB behavior (exchanges, broadcast vs
  * sort-merge joins, whole-stage-codegen spans, parquet pushdown) and flags
  * the shapes that do NOT scale (a global single-partition window over
  * non-aggregated input, a cartesian product outside the documented O(n²)
  * baselines). Run: `sbt "runMain graft.PlanAudit [sfDir]"` — one line per
  * query, `!!` prefix on flags. PLANS.md holds a checked-in snapshot. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession.builder(8)
      // AQE wraps the whole plan in an AdaptiveSparkPlanExec LEAF, hiding
      // every operator from tree traversal and codegen markers from the
      // string — the audit inspects the STATIC shape, so turn it off here
      // (production sessions keep it on; it only ever improves these plans)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // documented O(n²)/driver-iterative baselines — cartesians expected
    val n2Baselines = Set("q41_jaccard_pairs", "q81_char_ngram_jaccard",
      "q65_embed_neardup", "q97_decontaminate")

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val s = plan.toString
        def n(p: String) = p.r.findAllIn(s).size
        // ReusedExchangeExec is a LEAF whose `child` field holds the
        // original exchange subtree — without expanding it, a window fed
        // by a deduplicated exchange looks like it sits over nothing and
        // false-flags (hit by q209's shared daily-aggregate branch)
        def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
          p.collect {
            case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
            case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
            case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
              hasAgg(r.child)
          }.exists(identity)
        val globalWindows = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty =>
            hasAgg(w.child)
        }
        val badWindow = globalWindows.contains(false)
        // BroadcastNestedLoopJoin has a broadcast (model-sized) side by
        // construction — grids, query sets, scalars — and is fine at scale;
        // an un-broadcast CartesianProduct is the true data×data killer.
        val cartesian = n("CartesianProduct") > 0 && !n2Baselines(name)
        val flags = (if (badWindow) " !!global-window-over-data" else "") +
          (if (cartesian) " !!cartesian" else "")
        // codegen spans print as "*(n) " prefixes; pushdown = any non-empty
        // PushedFilters list
        val wsc = plan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.size
        val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(s).isDefined
        println(f"[plan] $name%-24s ex=${n("Exchange")}%2d bhj=${n("BroadcastHashJoin")}%2d " +
          f"smj=${n("SortMergeJoin")}%2d wsc=$wsc%2d " +
          f"pushed=${if (pushed) "y" else "-"}$flags")
      } catch {
        case e: Throwable => println(s"[plan] $name ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
