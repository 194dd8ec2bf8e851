package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-clock profile of one declared query (guide §1: measure
  * first). Runs the query exactly as the bench does (toRdd.count through
  * the query's own physical plan) under a listener that records every
  * Spark job's call site, submission and completion time; prints a
  * timeline of job durations plus the DRIVER-SIDE GAPS between jobs
  * (catalog ops, renames, planning — invisible to stage metrics). The
  * protocol queries (index publish/append/compact/recover) run dozens of
  * sequential jobs; this attributes their seconds to phases without
  * touching the production code paths.
  *
  * Usage: sbt "runMain graft.tools.JobProfile q314 [q261 ...]" — qNN
  * prefixes, timed after the same warmup the bench pays.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.names.foreach(n => graft.Tables(spark, sfDir, n).count())
    graft.SparkEntry.benchSetup(spark, sfDir)

    case class Job(id: Int, site: String, sub: Long, var done: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val site = Seq("callSite.short", "spark.job.description", "callSite.long")
          .iterator.flatMap(k => Option(p.getProperty(k))).find(_.nonEmpty)
          .map(_.linesIterator.next().take(120))
          .getOrElse(e.stageInfos.headOption.map(_.name.take(120)).getOrElse("?"))
        jobs.put(e.jobId, Job(e.jobId, site, e.time))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.done = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val reps = sys.env.get("SPARK_GRAFT_PROFILE_REPS").map(_.toInt).getOrElse(1)
    for (q <- args; rep <- 1 to reps) {
      val name = graft.SparkEntry.queries.keys
        .find(_.startsWith(q + "_")).orElse(graft.SparkEntry.queries.keys.find(_ == q))
        .getOrElse(sys.error(s"no query matching '$q'"))
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val totalMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(400) // let the listener bus drain
      println(s"\n==== $name rep $rep: total ${totalMs.round} ms ====")
      var prevEnd = -1L
      var jobSum = 0L
      var gapSum = 0L
      import scala.jdk.CollectionConverters._
      val seq = order.asScala.toSeq.map(jobs.get).sortBy(_.sub)
      seq.foreach { j =>
        val dur = if (j.done > 0) j.done - j.sub else -1
        val gap = if (prevEnd > 0) math.max(0L, j.sub - prevEnd) else 0L
        if (dur >= 0) jobSum += dur
        gapSum += gap
        println(f"  job ${j.id}%4d  dur ${dur}%6d ms  gap ${gap}%6d ms  ${j.site}")
        prevEnd = math.max(prevEnd, if (j.done > 0) j.done else j.sub)
      }
      println(f"  [sum] jobs ${jobSum} ms, inter-job gaps ${gapSum} ms, wall ${totalMs.round} ms, jobs n=${seq.size}")
    }
    spark.stop()
  }
}
