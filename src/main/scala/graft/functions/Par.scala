package graft.functions

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame

/** Parallelism helpers: widening CPU-bound per-row kernels, narrowing
  * writes, and the ONE way graft overlaps independent Spark jobs.
  *
  * OVERLAP CONTRACT ([[both]], [[all]]). Every branch but the last is
  * forked onto the global `ExecutionContext`; the LAST branch runs on the
  * calling thread, so a call never parks its caller while pool threads do
  * all the work, and a nested overlap inside a branch (LSH's staged check
  * inside the append, a PQ probe's model collects beside its meta read)
  * cannot starve the pool. Every branch SETTLES before the call returns or
  * throws: the first failure in argument order is rethrown with every other
  * failure attached as a suppressed exception ([[awaitAllSettled]]), so no
  * branch is still writing when the caller's error handling (a lease
  * release, a republish) runs. Results come back typed, in argument order.
  * Spark's scheduler runs the branches' jobs side by side, so their
  * latencies hide behind each other. */
object Par {

  /** Widen a NARROW input before a CPU-heavy per-row kernel (md5 minhash
    * signatures, simhash bit votes, shingle hashing): when the scan yields
    * fewer partitions than the cluster's parallelism — a single small
    * parquet file, a collapsed AQE stage — the kernel serializes on a
    * handful of cores while the rest idle. A round-robin repartition to
    * `defaultParallelism` costs one shuffle of the (by definition small)
    * input and buys full-width kernel execution.
    *
    * When the input is already at least as wide as the cluster (the 100 TB
    * scan: thousands of file splits), this is the identity — no shuffle is
    * added on the production path.
    *
    * CONTRACT: call this on SCAN-SHAPED inputs only (scan + projections/
    * filters). For those, `rdd.getNumPartitions` is pure physical planning
    * (milliseconds). If the plan contained an exchange, AQE's
    * `getFinalPhysicalPlan` would EXECUTE the upstream shuffle stages just
    * to learn the width — and that work is not reused by the real query.
    * Every current call site (Dedup/Text/Similarity kernel entries) feeds
    * a projected table scan. */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Narrow a WRITE to a task count derived from the data's size — the
    * other half of [[widen]]'s contract (guide §2/§6: partitioning must be
    * scale-adaptive, never a constant tuned for one deployment; output
    * files should land in the 100 MB-1 GB range, and a bucketed writer
    * emits one file per (task, bucket), so task count IS file count /
    * buckets). A kernel-widened 32-partition frame holding a few MB would
    * otherwise write 32 x buckets near-empty parquet files per
    * publish/append — pure footer/commit/listing overhead that every later
    * probe, audit, count and compaction re-pays.
    *
    * Width = sizeInBytes / `spark.graft.write.bytesPerTask` (default
    * 64 MB), clamped to [1, current partitions] — `coalesce` only ever
    * narrows, so on a production-sized input (estimate >= partitions x
    * target) this is the identity and the write keeps its full upstream
    * parallelism. The size estimate comes from the optimized plan's stats;
    * an unknown estimate (Long.MaxValue default) therefore also degrades
    * to the identity, never to an accidental single-task write.
    *
    * CONTRACT (same as [[widen]]): call on CHECKPOINT-SHAPED plans only —
    * a materialized localCheckpoint plus cheap projections/explodes. The
    * heavy kernels must already be materialized upstream, because the
    * projection runs inside the (narrowed) write tasks; and
    * `rdd.getNumPartitions` on a plan with an exchange would execute the
    * shuffle just to learn the width. "Cheap" includes projections with
    * BOUNDED OPS PER BYTE — the IVF/PQ assign/encode quantizer UDFs
    * (O(model-size) per row with model-sized constants) qualify: the
    * byte-derived task width then bounds the compute per task too, so a
    * narrowed write can never serialize unbounded work. Kernels whose
    * cost is NOT proportional to the written bytes (the md5 band-key
    * explode: output rows ≫ input rows) must materialize first — that is
    * what Dedup.shingleBaseBanded exists for (measured r17: 2.0 s
    * single-task vs 0.3 s materialized). */
  def narrowForWrite(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf
      .get("spark.graft.write.bytesPerTask", (64L * 1024 * 1024).toString).toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = df.rdd.getNumPartitions
    val w = ((est + target - 1) / target).min(BigInt(parts)).max(BigInt(1)).toInt
    if (w < parts) df.coalesce(w) else df
  }

  /** Await EVERY future's outcome before rethrowing the first failure
    * (in argument order), with every other failure attached to it as a
    * suppressed exception — an overlapped job never fails silently behind
    * its sibling. The naive `Await.result(a); Await.result(b)` rethrows
    * `a`'s failure while `b` may still be writing in the background — the
    * caller's natural repair (republish, which drops the table and deletes
    * its warehouse directory) can then race the orphaned detached write
    * and leave a mangled table. The primitive under [[both]] and [[all]]. */
  def awaitAllSettled(fs: Future[_]*): Unit = {
    val failures = fs.flatMap(f => Try(Await.result(f, Duration.Inf)).failed.toOption)
    failures.headOption.foreach { first =>
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Run `bodies` overlapped under the contract above; their results in
    * argument order. */
  def all[A](bodies: Seq[() => A]): Seq[A] = {
    val forked = bodies.dropRight(1).map(b => Future(b())(ExecutionContext.global))
    val last = bodies.lastOption.map { b =>
      Future.fromTry(try Success(b()) catch { case t: Throwable => Failure(t) })
    }
    val settled = forked ++ last
    awaitAllSettled(settled: _*)
    settled.map(_.value.get.get)
  }

  /** `a` and `b` overlapped under the contract above (`b` on the calling
    * thread). */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all[Any](Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
