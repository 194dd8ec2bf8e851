package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-window task-metric census for the scale drill: sums spill and
  * shuffle-write bytes and tracks the peak single-task execution memory
  * across every task that ends between [[reset]] and [[snapshot]].
  *
  * Lives in `org.apache.spark` for one reason: [[snapshot]] must drain the
  * (async) listener bus before reading the counters, and
  * `SparkContext.listenerBus` is `private[spark]` — the same narrow-bridge
  * discipline as [[org.apache.spark.sql.GraftShim]]. The companion's
  * [[GraftTaskMetrics.drain]] is that bridge, for every listener.
  *
  * The drill uses these to answer "did this kernel spill at 100×?" with a
  * measurement instead of an inference — a kernel whose hash aggregates or
  * sorts exceed the execution-memory pool shows up as `spill_mb > 0` in its
  * record, and a kernel whose shuffle volume grows superlinearly shows up
  * in `shuf_mb` even when wall-clock still fits the budget.
  */
final class GraftTaskMetrics extends SparkListener {
  private val memSpilled = new AtomicLong(0L)
  private val diskSpilled = new AtomicLong(0L)
  private val shuffleWritten = new AtomicLong(0L)
  private val peakTaskMem = new AtomicLong(0L)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      memSpilled.addAndGet(m.memoryBytesSpilled)
      diskSpilled.addAndGet(m.diskBytesSpilled)
      shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  def reset(sc: SparkContext): Unit = {
    // events from the PREVIOUS window must not leak into this one
    GraftTaskMetrics.drain(sc)
    memSpilled.set(0L); diskSpilled.set(0L)
    shuffleWritten.set(0L); peakTaskMem.set(0L)
  }

  /** Drain the bus, then report MiB-granular counters (0 MiB = no spill). */
  def snapshot(sc: SparkContext): Map[String, Long] = {
    GraftTaskMetrics.drain(sc)
    val mib = 1024L * 1024L
    Map(
      "spill_mem_mb" -> memSpilled.get / mib,
      "spill_disk_mb" -> diskSpilled.get / mib,
      "shuf_mb" -> shuffleWritten.get / mib,
      "peak_task_mem_mb" -> peakTaskMem.get / mib)
  }

  /** Byte-granular shuffle-write total for test assertions at spec scale
    * (MiB rounding floors small-but-real shuffles to 0). */
  def shuffleBytes(sc: SparkContext): Long = {
    GraftTaskMetrics.drain(sc)
    shuffleWritten.get
  }

  /** Byte-granular TOTAL spill (memory + disk) — summed in bytes BEFORE any
    * rounding, so a query spilling 0.9 MiB in each category still reads as
    * nonzero ("did it spill at all" must not lose sub-MiB spills to two
    * independent floors; callers convert to MiB once). */
  def spillBytes(sc: SparkContext): Long = {
    GraftTaskMetrics.drain(sc)
    memSpilled.get + diskSpilled.get
  }
}

object GraftTaskMetrics {
  /** Drains the asynchronous listener bus, so a listener has seen every
    * event of the work that already returned. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
