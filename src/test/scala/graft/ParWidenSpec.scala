package graft

import graft.functions.Par

/** Par.widen's scale contract: widen NARROW inputs to the cluster's
  * parallelism, but be the IDENTITY on anything already at least that wide
  * — at 100 TB the scan arrives with thousands of splits and an extra
  * repartition there would shuffle the whole input for nothing. */
class ParWidenSpec extends SparkSpecBase {

  import spark.implicits._

  test("narrow input widens to default parallelism") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assert(narrow.rdd.getNumPartitions === 1)
    val widened = Par.widen(narrow)
    assert(widened.rdd.getNumPartitions === target)
    // content unchanged
    assert(widened.collect().map(_.getInt(0)).sorted.toSeq === (1 to 100))
  }

  test("already-wide input is returned untouched — no shuffle added") {
    val target = spark.sparkContext.defaultParallelism
    val wide = (1 to 100).toDF("x").repartition(target + 3)
    val out = Par.widen(wide)
    // identity: the SAME DataFrame reference, not merely the same width —
    // widen must not insert any new plan node on the scale path
    assert(out eq wide)
  }

  test("awaitAllSettled settles EVERY future before rethrowing the first failure") {
    import scala.concurrent.{Future, Promise}
    import scala.concurrent.ExecutionContext.Implicits.global
    // fast failure + slow success: the naive sequential await rethrows
    // while the sibling still runs; settled-await must see it finish first
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = Future[Unit] { throw new RuntimeException("fast failure") }
    val slow = Future { Thread.sleep(300); slowDone.set(true) }
    val e = intercept[RuntimeException] { Par.awaitAllSettled(boom, slow) }
    assert(e.getMessage === "fast failure")
    assert(slowDone.get(), "awaitAllSettled returned before the sibling settled")
    // all-success: returns normally
    Par.awaitAllSettled(Future(1), Future("x"), Future(()))
    // failure ORDER is argument order, not completion order: the first
    // argument's failure wins even when it fails last
    val p = Promise[Unit]()
    val late = p.future
    val early = Future[Unit] { throw new IllegalStateException("second") }
    Future { Thread.sleep(200); p.failure(new RuntimeException("first")) }
    val e2 = intercept[RuntimeException] { Par.awaitAllSettled(late, early) }
    assert(e2.getMessage === "first")
    // every OTHER failure rides along as a suppressed exception, in order
    val e3 = intercept[RuntimeException] {
      Par.awaitAllSettled(
        Future[Unit] { throw new RuntimeException("a") }, Future(1),
        Future[Unit] { throw new IllegalStateException("b") },
        Future[Unit] { throw new IllegalArgumentException("c") })
    }
    assert(e3.getMessage === "a")
    assert(e3.getSuppressed.map(_.getMessage).toSeq === Seq("b", "c"))
    assert(e.getSuppressed.isEmpty)
  }
}
