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

  test("both / all return typed results in argument order, the last branch on the caller") {
    val caller = Thread.currentThread()
    val (n, str) = Par.both({ Thread.sleep(100); 41 + 1 }, "x" * 3)
    assert(n === 42 && str === "xxx")
    val threads = Par.all(Seq.tabulate(5)(i => () => { Thread.sleep(20L * (5 - i)); Thread.currentThread() }))
    assert(threads.last eq caller)
    assert(threads.init.forall(_ ne caller))
    assert(Par.all((1 to 6).map(i => () => i * i)) === Seq(1, 4, 9, 16, 25, 36))
    assert(Par.all(Seq.empty[() => Int]) === Seq.empty)
  }

  test("a fast failure on the calling thread waits for the slow forked sibling and carries its failure") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the sibling succeeds: the call still waits for it, then rethrows
    val e = intercept[IllegalStateException] {
      Par.both({ Thread.sleep(300); slowDone.set(true) }, throw new IllegalStateException("fast"))
    }
    assert(slowDone.get(), "both returned before the forked sibling settled")
    assert(e.getMessage === "fast" && e.getSuppressed.isEmpty)
    // the sibling fails too: both failures are reported, in argument order
    // (the forked branch comes first), the other attached as suppressed
    slowDone.set(false)
    val e2 = intercept[IllegalArgumentException] {
      Par.both(
        { Thread.sleep(300); slowDone.set(true); throw new IllegalArgumentException("slow") },
        throw new IllegalStateException("fast"))
    }
    assert(slowDone.get(), "both returned before the forked sibling settled")
    assert(e2.getMessage === "slow")
    assert(e2.getSuppressed.map(_.getMessage).toSeq === Seq("fast"))
  }

  test("an overlap nested inside every branch completes") {
    val width = Runtime.getRuntime.availableProcessors() * 2
    val sums = Par.all(Seq.tabulate(width)(i => () =>
      Par.all(Seq.tabulate(width)(j => () => { Thread.sleep(5); i * width + j })).sum))
    assert(sums.sum === (0 until width * width).sum)
    assert(Par.both(Par.both(1, 2), Par.all(Seq(() => 3)))._1 === ((1, 2)))
  }

  test("overlap has one mechanism: no Future, Await or ExecutionContext outside Par") {
    import java.io.File
    val base = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "build.sbt").isFile)
      .getOrElse(fail(s"no build.sbt above ${sys.props("user.dir")}"))
    val root = new File(base, "src/main/scala")
    def files(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 50, s"scan found only ${sources.size} sources under $root")
    val banned = """scala\.concurrent|\bFuture\b|\bAwait\.|\bExecutionContext\b""".r
    val hits = for {
      f <- sources if f != new File(root, "graft/functions/Par.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .toSeq.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "overlap outside graft.functions.Par:\n" + hits.mkString("\n"))
  }
}
