package graft

/** One-off measurement harness for the streaming fixed-cost audit (round-9
  * VERDICT item): is the per-query floor the child-session clone (poolable)
  * or the micro-batch machinery (not)? Run explicitly:
  *   sbt "testOnly graft.StreamFloorProbeSpec"
  */
class StreamFloorProbeSpec extends SparkSpecBase {

  test("decompose the streaming floor: session clone vs query machinery") {
    val dir = "/root/testdata/sf0.001"
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    // warm the context
    streaming.Streams.tumblingByType(spark, dir, "1 hour").count()
    val cloneMs = (1 to 5).map(_ => ms(streaming.Streams.isolatedStreamSession(spark)))
    val queryMs = (1 to 3).map(_ => ms {
      streaming.Streams.tumblingByType(spark, dir, "1 hour").count()
    })
    info(f"session clone+conf copy: median ${cloneMs.sorted.apply(2)}%.1f ms")
    info(f"full streaming query:    median ${queryMs.sorted.apply(1)}%.1f ms")
    // the audit's conclusion is only valid while the clone stays a
    // negligible share of the floor; if this ever flips, revisit pooling
    assert(cloneMs.sorted.apply(2) < 0.2 * queryMs.sorted.apply(1))
  }
}
