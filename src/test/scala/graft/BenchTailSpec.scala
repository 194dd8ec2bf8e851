package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver keeps only the LAST 2000 chars of bench stdout; the metric
  * line must stay under budget at ANY query count, self-describing how
  * many cheap-tail entries were omitted. */
class BenchTailSpec extends AnyFunSuite {

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q$i%02d_synthetic_query_name", (i % 97) * 0.033 + 0.01))

  test("tail line stays under the byte budget at any query count") {
    val load = "\"load\":[0.123,0.456]"
    for (n <- Seq(1, 50, 294, 500, 1000, 4000)) {
      val line = Bench.tailLine(fakeResults(n), qerr = 0, load, total = n * 0.5)
      assert(line.length <= 1900, s"line ${line.length} bytes at $n queries")
      // well-formed JSON with the wrapper fields intact
      assert(line.startsWith("{\"metric\":\"total\""))
      assert(line.contains("\"qomit\":"))
      // percentile stamp characterizes the omitted cheap mass
      assert("\"p\":\\[\\d+,\\d+,\\d+\\]".r.findFirstIn(line).isDefined)
      assert(line.endsWith("}}"))
      val qomit = "\"qomit\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
      val kept = "\"\\d+\":-?\\d+".r.findAllIn(
        line.drop(line.indexOf("\"queries\""))).size
      assert(kept + qomit === n, s"kept=$kept qomit=$qomit n=$n")
    }
  }

  test("tail line round-trips through a strict JSON parser at driver scale") {
    // the r16 driver-side parse of the committed line failed (parsed: null,
    // making that round's PERF comparison vacuous) for an unknown reason —
    // pin the output format against a STRICT parser at the current query
    // count and beyond so a malformed line can never ship silently
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    for (n <- Seq(322, 400, 1000)) {
      val rs = fakeResults(n) :+ (("q9999_failed_one", -1.0))
      val line = Bench.tailLine(rs, qerr = 1, "\"load\":[0.123,0.456]",
        total = n * 0.5, hotn = 3)
      val parsed = JsonMethods.parse(line) // throws on any malformation
      assert((parsed \ "metric") === JString("total"))
      assert((parsed \ "unit") === JString("sec"))
      (parsed \ "value") match {
        case JDouble(v) => assert(math.abs(v - n * 0.5) < 1e-6)
        case other => fail(s"value not a number: $other")
      }
      val queries = (parsed \ "queries") match {
        case JObject(fields) => fields
        case other => fail(s"queries not an object: $other")
      }
      // every kept entry is an integer-ms number keyed by a bare query id
      queries.foreach { case (k, v) =>
        assert(k.matches("[0-9]+"), s"non-numeric key $k")
        assert(v.isInstanceOf[JInt] || v.isInstanceOf[JLong], s"$k -> $v")
      }
      val qomit = (parsed \ "qomit") match {
        case JInt(x) => x.toInt
        case other => fail(s"qomit not an int: $other")
      }
      assert(queries.size + qomit === n + 1)
    }
  }

  test("tail line keeps the SLOWEST queries and omits only the cheap tail") {
    val rs = (1 to 600).map(i => (f"q$i%03d_x", i * 0.01))
    val line = Bench.tailLine(rs, qerr = 0, "\"load\":[0.1,0.1]", total = 1.0)
    // the slowest query (q600 at 6.0s) must be present; the cheapest must not
    assert(line.contains("\"600\":6000"))
    assert(!line.contains("\"1\":10,"))
    // error sentinels survive as -1, never a plausible timing
    val line2 = Bench.tailLine(Seq(("q01_a", -1.0), ("q02_b", 0.5)), 1,
      "\"load\":[0.1,0.1]", 0.5)
    assert(line2.contains("\"1\":-1") && line2.contains("\"2\":500"))
  }

  test("percentile stamp uses standard nearest-rank (ceil(qn)-1)") {
    // 4 queries at 100/200/300/400 ms: p50 = 2nd value (200), not the upper
    // middle (300) the old (q*n).toInt index picked; p99 = max here (n small)
    val rs = Seq(("q01_a", 0.1), ("q02_b", 0.2), ("q03_c", 0.3), ("q04_d", 0.4))
    val line = Bench.tailLine(rs, 0, "\"load\":[0.0,0.0]", 1.0)
    assert(line.contains("\"p\":[200,400,400]"), line)
    // 100 queries at 10..1000 ms: p50 = 50th = 500, p90 = 90th = 900,
    // p99 = 99th = 990 — NOT the max (the old index pinned p99 to max for
    // n <= 100)
    val rs100 = (1 to 100).map(i => (f"q$i%03d_x", i * 0.01))
    val line100 = Bench.tailLine(rs100, 0, "\"load\":[0.0,0.0]", 1.0)
    assert(line100.contains("\"p\":[500,900,990]"), line100)
  }

  test("pass-2 load gate waits bounded and reports the final load") {
    // hot trace that quiets on the 3rd poll: gate stops early
    val trace = Iterator(0.5, 0.4, 0.2, 0.05, 0.05)
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (l, polls) = Bench.gateWait(() => trace.next(), threshold = 0.10,
      maxPolls = 12, sleepMs = 100, sleep = slept += _)
    assert(l === 0.05 && polls === 3 && slept.size === 3)
    // never-quiet trace: gate gives up after maxPolls and returns hot
    val (l2, polls2) = Bench.gateWait(() => 0.9, threshold = 0.10,
      maxPolls = 4, sleepMs = 100, sleep = _ => ())
    assert(l2 === 0.9 && polls2 === 4)
    // already-quiet host: no sleeping at all
    val (l3, polls3) = Bench.gateWait(() => 0.02, threshold = 0.10,
      maxPolls = 12, sleepMs = 100, sleep = _ => fail("must not sleep"))
    assert(l3 === 0.02 && polls3 === 0)
  }

  test(">2x-best flag carries a jitter floor: noise never flags, real regressions do") {
    val best = Map("q37_x" -> 0.04, "q47_y" -> 0.11, "q166_z" -> 1.15, "q99_w" -> 0.5)
    // 0.1-second queries doubling on scheduler noise: ratio >2x but the
    // absolute excess is under the floor — 0 flags on a clean host
    val noisy = Map("q37_x" -> 0.11, "q47_y" -> 0.28, "q99_w" -> 0.55)
    assert(Bench.regressionFlags(noisy, best) === Seq.empty)
    // a q166-sized real regression (1.15 -> 2.34 s) still flags
    val regressed = noisy + ("q166_z" -> 2.34)
    assert(Bench.regressionFlags(regressed, best) === Seq("q166_z"))
    // boundary discipline: >2x AND excess > floor must BOTH hold — a slow
    // query under 2x never flags however large the absolute excess
    assert(Bench.regressionFlags(Map("q166_z" -> 2.2), best) === Seq.empty) // 1.91x
  }

  test(">2x-best flag edge cases: failed queries and missing anchors never flag") {
    val best = Map("q01_a" -> 0.5, "q02_b" -> -1.0)
    assert(Bench.regressionFlags(Map("q01_a" -> -1.0), best) === Seq.empty) // failed shot
    assert(Bench.regressionFlags(Map("q02_b" -> 9.0), best) === Seq.empty) // no valid anchor
    assert(Bench.regressionFlags(Map("q03_c" -> 9.0), best) === Seq.empty) // new query
    // exactly 2x is NOT a flag (strict >)
    assert(Bench.regressionFlags(Map("q01_a" -> 1.0), best) === Seq.empty)
    assert(Bench.regressionFlags(Map("q01_a" -> 1.3), best) === Seq("q01_a"))
  }

  test("hotn stamp marks contention-suspect reruns in the tail wrapper") {
    val rs = Seq(("q01_a", 0.5), ("q02_b", 0.3))
    val hot = Bench.tailLine(rs, 0, "\"load\":[0.3,0.2]", 0.8, hotn = 2)
    assert(hot.contains("\"hotn\":2,"))
    // clean run: no hotn noise in the wrapper
    val clean = Bench.tailLine(rs, 0, "\"load\":[0.01,0.01]", 0.8)
    assert(!clean.contains("hotn"))
  }

  test("SPARK_GRAFT_BENCH_ONLY ids are checked: an unknown id throws, naming every one") {
    val declared = Map("q01_a" -> 1, "q02_b" -> 2, "q10_c" -> 3)
    assert(Bench.selectOnly(declared, None) === declared)
    assert(Bench.selectOnly(declared, Some(Set("q02"))) === Map("q02_b" -> 2))
    // "q1" is a textual prefix of q10 but no query's id
    val e = intercept[IllegalArgumentException] {
      Bench.selectOnly(declared, Some(Set("q02", "q1", "q99")))
    }
    assert(e.getMessage.endsWith("unknown query ids: q1 q99"))
  }
}
