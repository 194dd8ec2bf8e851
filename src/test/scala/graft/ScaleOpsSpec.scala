package graft

import org.apache.spark.sql.functions._

import graft.functions.{Bloom, Sketches}
import graft.sources.ZOrder

/** Scale-operations pack: bloom semi-join pruning (q220), theta set
  * algebra (q221), KLL quantile certificates (q222), z-order layout
  * skipping (q223). */
class ScaleOpsSpec extends SparkSpecBase {

  import testImplicitsHolder._
  private object testImplicitsHolder {
    val s = spark
    import s.implicits._
    def longsDf(name: String, xs: Seq[Long]) = xs.toDF(name)
    def pairsDf(xs: Seq[(String, Long)]) = xs.toDF("g", "v")
  }

  /** A not-yet-existing path inside a fresh temp dir — concurrent runs
    * never collide. */
  private def freshPath(name: String): String =
    java.nio.file.Files.createTempDirectory("graft_test_").resolve(name).toString

  // ---- bloom ----

  test("bloom: prune keeps every true match (no false negatives)") {
    val build = testImplicitsHolder.longsDf("k", (0L until 500L).map(_ * 3))
    val probe = testImplicitsHolder.longsDf("p", 0L until 3000L)
    val mBits = 1 << 12
    val bitmap = Bloom.buildWordTable(build, col("k"), mBits, 4)
    val kept = Bloom.prune(probe, col("p"), bitmap, mBits, 4)
      .select("p").collect().map(_.getLong(0)).toSet
    val trueMatches = (0L until 500L).map(_ * 3).filter(_ < 3000L).toSet
    assert(trueMatches.subsetOf(kept), "bloom dropped a true match")
  }

  test("bloom: prunedJoin result equals the plain join") {
    val build = testImplicitsHolder.longsDf("k", Seq(2L, 5L, 8L, 11L, 14L))
      .withColumn("tag", col("k") * 10)
    val probe = testImplicitsHolder.longsDf("p", 0L until 100L)
    val viaBloom = Bloom.prunedJoin(probe, "p", build, "k", mBits = 1 << 10, k = 3)
      .select(col("p"), col("tag")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = probe.join(build, col("p") === col("k"))
      .select(col("p"), col("tag")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaBloom === plain)
  }

  test("bloom: prune actually filters (false-positive rate bounded)") {
    val build = testImplicitsHolder.longsDf("k", (0L until 100L).map(_ * 37))
    val probe = testImplicitsHolder.longsDf("p", 10000L until 20000L) // zero matches
    val mBits = 1 << 14
    val bitmap = Bloom.buildWordTable(build, col("k"), mBits, 4)
    val kept = Bloom.prune(probe, col("p"), bitmap, mBits, 4).count()
    // 100 keys in 16 Kib bits, k=4 → fp well under 1 %; allow 2 %
    assert(kept <= 200, s"bloom passed $kept of 10000 non-matching rows")
  }

  // ---- theta ----

  test("theta: exact intersection counts with certificate") {
    // g1: 0..99, g2: 50..149, g3: 200..209 (disjoint from both)
    val rows = (0L until 100L).map(("a", _)) ++
      (50L until 150L).map(("b", _)) ++ (200L until 210L).map(("c", _))
    val df = testImplicitsHolder.pairsDf(rows)
    val out = Sketches.intersectCensusTheta(df, "g", "v")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(out(("a", "b"))._1 === 50L)
    assert(out(("a", "c"))._1 === 0L)
    assert(out(("b", "c"))._1 === 0L)
    // tiny exact-mode sketches: estimates are exact → all certificates pass
    assert(out.values.forall(_._2 === 1L))
  }

  test("theta: duplicates don't inflate the distinct intersection") {
    val rows = Seq.fill(20)(("a", 7L)) ++ Seq.fill(30)(("b", 7L)) ++
      Seq(("a", 8L), ("b", 9L))
    val out = Sketches.intersectCensusTheta(
      testImplicitsHolder.pairsDf(rows), "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(("a", "b", 1L)))
  }

  // ---- KLL ----

  test("kll: exact x4 quarter-quantiles with passing certificates") {
    // 1..101 per group: quartiles at exact positions (n-1)*r integral
    val rows = (1L to 101L).map(("g1", _)) ++ (1001L to 1101L).map(("g2", _))
    val out = Sketches.quantileCensusKll(
      testImplicitsHolder.pairsDf(rows), "g", "v", Seq(0.25, 0.5, 0.75))
      .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(("g1", 250L))._1 === 26L * 4)
    assert(out(("g1", 500L))._1 === 51L * 4)
    assert(out(("g1", 750L))._1 === 76L * 4)
    assert(out(("g2", 500L))._1 === 1051L * 4)
    assert(out.values.forall(_._2 === 1L), "a KLL certificate failed on exact-mode data")
  }

  test("kll: interpolated quantile stays x4-integer-exact") {
    // n=4 values 10,20,30,40: q25 at pos 0.75 → 10+0.75*10 = 17.5 → x4 = 70
    val out = Sketches.quantileCensusKll(
      testImplicitsHolder.pairsDf(Seq(("g", 10L), ("g", 20L), ("g", 30L), ("g", 40L))),
      "g", "v", Seq(0.25))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out(250L) === 70L)
  }

  // ---- z-order ----

  test("zorder: zValue interleaves bits (known cases)") {
    val df = testImplicitsHolder.pairsDf(Seq(("x", 0L)))
      .select(
        ZOrder.zValue(lit(0), lit(0), 8).as("z00"),
        ZOrder.zValue(lit(1), lit(0), 8).as("z10"),
        ZOrder.zValue(lit(0), lit(1), 8).as("z01"),
        ZOrder.zValue(lit(3), lit(5), 8).as("z35"),
        ZOrder.zValue(lit(255), lit(255), 8).as("zmax"))
    val r = df.collect()(0)
    assert(r.getAs[Long]("z00") === 0L)
    assert(r.getAs[Long]("z10") === 2L) // a's bit 0 → position 1
    assert(r.getAs[Long]("z01") === 1L) // b's bit 0 → position 0
    // a=3 (011), b=5 (101): interleave a1b1 a0b0 ... = bits (a0<<1|b0),(a1<<3|b1<<2),(b2<<4)
    // a=011, b=101 → z = 1*16 + 0*8+0*4 + 2+1 = 10011b = 19... compute:
    // bit0(b0=1)=1, bit1(a0=1)=2, bit2(b1=0)=0, bit3(a1=1)=8, bit4(b2=1)=16, bit5(a2=0)=0 → 27
    assert(r.getAs[Long]("z35") === 27L)
    assert(r.getAs[Long]("zmax") === 65535L)
  }

  test("zorder: clamping keeps ordering monotone at the cap") {
    val over = testImplicitsHolder.pairsDf(Seq(("x", 0L)))
      .select(ZOrder.zValue(lit(1L << 40), lit(0), 8).as("z"))
      .collect()(0).getLong(0)
    val atCap = testImplicitsHolder.pairsDf(Seq(("x", 0L)))
      .select(ZOrder.zValue(lit(255), lit(0), 8).as("z"))
      .collect()(0).getLong(0)
    assert(over === atCap)
  }

  test("zorder: layout skips more files than a linear sort for 2-D rectangles") {
    val s = spark
    import s.implicits._
    // 64x64 grid of (a, b) points, 10 files
    val pts = (for { a <- 0 until 64; b <- 0 until 64 } yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val zPath = freshPath("zorder_grid")
    val linPath = freshPath("linear_grid")
    ZOrder.writeZOrdered(pts, zPath, "a", "b", bits = 6, numFiles = 16)
    pts.repartitionByRange(16, col("a"), col("b"))
      .sortWithinPartitions(col("a"), col("b"))
      .write.parquet(linPath)
    def touched(path: String, aLo: Long, aHi: Long, bLo: Long, bHi: Long): Long =
      ZOrder.fileBoxes(s, path, "a", "b")
        .where(col("a_max") >= aLo && col("a_min") <= aHi &&
          col("b_max") >= bLo && col("b_min") <= bHi)
        .count()
    // rectangle selective on B only: linear (sorted by a) must read ~all
    // files; z-order reads the b-slice
    val zTouched = touched(zPath, 0, 63, 8, 15)
    val linTouched = touched(linPath, 0, 63, 8, 15)
    assert(zTouched < linTouched,
      s"z-order touched $zTouched files, linear $linTouched")
    assert(zTouched <= 8, s"z-order touched $zTouched of 16 files")
  }

  // ---- fixed-point PageRank ----

  test("pagerank: uniform cycle keeps equal ranks") {
    val s = spark
    import s.implicits._
    // 4-cycle: every node outdeg 1, indeg 1 → rank stays uniform
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = graft.operators.Graphs.pageRankFixedPoint(e, "src", "dst", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.values.toSet.size === 1, s"cycle ranks diverged: $out")
    // p0 = 25e10; each round p' = 15%·p0 + 85%·p (deg 1) — stays ~p0
    assert(math.abs(out(1L) - 250000000000L) < 5L)
  }

  test("pagerank: a sink-hub star accumulates rank") {
    val s = spark
    import s.implicits._
    // 1..5 all point at 9; 9 self-loops (outdeg ≥ 1 precondition)
    val e = ((1L to 5L).map((_, 9L)) :+ ((9L, 9L))).toDF("src", "dst")
    val out = graft.operators.Graphs.pageRankFixedPoint(e, "src", "dst", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(9L) > 4 * out(1L), s"hub did not accumulate: $out")
    assert((1L to 5L).map(out).toSet.size === 1, "leaf ranks differ")
  }

  test("pagerank: deterministic across partitionings") {
    val s = spark
    import s.implicits._
    val edges = (1L to 40L).map(i => (i, (i % 40) + 1)) ++ Seq((7L, 13L), (13L, 7L))
    val a = graft.operators.Graphs.pageRankFixedPoint(
      edges.toDF("src", "dst").repartition(1), "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.operators.Graphs.pageRankFixedPoint(
      edges.toDF("src", "dst").repartition(13), "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  // ---- incremental aggregate maintenance ----

  test("incremental: merged state equals full recompute exactly") {
    val s = spark
    import s.implicits._
    val rows = (1L to 100L).map(i => ("g" + (i % 3), i % 10, i * 7 % 400))
      .toDF("g", "u", "cents")
    val hist = rows.where(col("u") < 7)
    val delta = rows.where(col("u") >= 7)
    val path = freshPath("aggstate")
    val inc = graft.operators.Incremental.maintainedStats(s, path,
      hist, delta, col("g"), col("u"), col("cents"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val full = graft.operators.Incremental.mergeFinalize(
      graft.operators.Incremental.partials(rows, col("g"), col("u"), col("cents")),
      graft.operators.Incremental.partials(rows.limit(0), col("g"), col("u"), col("cents")))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(inc === full)
  }

  test("incremental: hand-checked moments") {
    val s = spark
    import s.implicits._
    // one group, cents 10,20,30,40: n=4 sum=100 mean_cc=2500
    // var = (4*3000 - 10000)/16 = 125
    val rows = Seq(("g", 1L, 10L), ("g", 1L, 20L), ("g", 2L, 30L), ("g", 2L, 40L))
      .toDF("g", "u", "cents")
    val out = graft.operators.Incremental.mergeFinalize(
      graft.operators.Incremental.partials(rows.where(col("u") === 1), col("g"), col("u"), col("cents")),
      graft.operators.Incremental.partials(rows.where(col("u") === 2), col("g"), col("u"), col("cents")))
      .collect()(0)
    assert(out.getLong(1) === 4L)
    assert(out.getLong(2) === 100L)
    assert(out.getLong(3) === 2500L)
    assert(out.getLong(4) === 125L)
  }

  // ---- KL drift ----

  test("kl: identical sources have zero divergence; drift is asymmetric") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("a", "x x y z"), ("b", "x x y z"),          // identical distributions
      ("c", "x x x x x x x x y")                     // skewed
    ).toDF("source", "text")
    val out = graft.functions.Text.klDrift(docs, "source", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out(("a", "b")) === 0L, "identical LMs must have KL 0")
    assert(out(("b", "a")) === 0L)
    assert(out(("a", "c")) > 0L)
    assert(out(("c", "a")) > 0L)
    assert(out(("a", "c")) !== out(("c", "a")), "KL should be asymmetric here")
  }

  // ---- active users ----

  test("activeUsers: hand-computed rolling distinct counts") {
    val s = spark
    import s.implicits._
    // user 1 active days 1,2,9; user 2 active day 2 only
    val ev = Seq((1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-02"),
      (2L, "2024-01-02"), (1L, "2024-01-09"))
      .toDF("user_id", "ds").withColumn("ts", to_timestamp(col("ds")))
    val out = graft.operators.Events.activeUsers(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("2024-01-01") === ((1L, 1L, 1L)))
    assert(out("2024-01-02") === ((2L, 2L, 2L)))
    // day 9: dau {1}; wau7 covers 3..9 → {1}; mau30 covers all → {1,2}
    assert(out("2024-01-09") === ((1L, 1L, 2L)))
  }

  // ---- weighted median ----

  test("weightedMedian: weights shift the median; halves exact") {
    val s = spark
    import s.implicits._
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 10L, 6L),
      ("h", 1L, 1L), ("h", 2L, 1L)).toDF("g", "v", "w")
    val out = graft.operators.Stats.weightedMedian(df, col("g"), col("v"), col("w"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // g: total 8, half 4 → cum at v=10 reaches 8 ≥ 4 first at v=10
    assert(out("g") === ((10L, 8L)))
    // h: total 2, 2·cum(1)=2 ≥ 2 → median 1 (lower of the tie)
    assert(out("h") === ((1L, 2L)))
  }

  test("weightedMedian: unit weights reduce to lower median") {
    val s = spark
    import s.implicits._
    val df = (1L to 4L).map(("g", _, 1L)).toDF("g", "v", "w")
    val out = graft.operators.Stats.weightedMedian(df, col("g"), col("v"), col("w"))
      .collect()(0)
    assert(out.getLong(1) === 2L) // cum(2)·2 = 4 ≥ 4
  }

  // ---- token entropy ----

  test("tokenEntropy: uniform beats skewed; single-token source is zero") {
    val s = spark
    import s.implicits._
    val docs = Seq(("u", "a b c d"), ("k", "a a a b"), ("z", "a a a a"))
      .toDF("source", "text")
    val out = graft.functions.Text.tokenEntropy(docs, "source", "text")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("z")._3 === 0L, "constant stream must have zero entropy")
    assert(out("u")._3 > out("k")._3, "uniform must out-entropy skewed")
    // uniform over 4: H = ln 4 ≈ 1.386294361e9 nano (4 × round(0.25·ln4·1e9))
    assert(math.abs(out("u")._3 - 1386294361L) <= 2L)
    assert(out("u")._1 === 4L && out("u")._2 === 4L)
  }

  // ---- record linkage ----

  test("linkage: hand-scored pairs, null-safe agreement, blocking bound") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "b", "x", Some(10L)), (2L, "b", "x", Some(10L)), // agree on f
      (3L, "b", "y", Some(20L)),                            // other block
      (4L, "b", "x", None), (5L, "b", "x", None)            // null <=> null agrees
    ).toDF("id", "blk", "blk2", "f")
    val out = graft.operators.Dedup.linkageScoreHistogram(df, "id",
      Seq(col("blk"), col("blk2")), Seq((col("f"), 100L, -50L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // block (b,x) has ids {1,2,4,5}: pairs 12(+100), 14(-50), 15(-50),
    // 24(-50), 25(-50), 45(+100 — null agrees null)
    assert(out === Map(100L -> 2L, -50L -> 4L))
  }

  // ---- equi-depth histogram ----

  test("equiDepth: 1..8 uniform splits 2/2/2/2; ties pack lower buckets") {
    val s = spark
    import s.implicits._
    val out = graft.operators.Stats.equiDepthHistogram(
      (1L to 8L).map(("g", _)).toDF("g", "v"), col("g"), col("v"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // edges ×4: q25 = 2.75×4=11, q50 = 4.5×4=18, q75 = 6.25×4=25
    // buckets: {1,2}, {3,4}, {5,6}, {7,8}
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    val tied = graft.operators.Stats.equiDepthHistogram(
      (Seq.fill(6)(5L) ++ Seq(9L, 10L)).map(("g", _)).toDF("g", "v"),
      col("g"), col("v"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // 6×5,9,10: edges all around 5 → the tie mass lands in bucket 1
    assert(tied(1L) === 6L)
    assert(tied.values.sum === 8L)
  }

  // ---- FK audit ----

  test("fkAudit: orphans, childless parents, nulls, dup keys") {
    val s = spark
    import s.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(99L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L, 3L).toDF("pk") // 3 duplicated, childless
    val r = graft.operators.Diff.fkAudit("t", child, "fk", parent, "pk")
      .collect()(0)
    assert(r.getString(0) === "t")
    assert(r.getLong(1) === 4L) // non-null child rows
    assert(r.getLong(2) === 4L) // parent rows
    assert(r.getLong(3) === 1L) // null fk
    assert(r.getLong(4) === 1L) // orphan (99)
    assert(r.getLong(5) === 2L) // childless parent rows (3 twice)
    assert(r.getLong(6) === 2L) // dup parent rows
  }

  // ---- percent-rank calibration ----

  test("percentRankCalibration: uniform group centers at ~500000 ppm") {
    val s = spark
    import s.implicits._
    // low: values 1..10, high: 11..20, all: 1..20 by parity
    val rows = (1L to 10L).map(("low", _)) ++ (11L to 20L).map(("high", _))
    val out = graft.operators.Stats.percentRankCalibration(
      rows.toDF("g", "v"), col("g"), col("v"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    // n=20, n-1=19: low ranks 0..9 → mean = (Σ i·1e6 div 19)/10
    val prs = (0L until 20L).map(i => i * 1000000L / 19L)
    assert(out("low") === ((10L, prs.take(10).sum / 10)))
    assert(out("high") === ((10L, prs.drop(10).sum / 10)))
    assert(out("low")._2 < 300000L && out("high")._2 > 700000L)
  }

  // ---- association rules ----

  test("assocRules: hand-computed support/confidence/lift") {
    val s = spark
    import s.implicits._
    // u1:{a,b}, u2:{a,b}, u3:{a}, u4:{b,c} → n=4
    val ev = Seq((1L, "a"), (1L, "b"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (4L, "b"), (4L, "c")).toDF("user_id", "event_type")
    val out = graft.operators.Events.associationRules(ev, "user_id", "event_type")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // a→b: both=2, na=3, nb=3: support 500000, conf 666666, lift 888888
    assert(out(("a", "b")) === ((2L, 500000L, 666666L, 888888L)))
    // b→c: both=1, nb=3, nc=1: conf 333333, lift 4·1e6/3 = 1333333
    assert(out(("b", "c")) === ((1L, 250000L, 333333L, 1333333L)))
    // a→c never co-occur → absent
    assert(!out.contains(("a", "c")))
  }

  // ---- TWAP ----

  test("twap: gaps weight values; last observation drops; 1-obs day absent") {
    val s = spark
    import s.implicits._
    // day 1: c=100 held 3 us, c=200 held 1 us, c=999 last (drops)
    // → twap = (100·3 + 200·1) / 4 = 125
    val ev = Seq(
      ("g", 1000L, 100L), ("g", 1003L, 200L), ("g", 1004L, 999L),
      ("h", 2000L, 50L) // single observation → no interval → no row
    ).toDF("g", "us", "c")
      .withColumn("ts", timestamp_micros(col("us") + expr("86400000000 * 19700")))
    val out = graft.operators.Events.twap(ev, col("g"), col("ts"), col("c"))
      .collect().map(r => (r.getString(0), (r.getLong(2), r.getLong(3))))
    assert(out.toSeq === Seq(("g", (2L, 125L))))
  }

  // ---- native jaro_winkler expression ----

  test("jaroWinkler: classic pairs, floor transpositions, edges") {
    val s = spark
    import s.implicits._
    val pairs = Seq(("martha", "marhta"), ("dwayne", "duane"),
      ("CRATE", "TRACE"), ("abcdef", "abczzz"), ("ab", "ba"),
      ("a", "a"), ("", "abc"), ("blue gear", "old gear"))
    val out = pairs.toDF("a", "b")
      .select(col("a"), col("b"), expr("jaro_winkler(a, b)").as("jw"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    def close(x: Double, y: Double) = math.abs(x - y) < 1e-9
    assert(close(out(("martha", "marhta")), 0.9611111111111111))
    assert(close(out(("dwayne", "duane")), 0.84))
    // CRATE/TRACE: jaro 0.7333 > 0.7 but zero common prefix → unchanged
    assert(close(out(("CRATE", "TRACE")), 0.7333333333333334))
    // below the 0.7 boost threshold: prefix must NOT be applied
    assert(close(out(("abcdef", "abczzz")), 0.6666666666666666))
    assert(out(("ab", "ba")) === 0.0)
    assert(out(("a", "a")) === 1.0)
    assert(out(("", "abc")) === 0.0)
    // odd raw transposition count → floor (strcmp95/DuckDB convention)
    assert(close(out(("blue gear", "old gear")), 0.75))
  }

  test("jaroWinkler: null-safe and codegen path agree with eval") {
    val s = spark
    import s.implicits._
    val df = Seq((Some("martha"), Some("marhta")), (None, Some("x")))
      .toDF("a", "b")
    val rows = df.select(expr("jaro_winkler(a, b)").as("jw")).collect()
    assert(math.abs(rows(0).getDouble(0) - 0.9611111111111111) < 1e-9)
    assert(rows(1).isNullAt(0))
  }

  // ---- packfile shards ----

  test("packfile: byte-exact round trip, one blob per non-empty shard") {
    val s = spark
    import s.implicits._
    val items = Seq((1L, "alpha"), (2L, ""), (3L, "gamma-γ"), (4L, "δδ"))
      .toDF("id", "txt")
      .withColumn("payload", col("txt").cast("binary"))
      .repartition(2, col("id"))
    val (blobs, index) = graft.operators.Multimodal.packShards(items, "id", "payload")
    assert(blobs.count() <= 2)
    assert(index.count() === 4)
    val back = graft.operators.Multimodal.unpack(blobs, index)
      .select(col("id"), expr("CAST(payload AS STRING)").as("txt"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(back === Map(1L -> "alpha", 2L -> "", 3L -> "gamma-γ", 4L -> "δδ"))
    // offsets tile the blob: per shard, sum of lens == blob length
    val lens = index.groupBy(col("shard_id")).agg(sum(col("len")).as("l"))
      .join(blobs, "shard_id")
      .select(col("l"), length(col("blob")).cast("long").as("bl"))
      .collect()
    assert(lens.forall(r => r.getLong(0) == r.getLong(1)))
  }

  // ---- bounce rates ----

  test("bounceRates: gap splits sessions; entry and bounce census") {
    val s = spark
    import s.implicits._
    val min = 60L * 1000000L
    // u1: [a, b] within gap → 1 session entry a (no bounce);
    //     then 40 min later [c] alone → bounce entry c
    // u2: [b] → bounce entry b
    val ev = Seq(
      (1L, 0L * min, "a"), (1L, 10L * min, "b"), (1L, 50L * min, "c"),
      (2L, 5L * min, "b"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = graft.operators.Events.entryBounceRates(
      ev, "user_id", col("ts"), col("event_type"), gapMinutes = 30)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") === ((1L, 0L, 0L)))
    assert(out("b") === ((1L, 1L, 1000000L)))
    assert(out("c") === ((1L, 1L, 1000000L)))
  }

  // ---- covariance matrix ----

  test("covarianceMatrix: hand case, symmetry-by-construction, null drop") {
    val s = spark
    import s.implicits._
    // x = 1,2,3,4; y = 2,4,6,8 (y=2x): cov(x,x)=1.25, cov(x,y)=2.5, cov(y,y)=5
    val df = Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L)).toDF("x", "y")
    val out = graft.operators.Stats.covarianceMatrix(df,
      Seq(("x", col("x")), ("y", col("y"))))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(3))).toMap
    assert(out(("x", "x")) === 1L)  // 1.25 truncates
    assert(out(("x", "y")) === 2L)  // 2.5 truncates
    assert(out(("y", "y")) === 5L)
    assert(out.size === 3) // i <= j only
    // a null in any column drops the whole row (complete-case)
    val df2 = Seq((Some(1L), Some(2L)), (None, Some(9L)), (Some(3L), Some(6L)))
      .toDF("x", "y")
    val n = graft.operators.Stats.covarianceMatrix(df2,
      Seq(("x", col("x")), ("y", col("y"))))
      .collect()(0).getLong(2)
    assert(n === 2L)
  }

  // ---- bitmap retention matrix ----

  test("bitmapRetention: exact intersections across word boundaries") {
    val s = spark
    import s.implicits._
    // day1: users {1, 64, 100}; day2: {64, 100, 200}; day3: {999}
    val rows = Seq((1, 1L), (1, 64L), (1, 100L),
      (2, 64L), (2, 100L), (2, 200L), (3, 999L))
      .map { case (d, u) => (java.sql.Date.valueOf(f"2024-02-0$d"), u) }
    val ev = rows.toDF("day", "user_id")
      .withColumn("ts", col("day").cast("timestamp"))
    val out = graft.operators.Events.dayIntersectionMatrix(ev, "user_id", col("ts"))
      .collect().map(r => ((r.getDate(0).toString, r.getDate(1).toString),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 64 and 100 sit in different words than 1; intersection spans words
    assert(out(("2024-02-01", "2024-02-02")) === ((3L, 3L, 2L)))
    // day3 shares nobody → pair absent entirely
    assert(out.size === 1)
  }

  test("zorder: written copy holds exactly the input rows") {
    val s = spark
    import s.implicits._
    val pts = (0L until 100L).map(i => (i, i % 7)).toDF("a", "b")
    val path = freshPath("zorder_rows")
    ZOrder.writeZOrdered(pts, path, "a", "b", bits = 7, numFiles = 4)
    val back = s.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back === (0L until 100L).map(i => (i, i % 7)).toSet)
    assert(!s.read.parquet(path).columns.contains("__z"))
  }

  test("stored IVF index probe equals the one-shot sampled-train form") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 60L).map(i =>
        Row(i, Seq.fill(8)(rnd.nextFloat()))): _*), schema)
    val queries = vecs.where(org.apache.spark.sql.functions.col("vec_id") < 3)
    operators.Similarity.publishIvfIndex(vecs, "vec_id", "embedding",
      "graft_ivfspec", trainRows = 32, nlist = 4, buckets = 2, corpusFp = "spec")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val probed = keyed(operators.Similarity.probeIvfIndex(
      spark, queries, "vec_id", "embedding", "graft_ivfspec", k = 3, corpusFp = "spec"))
    val oneShot = keyed(operators.Similarity.ivfKnnSampledTrain(
      vecs, queries, "vec_id", "embedding", k = 3, trainRows = 32, nlist = 4))
    assert(probed === oneShot)
    assert(probed.nonEmpty)
    // fingerprint guards: stale probe and mismatched ensure both fail fast
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.probeIvfIndex(
        spark, queries, "vec_id", "embedding", "graft_ivfspec", k = 3, corpusFp = "other")
    }
    assert(e.getMessage.contains("published over corpus"))
    val e2 = intercept[IllegalArgumentException] {
      operators.Similarity.ensureIvfIndex(vecs, "vec_id", "embedding",
        "graft_ivfspec", trainRows = 32, nlist = 4, corpusFp = "other")
    }
    assert(e2.getMessage.contains("published over corpus"))
    // codebook-param drift must not be silently served the stale codebook:
    // right corpus, but trainRows bumped 32→48 → fail fast
    val e3 = intercept[IllegalArgumentException] {
      operators.Similarity.ensureIvfIndex(vecs, "vec_id", "embedding",
        "graft_ivfspec", trainRows = 48, nlist = 4, buckets = 2, corpusFp = "spec")
    }
    assert(e3.getMessage.contains("requested"))
    // exact published params → no-op, no retrain
    operators.Similarity.ensureIvfIndex(vecs, "vec_id", "embedding",
      "graft_ivfspec", trainRows = 32, nlist = 4, buckets = 2, corpusFp = "spec")
  }

  test("ivfKnn query broadcast is GATED: corpus-scale query sets keep the shuffle join") {
    // r13 advice (medium): ivfKnnPortable takes an UNBOUNDED caller query
    // set (all-pairs self-kNN passes the corpus itself) — an unconditional
    // broadcast(queries) hits the 8 GB broadcast cap / driver OOM at
    // corpus scale instead of degrading to a shuffled join. The gate reads
    // plan-stat bytes x nprobe against spark.graft.ann.queryBroadcastBytes.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(23)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 60L).map(i =>
        Row(i, Seq.fill(8)(rnd.nextFloat()))): _*), schema)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect() // finalize the adaptive plan before reading it
      df.queryExecution.executedPlan.toString
    }
    // default cap (64 MiB): a 60-row query set broadcasts — the 100TB-shape
    // plan where codes-only corpus lists must NEVER be the build side
    val bcast = operators.Similarity.ivfKnnPortable(
      vecs, vecs, "vec_id", "embedding", k = 3)
    val bcastRows = keyed(bcast)
    assert(planOf(bcast).contains("BroadcastHashJoin"))
    // cap forced to 1 byte = every query set is "corpus-scale": the probe
    // side must plan as a shuffled hash join, rows identical
    spark.conf.set("spark.graft.ann.queryBroadcastBytes", "1")
    try {
      val gated = operators.Similarity.ivfKnnPortable(
        vecs, vecs, "vec_id", "embedding", k = 3)
      val plan = planOf(gated)
      assert(plan.contains("ShuffledHashJoin"), s"expected shuffled join, got:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"), s"gate leaked a broadcast:\n$plan")
      assert(keyed(gated) === bcastRows)
    } finally spark.conf.unset("spark.graft.ann.queryBroadcastBytes")
    // the stored-index probe path keeps the FORCED broadcast even under a
    // tiny cap (query batches are small by design; the gate must not apply)
    spark.conf.set("spark.graft.ann.queryBroadcastBytes", "1")
    try {
      operators.Similarity.publishIvfIndex(vecs, "vec_id", "embedding",
        "graft_bgate", trainRows = 32, nlist = 4, buckets = 2, corpusFp = "bg")
      val probed = operators.Similarity.probeIvfIndex(
        spark, vecs.where(col("vec_id") < 3), "vec_id", "embedding",
        "graft_bgate", k = 3, corpusFp = "bg")
      assert(planOf(probed).contains("BroadcastHashJoin"))
    } finally {
      spark.conf.unset("spark.graft.ann.queryBroadcastBytes")
      dropIndex("graft_bgate")
    }
  }

  test("stored PQ index probe equals the one-shot composed IVF+PQ scan") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 64L).map(i =>
        Row(i, Seq.fill(16)(rnd.nextFloat()))): _*), schema)
    val queries = vecs.where(col("vec_id") < 4)
    operators.Similarity.publishPqIndex(vecs, "vec_id", "embedding",
      "graft_pqspec", nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "spec")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probed = keyed(operators.Similarity.probePqIndex(
      spark, queries, "vec_id", "embedding", "graft_pqspec", k = 3, nprobe = 2,
      corpusFp = "spec"))
    val oneShot = keyed(operators.Similarity.ivfPqKnnPortable(
      vecs, queries, "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2,
      m = 4, codes = 8))
    assert(probed === oneShot)
    assert(probed.nonEmpty)
    // fingerprint + codebook-param drift both fail fast
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.probePqIndex(spark, queries, "vec_id", "embedding",
        "graft_pqspec", k = 3, corpusFp = "other")
    }
    assert(e.getMessage.contains("published over corpus"))
    val e2 = intercept[IllegalArgumentException] {
      operators.Similarity.ensurePqIndex(vecs, "vec_id", "embedding",
        "graft_pqspec", nlist = 4, m = 4, codes = 16, buckets = 2, corpusFp = "spec")
    }
    assert(e2.getMessage.contains("requested"))
    // exact published params -> no-op, no retrain
    operators.Similarity.ensurePqIndex(vecs, "vec_id", "embedding",
      "graft_pqspec", nlist = 4, m = 4, codes = 8, buckets = 2, corpusFp = "spec")
  }

  test("adaptive ADC: table and inline plans are bit-identical (pq + ivfpq)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(13)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val vecs = spark.createDataFrame(
      java.util.Arrays.asList((0L until 80L).map(i =>
        Row(i, Seq.fill(16)(rnd.nextFloat()))): _*), schema)
    val queries = vecs.where(col("vec_id") < 5)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the threshold is read at PLAN-CONSTRUCTION time, so pinning the conf
    // around each build forces the branch; the integer distance sums must
    // agree term-by-term, so ranks, ids and dists all match exactly
    val key = "spark.graft.adc.minCandidates"
    def withThreshold[T](v: String)(body: => T): T = {
      spark.conf.set(key, v); try body finally spark.conf.unset(key)
    }
    val pqTable = withThreshold("0") { keyed(operators.Similarity.pqKnnPortable(
      vecs, queries, "vec_id", "embedding", k = 4, m = 4, codes = 8)) }
    val pqInline = withThreshold(Long.MaxValue.toString) {
      keyed(operators.Similarity.pqKnnPortable(
        vecs, queries, "vec_id", "embedding", k = 4, m = 4, codes = 8)) }
    assert(pqTable === pqInline)
    assert(pqTable.nonEmpty)
    val ivfTable = withThreshold("0") { keyed(operators.Similarity.ivfPqKnnPortable(
      vecs, queries, "vec_id", "embedding", k = 4, nlist = 4, nprobe = 2, m = 4, codes = 8)) }
    val ivfInline = withThreshold(Long.MaxValue.toString) {
      keyed(operators.Similarity.ivfPqKnnPortable(
        vecs, queries, "vec_id", "embedding", k = 4, nlist = 4, nprobe = 2, m = 4, codes = 8)) }
    assert(ivfTable === ivfInline)
    assert(ivfTable.nonEmpty)
  }
}
