package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{DayOfWeek, LocalDate}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{JoinKind, KFrame, KSeries}
import graft.core.KFrame.ScalarFrameOps
import graft.operators.{Boundary, Windowing}

/** The operator laws MsftParitySpec and MsftGoldenOpsSpec check on the
  * reference's MSFT.csv, checked here on an OHLCV file of the same shape
  * (header `Date,Open,High,Low,Close,Volume,Adj Close`, trading days in
  * descending file order) generated by the spec, so the laws hold without
  * the reference checkout. Each law is checked on every row. */
class OperatorLawsSpec extends SparkSpecBase {

  private val n = 400

  /** `n` weekdays from 2011-01-03, a seeded random walk; prices have two
    * decimals and stay well above zero (the laws divide by Open). */
  private lazy val csvPath: String = {
    val rnd = new scala.util.Random(7)
    val days = Iterator.iterate(LocalDate.of(2011, 1, 3))(_.plusDays(1))
      .filterNot(d => d.getDayOfWeek == DayOfWeek.SATURDAY || d.getDayOfWeek == DayOfWeek.SUNDAY)
      .take(n).toVector
    var px = 25.0
    def cents(x: Double) = math.round(x * 100) / 100.0
    val rows = days.map { d =>
      px = math.max(5.0, px + rnd.nextGaussian() * 0.4)
      val open = cents(px)
      val close = cents(px + rnd.nextGaussian() * 0.3)
      val high = cents(math.max(open, close) + rnd.nextDouble() * 0.5)
      val low = cents(math.min(open, close) - rnd.nextDouble() * 0.5)
      val volume = 20000000 + rnd.nextInt(60000000)
      s"$d,$open,$high,$low,$close,$volume,${cents(close * 0.9)}"
    }
    val dir = Files.createTempDirectory("graft_ohlcv")
    val file = dir.resolve("ohlcv.csv")
    val lines = "Date,Open,High,Low,Close,Volume,Adj Close" +: rows.reverse
    Files.write(file, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    file.toString
  }

  private lazy val ohlcv = spark.read
    .option("header", "true").option("inferSchema", "true").csv(csvPath)

  private def kf = KFrame(ohlcv, Seq("Date"))

  /** max |result.Open - expected.e| over all rows, joined on Date. */
  private def maxDiff(result: KFrame, expected: DataFrame): Double = {
    val j = result.df.select(col("Date"), col("Open").as("got"))
      .join(expected.select(col("Date"), col("e").as("want")), "Date")
    val row = j.agg(max(abs(col("got") - col("want"))).as("d"),
      count(lit(1)).as("n")).head
    assert(row.getLong(1) === n.toLong, "join must cover every row")
    row.getDouble(0)
  }

  test("CSV inference: n rows, 7 columns, typed like the reference") {
    assert(ohlcv.count() === n)
    assert(ohlcv.columns.toSeq ===
      Seq("Date", "Open", "High", "Low", "Close", "Volume", "Adj Close"))
    val types = ohlcv.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("Date") === "date" || types("Date") === "timestamp")
    assert(types("Open") === "double")
    assert(types("Volume") === "integer" || types("Volume") === "long")
  }

  test("CSV round-trip identity") {
    val tmp = Files.createTempDirectory("graft_ohlcv_rt").toString + "/out"
    ohlcv.write.option("header", "true").mode("overwrite").csv(tmp)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(tmp)
    assert(back.schema === ohlcv.schema)
    assert(back.exceptAll(ohlcv).count() === 0)
    assert(ohlcv.exceptAll(back).count() === 0)
  }

  test("zip self-subtraction is zero") {
    val f = KFrame(ohlcv.select(col("Date").as("k"), col("Open"), col("Close")), Seq("k"))
    val z = f.zip(f)(_ - _)
    assert(z.df.count() === n)
    assert(z.df.where(abs(col("Open")) > 1e-9 || abs(col("Close")) > 1e-9).count() === 0)
  }

  test("series zip outer-align arithmetic over the date index") {
    val open = KSeries(ohlcv.select(col("Date").as("k"), col("Open").as("v")), ordered = true)
    val close = KSeries(ohlcv.select(col("Date").as("k"), col("Close").as("v")), ordered = true)
    val spread = close.zipWith(open, JoinKind.Outer)(_ - _)
    assert(spread.df.count() === n)
    assert(spread.dropMissing.df.count() === n)
    val want = ohlcv.select(col("Date").as("k"), (col("Close") - col("Open")).as("e"))
    assert(spread.df.join(want, "k").where(abs(col("v") - col("e")) > 0.0).count() === 0)
  }

  test("ordered analytics on the date index: shift/diff/window") {
    val close = KSeries(ohlcv.select(col("Date").as("k"), col("Close").as("v")), ordered = true)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("Date"))
    val lagged = ohlcv.select(col("Date").as("k"), lag(col("Close"), 1).over(w).as("prev"),
      col("Close").as("cur"))

    // keys stay; the first key has no predecessor and reads missing
    val shifted = close.shift(1).df.join(lagged, "k")
    assert(shifted.count() === n)
    assert(shifted.where(col("v").isNull).count() === 1)
    assert(shifted.where(not(col("v") <=> col("prev"))).count() === 0)

    val d = close.diff(1).df.join(lagged, "k")
    assert(d.count() === n)
    assert(d.where(col("v").isNull).count() === 1)
    assert(d.where(abs(col("v") - (col("cur") - col("prev"))) > 1e-9).count() === 0)

    val ma = Windowing.windowInto(close, 20, Boundary.Skip)(avg)
    assert(ma.count() === n - 19)
  }

  test("numerical operation leaves the non-numeric Date series intact") {
    val doubled = kf * 2.0
    assert(doubled.df.schema("Date").dataType.typeName === "date")
    assert(doubled.df.select("Date").except(ohlcv.select("Date")).count() === 0)
    assert(maxDiff(doubled, ohlcv.select(col("Date"), (col("Open") * 2.0).as("e"))) === 0.0)
  }

  test("scalar operations on frames, both operand orders") {
    val o = col("Open")
    val cases: Seq[(KFrame, org.apache.spark.sql.Column)] = Seq(
      (kf * 2.0, o * 2.0), (kf / 2.0, o / 2.0),
      (kf + 2.0, o + 2.0), (kf - 2.0, o - 2.0),
      (2.0 * kf, lit(2.0) * o), (2.0 + kf, lit(2.0) + o),
      (2.0 - kf, lit(2.0) - o), (2.0 / kf, lit(2.0) / o))
    cases.foreach { case (res, want) =>
      assert(maxDiff(res, ohlcv.select(col("Date"), want.as("e"))) === 0.0)
    }
  }

  test("series operations on frames, both operand orders incl. int series") {
    val opens = kf.getSeries("Open")
    val o = col("Open")
    val cases: Seq[(KFrame, org.apache.spark.sql.Column)] = Seq(
      (kf.zipSeries(opens)(_ * _), o * o),
      (kf.zipSeries(opens)(_ / _), o / o),
      (kf.zipSeries(opens)(_ + _), o + o),
      (kf.zipSeries(opens)(_ - _), o - o),
      (kf.zipSeries(opens)((c, v) => v - c), o - o),
      (kf.zipSeries(opens)((c, v) => v / c), o / o))
    cases.foreach { case (res, want) =>
      assert(maxDiff(res, ohlcv.select(col("Date"), want.as("e"))) === 0.0)
    }
    val intOpens = kf.getSeriesAs("Open", org.apache.spark.sql.types.IntegerType)
    val gotInt = kf.zipSeries(intOpens)(_ + _)
    assert(maxDiff(gotInt, ohlcv.select(col("Date"), (o + o.cast("int")).as("e"))) === 0.0)
  }

  test("pointwise operations on two frames via whole-frame shift") {
    val df1 = kf.sortRows
    val got = df1.shift(1).zip(df1)((a, b) => a - b)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("Date"))
    val expected = ohlcv.select(col("Date"), (lag(col("Open"), 1).over(w) - col("Open")).as("e"))
      .where(col("e").isNotNull)
    val j = got.df.select(col("Date"), col("Open").as("got"))
      .join(expected.select(col("Date"), col("e").as("want")), "Date")
    val row = j.agg(max(abs(col("got") - col("want"))).as("d"), count(lit(1)).as("n")).head
    assert(row.getLong(1) === n - 1L)
    assert(row.getDouble(0) === 0.0)
  }
}
