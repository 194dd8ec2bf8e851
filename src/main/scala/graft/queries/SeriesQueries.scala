package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._
import graft.queries.QueryKit._

/** Ordered series: zip/align, shift/diff, windows and chunks, fills,
  * as-of lookups and joins, resampling, and the distributed ordered-scan
  * (stitch) forms of the same operators. */
object SeriesQueries extends QueryFamily {

  // ---- §2.4 series Zip (outer align) + §2.9 series⊙series arithmetic ----
  // two daily series; sum where both present, missing otherwise (reference
  // outer-align arithmetic, src/Series.fs:589-595)
  Q("q08_zip_arith", oracle =
      """WITH a AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v
        |           FROM orders GROUP BY 1),
        |     b AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v
        |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT coalesce(a.k, b.k) AS k,
        |round(CASE WHEN a.v IS NOT NULL AND b.v IS NOT NULL THEN a.v + b.v END, 4) AS v
        |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin) { (s, dir) =>
      val a = daily(s, dir)
      val b = KSeries(
        t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .groupBy(to_date(col("o_orderdate")).as("k"))
          .agg(sum(col("o_totalprice")).as("v")),
        ordered = true)
      a.zipWith(b, JoinKind.Outer)((x, y) => x + y)
        .df.select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.6 sliding count-window (Series.windowInto) ----
  Q("q12_window_sliding", oracle =
      s"""$dailySql
         |SELECT k, round(avg(v) OVER (ORDER BY k ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS mavg
         |FROM daily""".stripMargin) { (s, dir) =>
      Windowing.windowInto(daily(s, dir), 7, Boundary.AtBeginning)(avg)
        .select(col("k"), round(col("v"), 4).as("mavg"))
  }

  // ---- §2.6 Series.diff ----
  Q("q13_diff", oracle =
      s"""$dailySql
         |SELECT k, round(v - lag(v,1) OVER (ORDER BY k),4) AS d FROM daily""".stripMargin) { (s, dir) =>
      daily(s, dir).diff(1)
        .df.select(col("k"), round(col("v"), 4).as("d"))
  }

  // ---- §2.6 Series.shift ----
  Q("q14_shift", oracle =
      s"""$dailySql
         |SELECT k, round(lag(v,1) OVER (ORDER BY k),4) AS prev_v FROM daily""".stripMargin) { (s, dir) =>
      daily(s, dir).shift(1)
        .df.select(col("k"), round(col("v"), 4).as("prev_v"))
  }

  // ---- §2.6 Series.pairwise ----
  Q("q15_pairwise", oracle =
      s"""$dailySql, p AS (
         |SELECT k, lag(v,1) OVER (ORDER BY k) AS prev, v AS cur FROM daily)
         |SELECT k, round(prev,4) AS prev, round(cur,4) AS cur FROM p WHERE prev IS NOT NULL""".stripMargin) { (s, dir) =>
      daily(s, dir).pairwise()
        .select(col("k"), round(col("prev"), 4).as("prev"), round(col("cur"), 4).as("cur"))
  }

  // ---- §2.6 fixed chunks with Boundary.Skip (Series.chunkInto) ----
  Q("q16_chunk", oracle =
      s"""$dailySql, o AS (
         |SELECT k, v, row_number() OVER (ORDER BY k) - 1 AS ord FROM daily)
         |SELECT min(k) AS k, round(sum(v),4) AS chunk_sum, count(*) AS n
         |FROM o GROUP BY CAST(floor(ord / 7.0) AS BIGINT) HAVING count(*) = 7""".stripMargin) { (s, dir) =>
      Windowing.chunkInto(daily(s, dir), 7, Boundary.Skip)(
        (sum(_), "chunk_sum"), (count(_), "n"))
        .select(col("k"), round(col("chunk_sum"), 4).as("chunk_sum"), col("n"))
  }

  // ---- §2.6 key-distance window (Series.windowDistInto): RANGE frame ----
  Q("q17_window_dist", oracle =
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily)
         |SELECT k, round(sum(v) OVER (ORDER BY k RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS wsum
         |FROM e""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val epochDay = KSeries(
        d.df.select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v")),
        ordered = true)
      Windowing.windowDistInto(epochDay, 7)(sum)
        .select(col("k"), round(col("v"), 4).as("wsum"))
  }

  // ---- §2.7 fillMissing Forward over a realigned grid ----
  Q("q18_fill_forward", oracle =
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT k, round(last_value(v IGNORE NULLS) OVER (
         |  ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS filled
         |FROM re""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      // sparse: drop ~2/3 of days, realign to the full calendar, fill forward
      val sparse = d.filterAll((k, v) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      sparse.realign(grid, "day").copy(ordered = true).fillForward()
        .df.select(col("k"), round(col("v"), 4).as("filled"))
  }

  // ---- §2.7 fillMissingWith constant + dropMissing count ----
  Q("q19_fill_const", oracle =
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT round(sum(coalesce(v,0)),4) AS sum_filled, count(*) AS n_total,
         |(SELECT count(v) FROM re) AS n_present FROM re""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val sparse = d.filterAll((k, v) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val re = sparse.realign(grid, "day")
      re.fillWith(0.0).df
        .agg(round(sum(col("v")), 4).as("sum_filled"),
          count(col("v")).as("n_total"))
        .crossJoin(re.dropMissing.df.agg(count(lit(1)).as("n_present")))
  }

  // ---- §2.4 as-of join, Lookup.NearestSmaller ----
  Q("q20_asof_smaller", oracle =
      s"""$dailySql, grid AS (
         |SELECT unnest(generate_series(
         |  (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g)
         |SELECT g, round((SELECT v FROM daily d WHERE d.k <= g.g AND d.v IS NOT NULL
         |                 ORDER BY d.k DESC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(
          date_add(col("lo"), 3), col("hi"), expr("interval 11 days"))).as("g"))
      AsOf.join(grid, "g", d.df, "k", Seq("v"), Lookup.NearestSmaller)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
  }

  // ---- §2.4 as-of join, Lookup.NearestGreater ----
  Q("q21_asof_greater", oracle =
      s"""$dailySql, grid AS (
         |SELECT unnest(generate_series(
         |  (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g)
         |SELECT g, round((SELECT v FROM daily d WHERE d.k >= g.g AND d.v IS NOT NULL
         |                 ORDER BY d.k ASC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(
          date_add(col("lo"), 3), col("hi"), expr("interval 11 days"))).as("g"))
      AsOf.join(grid, "g", d.df, "k", Seq("v"), Lookup.NearestGreater)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
  }

  // ---- §2.7 resampleEquiv (chunk by key projection = month) ----
  Q("q22_resample_month", oracle =
      s"""$dailySql
         |SELECT date_trunc('month', k)::DATE AS k, round(sum(v),4) AS total, count(v) AS n_days
         |FROM daily GROUP BY 1""".stripMargin) { (s, dir) =>
      Resample.resampleEquiv(daily(s, dir), k => trunc(k, "month"))(
        (sum(_), "total"), (count(_), "n_days"))
        .select(col("k"), round(col("total"), 4).as("total"), col("n_days"))
  }

  // ---- §2.7 sampleTime (uniform time grid aggregation, hourly) ----
  Q("q23_sample_time", oracle =
      """SELECT CAST(floor(epoch(date_trunc('second', ts))/3600)*3600 AS BIGINT) AS k,
        |count(*) AS n, round(sum(value),4) AS total
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val series = KSeries(e.select(col("ts").as("k"), col("value").as("v")), ordered = true)
      Resample.sampleTime(series, 3600)(
        (count(_), "n"), (sum(_), "total"))
        .select(col("k"), col("n"), round(col("total"), 4).as("total"))
  }

  // ---- §2.6 windowWhile sessions: gap-based sessionization ----
  Q("q24_sessionize", oracle =
      """WITH g AS (
        |SELECT user_id, ts, event_id, value,
        |CASE WHEN lag(ts) OVER w IS NULL
        |  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30*60*1000 THEN 1 ELSE 0 END AS new_sess
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |SELECT user_id, ts, value,
        |sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |FROM g)
        |SELECT user_id, epoch_ms(min(ts)) AS sess_start, count(*) AS n_events,
        |round(sum(value),4) AS sum_value
        |FROM sess GROUP BY user_id, sess_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapped = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 30L * 60 * 1000, 1)
            .otherwise(0))
      gapped.withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(unix_millis(min(col("ts"))).as("sess_start"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .drop("sess_id")
  }

  // ---- §2.3 ordered key-range slicing (Between) ----
  Q("q29_slice_between", oracle =
      s"""$dailySql
         |SELECT k, round(v,4) AS v FROM daily
         |WHERE k >= DATE '1996-03-01' AND k <= DATE '1996-06-30'""".stripMargin) { (s, dir) =>
      daily(s, dir)
        .between(lit("1996-03-01").cast("date"), lit("1996-06-30").cast("date"))
        .df.select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.4 series Union with PreferLeft overlap policy ----
  Q("q30_union_prefer", oracle =
      s"""$dailySql,
         |h1 AS (SELECT k, v*2.0 AS v FROM daily WHERE month(k) <= 6),
         |h2 AS (SELECT k, v FROM daily WHERE month(k) >= 4)
         |SELECT coalesce(h1.k, h2.k) AS k, round(coalesce(h1.v, h2.v),4) AS v
         |FROM h1 FULL OUTER JOIN h2 ON h1.k = h2.k""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val h1 = d.filterAll((k, _) => month(k) <= 6).mapValues(_ * 2.0)
      val h2 = d.filterAll((k, _) => month(k) >= 4)
      h1.union(h2, UnionBehavior.PreferLeft)
        .df.select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.2 GetItems / Realign with exact lookup ----
  Q("q31_realign", oracle =
      s"""$dailySql, grid AS (
         |SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 7 DAY))::DATE AS g)
         |SELECT g.g AS k, round(d.v,4) AS v FROM grid g LEFT JOIN daily d ON g.g = d.k""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 7 days"))).as("g"))
      d.realign(grid, "g")
        .df.select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.7 resample with explicit boundaries, empty buckets kept ----
  Q("q34_resample_bounds", oracle =
      s"""$dailySql, bounds AS (
         |SELECT (DATE '1994-06-01' + INTERVAL (i*3) MONTH)::DATE AS b
         |FROM range(0,40) t(i)),
         |tagged AS (
         |SELECT d.k, d.v,
         |coalesce((SELECT max(b) FROM bounds WHERE b <= d.k), (SELECT min(b) FROM bounds)) AS bucket
         |FROM daily d),
         |agg AS (SELECT bucket, sum(v) AS total, count(v) AS n FROM tagged GROUP BY bucket)
         |SELECT b.b AS k, round(a.total,4) AS total, a.n AS n
         |FROM bounds b LEFT JOIN agg a ON b.b = a.bucket""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val bounds = d.df.sparkSession.range(0, 40)
        .select(add_months(lit("1994-06-01").cast("date"), col("id").cast("int") * 3).as("b"))
      Resample.resample(d, bounds, "b")((sum(_), "total"), (count(_), "n"))
        .select(col("k"), round(col("total"), 4).as("total"), col("n"))
  }

  // ---- §2.7 resampleUniform: full grid + forward gap fill ----
  Q("q35_resample_uniform", oracle =
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE month(k) <> 2 AND month(k) <> 7),
         |bucketed AS (
         |SELECT date_trunc('month', k)::DATE AS b, sum(v) AS v FROM sparse GROUP BY 1),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(b) FROM bucketed), (SELECT max(b) FROM bucketed), INTERVAL 1 MONTH))::DATE AS b),
         |j AS (SELECT g.b, bk.v FROM grid g LEFT JOIN bucketed bk ON g.b = bk.b)
         |SELECT b AS k, round(last_value(v IGNORE NULLS) OVER (
         |  ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS v
         |FROM j""".stripMargin) { (s, dir) =>
      val monthly = daily(s, dir)
      val sparse = monthly.filterAll((k, _) => month(k) =!= 2 && month(k) =!= 7)
      Resample.resampleUniform(
        sparse,
        k => trunc(k, "month").cast("date"),
        (lo, hi) => sequence(lo, hi, expr("interval 1 month")))(sum)
        .select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- session windows via the native session_window function ----
  Q("q48_session_window", oracle =
      """WITH g AS (
        |SELECT user_id, ts, value,
        |CASE WHEN lag(ts) OVER w IS NULL
        |  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |SELECT user_id, ts, value,
        |sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |FROM g)
        |SELECT user_id, epoch_ms(min(ts)) AS sess_start, count(*) AS n_events,
        |round(sum(value), 4) AS sum_value
        |FROM sess GROUP BY user_id, sess_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"), unix_millis(col("session_window.start")).as("sess_start"),
          col("n_events"), col("sum_value"))
  }

  // ---- §2.8 indexRowsOrdinally (positional index) ----
  Q("q51_ordinal", oracle =
      s"""$dailySql, o AS (
         |SELECT row_number() OVER (ORDER BY k) - 1 AS ord, v FROM daily)
         |SELECT ord, round(v, 4) AS v FROM o WHERE ord < 50""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      KFrame(d.df, Seq("k"), ordered = true).indexRowsOrdinally
        .df.where(col("__ord") < 50)
        .select(col("__ord").as("ord"), round(col("v"), 4).as("v"))
  }

  // ---- §2.4 frame.Zip cell-level combine ----
  Q("q52_frame_zip", oracle =
      s"""WITH a AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS total
         |           FROM orders GROUP BY 1),
         |     f AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS total
         |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         |SELECT coalesce(a.k, f.k) AS k,
         |round(CASE WHEN a.total IS NOT NULL AND f.total IS NOT NULL THEN a.total - f.total
         |           ELSE coalesce(a.total, f.total) END, 4) AS total
         |FROM a FULL OUTER JOIN f ON a.k = f.k""".stripMargin) { (s, dir) =>
      val all = daily(s, dir).df.withColumnRenamed("v", "total")
      val f = t(s, dir, "orders").where(col("o_orderstatus") === "F")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(col("o_totalprice")).as("total"))
      KFrame(all, Seq("k")).zip(KFrame(f, Seq("k")))(_ - _)
        .df.select(col("k"), round(col("total"), 4).as("total"))
  }

  // ---- §2.2 point lookup with as-of semantics ----
  Q("q53_lookup", oracle =
      s"""$dailySql
         |SELECT k, round(v, 4) AS v FROM daily
         |WHERE k <= DATE '1997-06-15' AND v IS NOT NULL ORDER BY k DESC LIMIT 1""".stripMargin) { (s, dir) =>
      daily(s, dir).lookup(lit("1997-06-15").cast("date"), Lookup.NearestSmaller)
        .select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.6 chunkWhile (condition-based chunks via mapPartitions) ----
  Q("q54_chunk_while", oracle =
      s"""$dailySql, o AS (
         |SELECT row_number() OVER (ORDER BY k) AS rn,
         |CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily),
         |rec AS (
         |WITH RECURSIVE r AS (
         |  SELECT rn, k, v, k AS chunk_id FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.rn, o.k, o.v,
         |    CASE WHEN o.k - r.chunk_id < 10 THEN r.chunk_id ELSE o.k END
         |  FROM r JOIN o ON o.rn = r.rn + 1)
         |SELECT * FROM r)
         |SELECT chunk_id, count(*) AS n, round(sum(v), 4) AS total
         |FROM rec GROUP BY chunk_id""".stripMargin) { (s, dir) =>
      val d = daily(s, dir).df
        .select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      // chunk while currentKey - firstKey < 10 (days)
      ChunkWhile.assign(d, "k", (first, cur) => cur - first < 10)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("total"))
  }

  // ---- §2.6 at scale: EXPANDING stats family — expanding mean from the
  //      fused rank+running-sum stitch, expanding extrema from the
  //      runningMinMax carry stitch; never a global single-task window ----
  Q("q168_expanding_stats", oracle =
      s"""$dailySql
         |SELECT k,
         |  round(sum(v) OVER w / count(v) OVER w, 6) AS exp_mean,
         |  round(min(v) OVER w, 4) AS exp_min,
         |  round(max(v) OVER w, 4) AS exp_max
         |FROM daily
         |WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      OrderedScan.runningStats(
        daily(s, dir).df, "k", "__rn", "v", "__cum", "__mn", "__mx", buckets = 16)
        .select(col("k"),
          round(col("__cum") / (col("__rn") + 1), 6).as("exp_mean"),
          round(col("__mn"), 4).as("exp_min"),
          round(col("__mx"), 4).as("exp_max"))
  }

  // ---- §2.3 takeLast n (last N by key order) ----
  Q("q55_take_last", oracle =
      s"""$dailySql
         |SELECT k, round(v,4) AS v FROM daily ORDER BY k DESC LIMIT 15""".stripMargin) { (s, dir) =>
      daily(s, dir).df.orderBy(col("k").desc).limit(15)
        .select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.3 minBy (arg-min row; reference has a copy-paste bug calling
  //      maxBy — implemented CORRECTLY here, divergence per SURVEY §7.4.8) ----
  Q("q56_minby", oracle =
      s"""$dailySql
         |SELECT k, round(v,4) AS v FROM daily ORDER BY v ASC, k ASC LIMIT 1""".stripMargin) { (s, dir) =>
      daily(s, dir).df.orderBy(col("v").asc, col("k").asc).limit(1)
        .select(col("k"), round(col("v"), 4).as("v"))
  }

  // ---- §2.4 ZipInner (both present) ----
  Q("q57_zip_inner", oracle =
      s"""$dailySql,
         |b AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v
         |      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         |SELECT daily.k AS k, round(daily.v,4) AS v1, round(b.v,4) AS v2
         |FROM daily JOIN b ON daily.k = b.k
         |WHERE daily.v IS NOT NULL AND b.v IS NOT NULL""".stripMargin) { (s, dir) =>
      val a = daily(s, dir)
      val b = KSeries(
        t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .groupBy(to_date(col("o_orderdate")).as("k"))
          .agg(sum(col("o_totalprice")).as("v")),
        ordered = true)
      a.zipInner(b)
        .select(col("k"), round(col("v1"), 4).as("v1"), round(col("v2"), 4).as("v2"))
  }

  // ---- §2.9 unary math functions over series values ----
  Q("q58_math_funcs", oracle =
      s"""$dailySql
         |SELECT k, round(ln(v),6) AS ln_v, round(sqrt(v),6) AS sqrt_v,
         |round(abs(v - 200000),4) AS abs_d,
         |sign(v - 200000)::DOUBLE AS sign_d
         |FROM daily""".stripMargin) { (s, dir) =>
      daily(s, dir).df.select(
        col("k"),
        round(log(col("v")), 6).as("ln_v"),
        round(sqrt(col("v")), 6).as("sqrt_v"),
        round(abs(col("v") - 200000), 4).as("abs_d"),
        signum(col("v") - 200000).cast("double").as("sign_d"))
  }

  // ---- §2.9 frame⊙series arithmetic (row-key-aligned scalar op) ----
  Q("q59_frame_series_arith", oracle =
      s"""$dailySql
         |SELECT o_orderkey, round(o_totalprice / d.v, 6) AS share
         |FROM orders o JOIN daily d ON CAST(o.o_orderdate AS DATE) = d.k""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("k"), col("o_totalprice"))
      val d = daily(s, dir)
      o.join(d.df, Seq("k"))
        .select(col("o_orderkey"), round(col("o_totalprice") / col("v"), 6).as("share"))
  }

  // ---- §2.6 windowWhile (overlapping predicate windows via mapPartitions) ----
  Q("q60_window_while", oracle =
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily)
         |SELECT e.k AS window_key,
         |(SELECT count(*) FROM e e2 WHERE e2.k >= e.k AND e2.k < e.k + 7) AS n,
         |(SELECT round(sum(v),4) FROM e e2 WHERE e2.k >= e.k AND e2.k < e.k + 7) AS total
         |FROM e""".stripMargin) { (s, dir) =>
      val d = daily(s, dir).df
        .select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      ChunkWhile.windowAssign(d, "k", (first, cur) => cur - first < 7)
        .groupBy(col("window_key"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("total"))
  }

  // ---- §2.7 resample with Backward direction (key = chunk max bound) ----
  Q("q63_resample_backward", oracle =
      s"""$dailySql, bounds AS (
         |SELECT (DATE '1994-06-01' + INTERVAL (i*3) MONTH)::DATE AS b
         |FROM range(0,40) t(i)),
         |tagged AS (
         |SELECT d.k, d.v,
         |coalesce((SELECT min(b) FROM bounds WHERE b >= d.k), (SELECT max(b) FROM bounds)) AS bucket
         |FROM daily d),
         |agg AS (SELECT bucket, sum(v) AS total, count(v) AS n FROM tagged GROUP BY bucket)
         |SELECT b.b AS k, round(a.total,4) AS total, a.n AS n
         |FROM bounds b LEFT JOIN agg a ON b.b = a.bucket""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val bounds = d.df.sparkSession.range(0, 40)
        .select(add_months(lit("1994-06-01").cast("date"), col("id").cast("int") * 3).as("b"))
      Resample.resample(d, bounds, "b", Lookup.NearestGreater)((sum(_), "total"), (count(_), "n"))
        .select(col("k"), round(col("total"), 4).as("total"), col("n"))
  }

  // ---- §2.7 lookupTime: as-of value at uniform grid instants ----
  Q("q64_lookup_time", oracle =
      """WITH m AS (
        |SELECT CAST(floor(epoch(date_trunc('second', ts))/60)*60 AS BIGINT) AS k,
        |sum(value) AS v FROM events GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(
        |  (SELECT min(k) FROM m), (SELECT max(k) FROM m), 97*60)) AS g)
        |SELECT g, round((SELECT v FROM m WHERE m.k <= g.g AND m.v IS NOT NULL
        |                 ORDER BY m.k DESC LIMIT 1),4) AS v
        |FROM grid g""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val perMin = KSeries(
        e.groupBy((floor(unix_timestamp(col("ts")) / 60) * 60).cast("long").as("k"))
          .agg(sum(col("value")).as("v")),
        ordered = true)
      val grid = e.agg(
        (floor(unix_timestamp(min(col("ts")))/60)*60).cast("long").as("lo"),
        (floor(unix_timestamp(max(col("ts")))/60)*60).cast("long").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(97L * 60))).as("g"))
      Resample.lookupTime(perMin, grid, "g")
        .select(col("g"), round(col("v"), 4).as("v"))
  }

  // ---- scale path: distributed global forward fill (two-level scan;
  //      same semantics as q18's single-window form) ----
  Q("q71_scan_ffill", oracle =
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT k, round(last_value(v IGNORE NULLS) OVER (
         |  ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS filled
         |FROM re""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val sparse = d.filterAll((k, v) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val re = sparse.realign(grid, "day")
      OrderedScan.forwardFill(re.df, "k", Seq("v"), buckets = 16)
        .select(col("k"), round(col("v"), 4).as("filled"))
  }

  // ---- scale path: distributed global running sum ----
  Q("q72_scan_cumsum", oracle =
      s"""$dailySql
         |SELECT k, round(sum(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS cum
         |FROM daily""".stripMargin) { (s, dir) =>
      OrderedScan.runningSum(daily(s, dir).df, "k", "v", "cum", buckets = 16)
        .select(col("k"), round(col("cum"), 4).as("cum"))
  }

  // ---- scale path: distributed global row numbering ----
  Q("q73_scan_rownum", oracle =
      s"""$dailySql
         |SELECT k, row_number() OVER (ORDER BY k) - 1 AS ord FROM daily""".stripMargin) { (s, dir) =>
      OrderedScan.rowNumber(daily(s, dir).df, "k", "ord", buckets = 16)
        .select(col("k"), col("ord"))
  }

  // ---- §2.2 ColumnsDense family: per-column missing counts ----
  Q("q80_missing_stats", oracle =
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v, coalesce(s.v, 0) AS v2 FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT 'v' AS "column", count(*) - count(v) AS n_missing FROM re
         |UNION ALL SELECT 'v2', count(*) - count(v2) FROM re""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val sparse = d.filterAll((k, _) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val re = sparse.realign(grid, "day").df
        .withColumn("v2", coalesce(col("v"), lit(0.0)))
      KFrame(re, Seq("k")).colStats(c => count(lit(1)) - count(col(c)))
        .select(col("column"), col("value").cast("long").as("n_missing"))
  }

  // ---- §2.6 ordered analytics PARTITIONED by a natural key: the 100 TB
  //      shape (per-user series; window parallelizes across users) ----
  Q("q83_per_user_diff", oracle =
      """SELECT user_id, event_id,
        |round(value - lag(value) OVER w, 6) AS dv,
        |round(last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ffilled
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 6).as("dv"),
        round(last(col("value"), ignoreNulls = true).over(
          w.rowsBetween(Window.unboundedPreceding, 0)), 6).as("ffilled"))
  }

  // ---- §2.9 series Pow + scalar⊙series (reference Series.fs:584-634) ----
  Q("q84_pow_scalar", oracle =
      s"""$dailySql
         |SELECT k, round(pow(v/1000.0, 2), 6) AS v_sq, round(1000000.0/v, 6) AS inv
         |FROM daily""".stripMargin) { (s, dir) =>
      daily(s, dir).df.select(col("k"),
        round(pow(col("v") / 1000.0, 2), 6).as("v_sq"),
        round(lit(1e6) / col("v"), 6).as("inv"))
  }

  // ---- §2.4 as-of via BROADCAST (probe-parallel scale path; same
  //      semantics as q20's union+window form, same oracle shape) ----
  Q("q85_asof_broadcast", oracle =
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily),
         |grid AS (
         |SELECT CAST(epoch(CAST(g AS TIMESTAMP))/86400 AS BIGINT) AS g FROM (
         |  SELECT unnest(generate_series(
         |    (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g))
         |SELECT g, round((SELECT v FROM e WHERE e.k <= g.g AND e.v IS NOT NULL
         |                 ORDER BY e.k DESC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val epochDaily = d.df.select(
        datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(
          date_add(col("lo"), 3), col("hi"), expr("interval 11 days"))).as("g0"))
        .select(datediff(col("g0"), lit("1970-01-01")).cast("long").as("g"))
      AsOf.broadcastJoin(grid, "g", epochDaily, "k", "v", Lookup.NearestSmaller)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
  }

  // ---- §2.4 as-of through the NATIVE Catalyst node (AsOfJoinExec) ----
  Q("q86_asof_native", oracle =
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily),
         |grid AS (
         |SELECT CAST(epoch(CAST(g AS TIMESTAMP))/86400 AS BIGINT) AS g FROM (
         |  SELECT unnest(generate_series(
         |    (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g))
         |SELECT g, round((SELECT v FROM e WHERE e.k >= g.g AND e.v IS NOT NULL
         |                 ORDER BY e.k ASC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val epochDaily = d.df.select(
        datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(
          date_add(col("lo"), 3), col("hi"), expr("interval 11 days"))).as("g0"))
        .select(datediff(col("g0"), lit("1970-01-01")).cast("long").as("g"))
      AsOf.joinNative(grid, "g", epochDaily, "k", "v", Lookup.NearestGreater)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
  }

  // ---- §2.6 per-group EWMA: one shuffle on the group key, exact
  //      sequential recurrence within groups (hash-exact vs the
  //      recursive SQL oracle — same IEEE ops in the same order) ----
  Q("q112_ewma_by_user", oracle =
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |w(user_id, event_id, rn, y) AS (
        |  SELECT user_id, event_id, rn, value FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn, 0.2*e.value + 0.8*w.y
        |  FROM e JOIN w ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, round(y, 6) AS ewma FROM w""".stripMargin) { (s, dir) =>
      OrderedScan.ewmaByGroup(t(s, dir, "events"),
        "user_id", "event_id", "value", alpha = 0.2, outCol = "ewma")
        .select(col("user_id"), col("event_id"), round(col("ewma"), 6).as("ewma"))
  }

  // ---- §2.6 at scale: DISTRIBUTED sliding count-window (the bounded-
  //      overlap stitch behind the windowInto auto-route — no global
  //      WindowExec anywhere; buckets=32 exercises warm-up shipping).
  //      Fixed-point values make the window sums hash-exact. ----
  Q("q128_window_stitch", oracle =
      """WITH e AS (SELECT event_id AS k, CAST(floor(value * 1024) AS BIGINT) AS v FROM events)
        |SELECT k, CAST(sum(v) OVER (ORDER BY k ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS wsum FROM e""".stripMargin) { (s, dir) =>
      val series = t(s, dir, "events").select(col("event_id").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingAgg(series, "k", "v", 50, Boundary.AtBeginning,
        sum, "v", buckets = 32)
        .select(col("k"), col("v").as("wsum"))
  }

  // ---- §2.6 at scale: DISTRIBUTED key-distance (RANGE) window — the
  //      stitch behind the windowDistInto auto-route; events within the
  //      trailing hour, shipped across epoch-second range buckets ----
  Q("q129_windowdist_stitch", oracle =
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS k,
        |           CAST(floor(value * 1024) AS BIGINT) AS v FROM events)
        |SELECT k, CAST(sum(v) OVER (ORDER BY k RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS wsum FROM e""".stripMargin) { (s, dir) =>
      val series = t(s, dir, "events").select(col("ts").cast("long").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingRangeAgg(series, "k", "v", 3600L, sum, "v", buckets = 32)
        .select(col("k"), col("v").as("wsum"))
  }

  // ---- §2.6 at scale: DISTRIBUTED fixed chunking (chunkInto auto-route
  //      target): global ranks from bucket starts, then one map-side-
  //      partial groupBy on the chunk id — no window at all ----
  Q("q130_chunk_stitch", oracle =
      """WITH e AS (SELECT event_id AS k, CAST(floor(value * 1024) AS BIGINT) AS v FROM events),
        |o AS (SELECT k, v, row_number() OVER (ORDER BY k) - 1 AS ord FROM e)
        |SELECT min(k) AS k, CAST(sum(v) AS BIGINT) AS chunk_sum, count(*) AS n
        |FROM o GROUP BY CAST(floor(ord / 500.0) AS BIGINT) HAVING count(*) = 500""".stripMargin) { (s, dir) =>
      val series = t(s, dir, "events").select(col("event_id").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.chunkAgg(series, "k", "v", 500, Boundary.Skip,
        Seq((sum(_), "chunk_sum"), (count(_), "n")), buckets = 32)
        .select(col("k"), col("chunk_sum"), col("n"))
  }

  // ---- §2.6 at scale: forward-anchored (AtEnding) DISTRIBUTED sliding
  //      window — the descending stitch; Skip drops incomplete trailing
  //      windows; frames must read ascending-by-key (order-sensitive
  //      agg parity is spec'd, the sum here is the oracle check) ----
  Q("q136_window_forward_stitch", oracle =
      """WITH e AS (SELECT event_id AS k, CAST(floor(value * 1024) AS BIGINT) AS v FROM events),
        |w AS (SELECT k,
        |  sum(v) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS wsum,
        |  count(*) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS c
        |  FROM e)
        |SELECT k, CAST(wsum AS BIGINT) AS wsum FROM w WHERE c = 50""".stripMargin) { (s, dir) =>
      val series = t(s, dir, "events").select(col("event_id").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingAgg(series, "k", "v", 50, Boundary.Skip,
        sum, "v", buckets = 32, descending = true)
        .select(col("k"), col("v").as("wsum"))
  }

  // ---- §2.6 at scale: key-distance stitch over FRACTIONAL keys — rows
  //      that are RANGE peers only after the long cast (4 per integer,
  //      .0/.25/.5/.75 — exact in binary) must never straddle a bucket
  //      boundary (the stitch buckets on the CAST key); certifies the
  //      peer-alignment fix cross-engine ----
  Q("q137_windowdist_fractional", oracle =
      """WITH e AS (SELECT floor(event_id / 4) + (event_id % 4) * 0.25 AS k,
        |           CAST(floor(value * 1024) AS BIGINT) AS v FROM events)
        |SELECT CAST(k * 4 AS BIGINT) AS k4,
        |       CAST(sum(v) OVER (ORDER BY CAST(floor(k) AS BIGINT)
        |            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS wsum
        |FROM e""".stripMargin) { (s, dir) =>
      val series = t(s, dir, "events").select(
        (floor(col("event_id") / 4) + (col("event_id") % 4) * 0.25).as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingRangeAgg(series, "k", "v", 7L, sum, "v", buckets = 32)
        .select((col("k") * 4).cast("long").as("k4"), col("v").as("wsum"))
  }

  // ---- §2.6: rolling MEDIAN — a non-algebraic (holistic) aggregate
  //      through the same generic windowInto builder the algebraic aggs
  //      use (the reference aggregates arbitrary stats over windows);
  //      exact interpolated percentile == DuckDB quantile_cont ----
  Q("q152_rolling_median", oracle =
      s"""$dailySql
         |SELECT k, round(quantile_cont(v, 0.5) OVER
         |  (ORDER BY k ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
         |FROM daily""".stripMargin) { (s, dir) =>
      Windowing.windowInto(daily(s, dir), 7, Boundary.AtBeginning)(
          c => percentile(c, lit(0.5)))
        .select(col("k"), round(col("v"), 4).as("med7"))
  }

  // ---- §2.6 at scale: STRING-keyed distributed ordered scan — doc-hash
  //      keys (the 100 TB norm) bucket on sampled lexicographic
  //      boundaries, never a numeric proxy; positional shift in exact
  //      md5-key order vs DuckDB's lag ----
  Q("q134_string_key_scan", oracle =
      """WITH e AS (SELECT md5(doc_id::VARCHAR) AS k, n_chars::DOUBLE AS v FROM documents)
        |SELECT k, lag(v, 1) OVER (ORDER BY k) AS prev_chars FROM e""".stripMargin) { (s, dir) =>
      val series = t(s, dir, "documents").select(
        md5(col("doc_id").cast("string")).as("k"), col("n_chars").cast("double").as("v"))
      OrderedScan.shift(series, "k", Seq("v"), 1, buckets = 16)
        .select(col("k"), col("v").as("prev_chars"))
  }

  // ---- §2.5 quantile family: exact interpolated quantiles through the
  //      KSeries surface (hash-green); the sketch path (approxQuantiles,
  //      one-pass mergeable summary for 100 TB) is engine-specific and
  //      error-bound-spec'd against this exact form in KSeriesSpec ----
  Q("q131_quantile_family", oracle =
      """SELECT round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val series = KSeries(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity").as("v")))
      series.quantiles(Seq(0.25, 0.5, 0.75, 0.95))
        .select(round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p75"), 6).as("p75"), round(col("p95"), 6).as("p95"))
  }

  // ---- §2.4 series-level zipAlign (reference zipAlignInto): daily
  //      totals as-of-aligned to their month anchor, ratio combined —
  //      verified against DuckDB's native ASOF JOIN ----
  Q("q121_series_zipalign", oracle =
      """WITH a AS (SELECT o_orderdate AS k, sum(o_totalprice) AS v FROM orders GROUP BY 1),
        |b AS (SELECT date_trunc('month', o_orderdate)::DATE AS k, sum(o_totalprice) AS v
        |      FROM orders GROUP BY 1)
        |SELECT a.k, round(a.v / b.v, 6) AS v
        |FROM a ASOF JOIN b ON a.k >= b.k""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val daily = KSeries(
        orders.groupBy(col("o_orderdate").as("k"))
          .agg(sum(col("o_totalprice")).as("v")), ordered = true)
      val monthly = KSeries(
        orders.groupBy(trunc(col("o_orderdate"), "month").as("k"))
          .agg(sum(col("o_totalprice")).as("v")), ordered = true)
      daily.zipAlign(monthly, JoinKind.Left, Lookup.NearestSmaller)(
        (l, r) => round(l / r, 6)).df
  }

  // ---- additive range join: events ↦ overlapping 3-day audit windows
  //      via the grid-bucketed equi-join (no BNLJ, no cartesian) ----
  Q("q106_interval_join", oracle =
      """WITH e AS (SELECT event_id,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, value FROM events),
        |b AS (SELECT min(sec) AS lo, max(sec) AS hi FROM e),
        |w AS (SELECT unnest(generate_series(lo, hi, 604800)) AS w_start FROM b),
        |j AS (SELECT w.w_start, e.value FROM w JOIN e
        |      ON e.sec >= w.w_start AND e.sec < w.w_start + 259200)
        |SELECT w_start, count(*) AS n, round(sum(value), 4) AS total
        |FROM j GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("event_id"), col("ts").cast("long").as("sec"), col("value"))
      val wk = e.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(604800L))).as("w_start"))
        .withColumn("w_end", col("w_start") + 259200L)
      RangeJoin.pointInInterval(e, "sec", wk, "w_start", "w_end", cellWidth = 86400L)
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
  }

  // ---- §2.6 additive rolling-stats family: 30-day RANGE-frame corr /
  //      variance / extrema between the F and O order series ----
  Q("q105_rolling_stats", oracle =
      """WITH fo AS (SELECT CAST(o_orderdate AS DATE) AS k,
        |  sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS f,
        |  sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS o
        |  FROM orders GROUP BY 1),
        |d AS (SELECT k, f, o, (k - DATE '1970-01-01') AS day FROM fo)
        |SELECT k,
        |round(corr(f, o) OVER w, 6) AS corr30,
        |round(stddev_samp(f) OVER w, 2) AS sd30,
        |round(max(f) OVER w, 4) AS max30,
        |count(f) OVER w AS n30
        |FROM d WINDOW w AS (ORDER BY day RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val fo = o.groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("f"),
          sum(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("o"))
      val w = Window.orderBy(col("day"))
        .rangeBetween(-29, Window.currentRow)
      fo.withColumn("day", datediff(col("k"), lit("1970-01-01")))
        .select(col("k"),
          round(corr(col("f"), col("o")).over(w), 6).as("corr30"),
          round(stddev_samp(col("f")).over(w), 2).as("sd30"),
          round(max(col("f")).over(w), 4).as("max30"),
          count(col("f")).over(w).as("n30"))
  }

  // ---- additive ranking family (absent in reference; §2.6 last row) ----
  Q("q90_rank_family", oracle =
      s"""$dailySql, r AS (
         |SELECT k,
         |rank() OVER w AS rnk,
         |dense_rank() OVER w AS drnk,
         |ntile(4) OVER w AS quartile,
         |round(percent_rank() OVER w, 6) AS prank
         |FROM daily WINDOW w AS (ORDER BY v ASC, k ASC))
         |SELECT * FROM r WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      val d = daily(s, dir)
      val w = Window.orderBy(col("v").asc, col("k").asc)
      d.df.select(col("k"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("prank"))
        .where(col("rnk") <= 20)
  }

  // ---- §2.6 additive EWM family: per-month EWMA of the daily series,
  //      α=1/2 so every halving is an exact exponent shift — the
  //      sequential per-group recurrence is bit-identical to the
  //      recursive SQL oracle. The GLOBAL two-level stitched form
  //      (KSeries.ewma) stays spec-certified at ≤1e-12 relative vs the
  //      sequential loop (OrderedScanSpec) — its carry composition
  //      reorders float adds, which no SQL oracle can replay exactly ----
  // value = daily ORDER COUNT (≤7 bits) and α=1/2: every e_t is a dyadic
  // rational within 38 mantissa bits, so NO floating-point rounding ever
  // happens on either engine and the raw doubles hash-match bit-for-bit
  // (daily $-totals would round from step ~23 — still same-op-order
  // deterministic, but then Spark's BigDecimal HALF_UP round() vs
  // DuckDB's can split on a .005 boundary, observed at sf0.01 row 375)
  Q("q103_ewma", oracle =
      // q103: per-month EWMA of daily order counts, α=1/2 — every value is a
      // dyadic rational within double precision, so the recursive CTE's
      // doubles match the engine's bit-for-bit with NO rounding applied
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS k, count(*)::DOUBLE AS v
        |  FROM orders GROUP BY 1),
        |d AS (SELECT date_trunc('month', k)::DATE AS m, k, v,
        |      row_number() OVER (PARTITION BY date_trunc('month', k) ORDER BY k) AS rn
        |      FROM daily),
        |w(m, k, rn, y) AS (
        |  SELECT m, k, rn, v FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.m, d.k, d.rn, 0.5*d.v + 0.5*w.y
        |  FROM d JOIN w ON d.m = w.m AND d.rn = w.rn + 1)
        |SELECT m, k, y AS ewma FROM w""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(count(lit(1)).cast("double").as("v"))
        .withColumn("m", trunc(col("k"), "month").cast("date"))
      OrderedScan.ewmaByGroup(d, "m", "k", "v", alpha = 0.5, outCol = "ewma")
        .select(col("m"), col("k"), col("ewma"))
  }

  // ---- §2.2/§2.1 combined construction+projection surface: FromRecords,
  //      mapKeys, mapAll, addSeries, getSeriesAs — the previously
  //      spec-only rows, end-to-end against one oracle ----
  Q("q94_series_ops", oracle =
      s"""$dailySql,
         |m AS (SELECT date_trunc('month', k)::DATE AS k,
         |             sum(coalesce(v,0)*2) AS total, count(v) AS n
         |      FROM daily GROUP BY 1)
         |SELECT m.k, round(m.total * f.factor, 4) AS adj_total,
         |CAST(m.n AS BIGINT) AS n
         |FROM m JOIN (VALUES (1, 1.05), (2, 0.95), (3, 1.10), (4, 1.20)) AS f(q, factor)
         |ON quarter(m.k) = f.q""".stripMargin) { (s, dir) =>
      import s.implicits._
      val d = daily(s, dir)
      // mapKeys: re-key each day to its month (orderedness invalidated)
      val monthly = d.mapKeys(k => trunc(k, "month").cast("date"))
      // mapAll: sees missingness — missing days count as 0 before doubling
      val doubled = monthly.mapAll(v => coalesce(v, lit(0.0)) * 2)
      val total = KSeries(
        doubled.df.groupBy(col("k")).agg(sum(col("v")).as("v")), ordered = false)
      val n = KSeries(
        monthly.df.groupBy(col("k")).agg(count(col("v")).cast("double").as("v")),
        ordered = false)
      // FromRecords: quarter→factor dimension from case-class-style tuples
      val dim = Seq((1, 1.05), (2, 0.95), (3, 1.10), (4, 1.20)).toDF("q", "factor")
      // addSeries: join the count series onto the totals frame by row key
      val kf = KFrame(total.df.select(col("k"), col("v").as("total")), Seq("k"))
        .addSeries("n", n)
      // getSeriesAs: runtime conversion double→long of the count column
      val nLong = kf.getSeriesAs("n", org.apache.spark.sql.types.LongType)
      KFrame(kf.df.drop("n"), Seq("k"))
        .addSeries("n", nLong)
        .addColumn("q", quarter(col("k")))
        .df.join(broadcast(dim), Seq("q"))
        .select(col("k"), round(col("total") * col("factor"), 4).as("adj_total"),
          col("n"))
  }

  // ---- §2.1 Frame.ofColumns BULK construction (reference
  //      src/Frame.fs:745-813): three independently-keyed series (F-day
  //      totals, O-day totals, all-day averages — different key
  //      coverage) assemble into one frame in ONE union+pivot shuffle,
  //      row index = key union, absent keys missing ----
  Q("q248_from_series", oracle =
      """WITH a AS (SELECT CAST(o_orderdate AS DATE) AS k, round(sum(o_totalprice), 4) AS f_total
        |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |b AS (SELECT CAST(o_orderdate AS DATE) AS k, round(sum(o_totalprice), 4) AS o_total
        |      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |c AS (SELECT CAST(o_orderdate AS DATE) AS k, round(avg(o_totalprice), 6) AS avg_all
        |      FROM orders GROUP BY 1)
        |SELECT coalesce(a.k, b.k, c.k) AS k, a.f_total, b.o_total, c.avg_all
        |FROM a FULL JOIN b ON a.k = b.k
        |       FULL JOIN c ON coalesce(a.k, b.k) = c.k""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      def daySeries(f: DataFrame => DataFrame): KSeries =
        KSeries(f(o).toDF("k", "v"), ordered = true)
      val fTot = daySeries(_.where(col("o_orderstatus") === "F")
        .groupBy(to_date(col("o_orderdate"))).agg(round(sum(col("o_totalprice")), 4)))
      val oTot = daySeries(_.where(col("o_orderstatus") === "O")
        .groupBy(to_date(col("o_orderdate"))).agg(round(sum(col("o_totalprice")), 4)))
      val avgAll = daySeries(_.groupBy(to_date(col("o_orderdate")))
        .agg(round(avg(col("o_totalprice")), 6)))
      KFrame.fromSeries(Seq(("f_total", fTot), ("o_total", oTot), ("avg_all", avgAll))).df
  }

  // ---- §2.3 endpoint accessors as named API (reference
  //      src/SeriesModule.fs:199-202): firstKey/lastKey/firstValue/
  //      lastValue/KeyRange in ONE partial-aggregable min/max +
  //      min_by/max_by pass — no global sort, no positional scan ----
  Q("q247_first_last", oracle =
      (dailySql +
        """
          |SELECT min(k) AS first_key, max(k) AS last_key,
          |  round(arg_min(v, k), 4) AS first_value,
          |  round(arg_max(v, k), 4) AS last_value
          |FROM daily""".stripMargin)) { (s, dir) =>
      daily(s, dir).firstLast
        .select(col("first_key"), col("last_key"),
          round(col("first_value"), 4).as("first_value"),
          round(col("last_value"), 4).as("last_value"))
  }
}
