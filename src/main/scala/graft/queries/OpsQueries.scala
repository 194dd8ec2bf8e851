package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Bloom, CustomAggs, Par, Sketches, Vectors => V}
import graft.operators._
import graft.queries.QueryKit._
import graft.sources.ZOrder

/** Statistics, event analytics and operations: tests and estimators,
  * funnels/cohorts/retention, sketches, graph kernels, skew handling,
  * column statistics and audits. */
object OpsQueries extends QueryFamily {

  // ---- operations at scale: JOIN-KEY SKEW report — the pre-flight
  //      profiler before a big shuffle join: top heavy keys + each key's
  //      share in ppm (decides broadcast/salt/AQE-skew strategy);
  //      one map-side-partial agg + a deterministic top-k reduce ----
  Q("q180_skew_report", oracle =
      """WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM lineitem)
        |SELECT key, n, (n * 1000000) // t.tot AS share_ppm
        |FROM c CROSS JOIN t ORDER BY n DESC, key LIMIT 20""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val counts = li.groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(li.agg(count(lit(1)).as("__tot"))))
        .withColumn("share_ppm", expr("(n * 1000000) DIV __tot"))
        .orderBy(col("n").desc, col("key").asc).limit(20)
        .select(col("key"), col("n"), col("share_ppm"))
  }

  // ---- operations at scale: COLUMN STATISTICS (the ANALYZE TABLE
  //      shape that feeds cost-based optimization): per-column distinct/
  //      null counts and min/max, ONE pass over the scan — stats many
  //      engines persist next to the data ----
  Q("q181_column_stats", oracle =
      """SELECT 'l_orderkey' AS col_name, count(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(DISTINCT l_suppkey),
        |  CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR) FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(DISTINCT l_returnflag),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(DISTINCT l_quantity),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR) FROM lineitem""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_quantity")
      // KEEP the distinct aggregates and the plain aggregates in SEPARATE
      // one-row jobs joined at the end: a single agg mixing N countDistinct
      // with min/max/sum plans ONE Expand (×N+1 rows) that drags every
      // non-distinct aggregate through the blowup — measured 5-9 s vs
      // 0.75 s + 0.5 s for the two clean scans at sf0.1 (round-14 probe;
      // the count()-forced bench had hidden this entirely)
      val dAgg = li.agg(
        countDistinct(col(cols.head)).as(s"d_${cols.head}"),
        cols.tail.map(c => countDistinct(col(c)).as(s"d_$c")): _*)
      val mAgg = li.agg(
        min(col(cols.head)).cast("string").as(s"mn_${cols.head}"),
        cols.tail.map(c => min(col(c)).cast("string").as(s"mn_$c")) ++
        cols.map(c => max(col(c)).cast("string").as(s"mx_$c")) ++
        cols.map(c => sum(col(c).isNull.cast("long")).as(s"nn_$c")): _*)
      def statsOf(c: String): Column = struct(
        lit(c).as("col_name"), col(s"d_$c").as("n_distinct"),
        col(s"nn_$c").as("n_null"), col(s"mn_$c").as("min_s"),
        col(s"mx_$c").as("max_s"))
      dAgg.crossJoin(mAgg)
        .select(explode(array(cols.map(statsOf): _*)).as("s"))
        .select(col("s.col_name"), col("s.n_distinct"), col("s.n_null"),
          col("s.min_s"), col("s.max_s"))
  }

  // ---- reporting at scale: equal-width HISTOGRAM per source — the
  //      length-distribution panel of the data card; one grouped agg,
  //      integer bucket arithmetic ----
  Q("q178_histogram", oracle =
      """WITH b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents)
        |SELECT source, least(((n_chars - b.lo) * 10) // (b.hi - b.lo + 1), 9) AS bin,
        |       count(*) AS n
        |FROM documents CROSS JOIN b
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bounds = docs.agg(min(col("n_chars")).as("__lo"), max(col("n_chars")).as("__hi"))
      docs.crossJoin(broadcast(bounds))
        .withColumn("bin",
          least(expr("((n_chars - __lo) * 10) DIV (__hi - __lo + 1)"), lit(9L)))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n"))
  }

  // ---- analytics: per-group OLS — slope/intercept/r² of price-cents on
  //      quantity per returnflag, from ONE map-side-combinable pass over
  //      exact integer sufficient statistics (no iteration; the shuffle
  //      carries 5 longs per group) ----
  Q("q190_group_ols", oracle =
      """WITH q AS (SELECT l_returnflag,
        |  CAST(l_quantity AS BIGINT) AS x,
        |  CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem),
        |a AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy FROM q GROUP BY 1),
        |c AS (SELECT l_returnflag, n,
        |  n::DOUBLE * sxy - sx::DOUBLE * sy AS cxy,
        |  n::DOUBLE * sxx - sx::DOUBLE * sx AS cxx,
        |  n::DOUBLE * syy - sy::DOUBLE * sy AS cyy,
        |  sx::DOUBLE AS sxd, sy::DOUBLE AS syd FROM a)
        |SELECT l_returnflag, n, round(cxy / cxx, 6) AS slope,
        |  round((syd - (cxy / cxx) * sxd) / n::DOUBLE, 6) AS intercept,
        |  round((cxy * cxy) / (cxx * cyy), 6) AS r2 FROM c""".stripMargin) { (s, dir) =>
      Stats.olsByGroup(t(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity"), // integral by construction (verified 0 fractional)
        // integer DOLLARS, not cents: y² sums in cents would brush the
        // int64 ceiling at sf0.1 and cross it at sf1 (ANSI sum throws)
        round(col("l_extendedprice")))
  }

  // ---- time series: autocorrelation of the daily order-revenue series
  //      at lags 1..7 — lag alignment via a self-JOIN on (day, day−l),
  //      never a global window, so the series length is unbounded;
  //      exact integer-dollar sufficient statistics ----
  Q("q193_acf", oracle =
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |  CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |pairs AS (SELECT l.lag, p.v AS x, c.v AS y
        |  FROM daily c CROSS JOIN unnest([1,2,3,4,5,6,7]) AS l(lag)
        |  JOIN daily p ON p.d = c.d - l.lag),
        |a AS (SELECT lag, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy FROM pairs GROUP BY 1)
        |SELECT lag, n, round((n::DOUBLE * sxy - sx::DOUBLE * sy)
        |  / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
        |       * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6) AS r FROM a""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice")).cast("long")).as("v"))
      Stats.acf(daily, "d", col("v"), maxLag = 7,
        (k, l) => date_sub(k, l))
  }

  // ---- operations: SNAPSHOT DIFF between two table versions — per-key
  //      added/removed/changed/unchanged census; payloads md5'd map-side
  //      so the full-outer align shuffles (key, 32B), never the wide row
  //      twice. Fixture v2 = deterministic updates (user%100=7, value
  //      +1000) + deletes (=13) + inserts (=21, shifted ids) ----
  Q("q194_snapshot_diff", oracle =
      """WITH v2 AS (
        |  SELECT event_id, ts, user_id, event_type,
        |    CASE WHEN user_id % 100 = 7 THEN value + 1000.0 ELSE value END AS value,
        |    props FROM events WHERE user_id % 100 <> 13
        |  UNION ALL
        |  SELECT event_id + 100000000, ts, user_id, event_type, value, props
        |  FROM events WHERE user_id % 100 = 21),
        |j AS (SELECT CASE
        |    WHEN a.event_id IS NULL THEN 'added'
        |    WHEN b.event_id IS NULL THEN 'removed'
        |    WHEN a.ts IS DISTINCT FROM b.ts OR a.user_id IS DISTINCT FROM b.user_id
        |      OR a.event_type IS DISTINCT FROM b.event_type
        |      OR a.value IS DISTINCT FROM b.value
        |      OR a.props IS DISTINCT FROM b.props THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |  FROM events a FULL OUTER JOIN v2 b ON a.event_id = b.event_id)
        |SELECT status, count(*) AS n FROM j GROUP BY 1""".stripMargin) { (s, dir) =>
      val v1 = t(s, dir, "events")
      val isU = pmod(col("user_id"), lit(100))
      val v2 = v1.where(isU =!= 13)
        .withColumn("value",
          when(isU === 7, col("value") + 1000.0).otherwise(col("value")))
        .unionByName(v1.where(isU === 21)
          .withColumn("event_id", col("event_id") + lit(100000000L)))
      Diff.snapshotDiff(v1, v2, "event_id")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  // ---- time series: running-max DRAWDOWN per event_type (the finance
  //      classic on the reference's home turf) — cummax minus value over
  //      the (ts, event_id)-ordered scan, fixed-point 1/64ths; per-type
  //      max drawdown / peak count / high-water mark ----
  Q("q195_drawdown", oracle =
      """WITH s AS (SELECT event_type, epoch_us(ts) AS o, event_id,
        |  CAST(floor(value * 64) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v,
        |  max(v) OVER (PARTITION BY event_type ORDER BY o, event_id
        |               ROWS UNBOUNDED PRECEDING) AS hwm FROM s)
        |SELECT event_type, count(*) AS n,
        |  CAST(max(hwm - v) AS BIGINT) AS max_drawdown,
        |  CAST(sum(CASE WHEN hwm = v THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
        |  CAST(max(v) AS BIGINT) AS high_water
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      Stats.drawdownSummary(t(s, dir, "events"), "event_type",
        unix_micros(col("ts")), col("event_id"), floor(col("value") * 64))
  }

  // ---- skew at scale: two-phase SALTED AGGREGATION — the hot group key
  //      spreads over 8 salt sub-keys in phase 1, phase 2 merges the
  //      algebraic partials; output identical to the plain groupBy ----
  Q("q157_salted_agg", oracle =
      """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
        |count(*) AS n_rows, round(min(l_extendedprice), 4) AS min_price,
        |round(max(l_extendedprice), 4) AS max_price
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      Skew.saltedAgg(
        t(s, dir, "lineitem").select(
          col("l_returnflag"), col("l_quantity"), col("l_extendedprice")),
        "l_returnflag",
        Seq(
          "sum_qty" -> ("sum", "l_quantity"),
          "n_rows" -> ("count", ""),
          "min_price" -> ("min", "l_extendedprice"),
          "max_price" -> ("max", "l_extendedprice")),
        salts = 8)
        .select(col("l_returnflag"), round(col("sum_qty"), 4).as("sum_qty"),
          col("n_rows"), round(col("min_price"), 4).as("min_price"),
          round(col("max_price"), 4).as("max_price"))
  }

  // ---- §2.10 custom typed Aggregators (Series.stat / reduce surface) ----
  Q("q68_custom_agg", oracle =
      """SELECT l_returnflag,
        |round(sum(l_extendedprice*l_quantity)/sum(l_quantity),4) AS wmean_price,
        |round(exp(avg(ln(l_quantity))),4) AS gmean_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(CustomAggs.weightedMean(col("l_extendedprice"), col("l_quantity")), 4)
            .as("wmean_price"),
          round(CustomAggs.geoMean(col("l_quantity")), 4).as("gmean_qty"))
  }

  // ---- skew: salted equi-join — result-identical to the plain join by
  //      construction, so the plain join IS the oracle; the salt spreads
  //      a hot key over `salts` tasks (the big-hammer beyond AQE) ----
  Q("q126_salted_join", oracle =
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey")
      val cust = t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey")
      Skew.saltedJoin(orders, cust, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total"))
  }

  // ---- events: ACTIVITY HEATMAP — counts per (event_type, UTC hour of
  //      day): the load-profile panel; pure integer arithmetic on epoch
  //      seconds, one grouped agg ----
  Q("q291_hourly_heatmap", oracle =
      """SELECT event_type,
        |  (CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) % 86400) // 3600 AS hour,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          expr("(CAST(unix_timestamp(ts) AS BIGINT) % 86400) DIV 3600").as("hour"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"))
  }

  // ---- stats: ROBUST dispersion per group — median, MAD (median
  //      absolute deviation) and IQR: the outlier-immune companions of
  //      q10's moment stats (exact interpolated percentiles both
  //      engines; the per-group median joins back broadcast) ----
  Q("q289_robust_stats", oracle =
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  round(any_value(m.med), 6) AS median_qty,
        |  round(quantile_cont(abs(l.l_quantity - m.med), 0.5), 6) AS mad,
        |  round(quantile_cont(l.l_quantity, 0.75) - quantile_cont(l.l_quantity, 0.25), 6) AS iqr
        |FROM lineitem l JOIN m USING (l_returnflag) GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      val med = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5D)").as("med"))
      li.join(broadcast(med), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(first(col("med")), 6).as("median_qty"),
          round(expr("percentile(abs(l_quantity - med), 0.5D)"), 6).as("mad"),
          round(expr("percentile(l_quantity, 0.75D) - percentile(l_quantity, 0.25D)"), 6)
            .as("iqr"))
  }

  // ---- events: RETENTION COHORT matrix — users bucketed by first-seen
  //      epoch week, distinct-active counts per (cohort, week offset);
  //      the standard engagement panel. Two shuffles: first-seen agg +
  //      the cohort-join census, both on user_id ----
  Q("q283_retention_cohorts", oracle =
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) // 604800 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          expr("CAST(unix_timestamp(ts) AS BIGINT) DIV 604800").as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
  }

  // ---- events: TYPE-TRANSITION matrix — per-user event-order Markov
  //      counts over (ts, event_id)-deterministic ordering; session-flow
  //      structure at a glance (integer counts) ----
  Q("q284_event_transitions", oracle =
      """WITH o AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
  }

  // ---- §2.5 higher-moment stats: skewness/kurtosis builtins (population
  //      definitions; oracle recomputes from raw central moments since
  //      DuckDB's builtins use the sample-corrected forms) ----
  Q("q107_moments", oracle =
      """WITH mu AS (SELECT l_returnflag, avg(l_extendedprice) AS mu
        |            FROM lineitem GROUP BY 1),
        |c AS (SELECT l.l_returnflag, count(*) AS n,
        |  avg(pow(l_extendedprice - mu, 2)) AS m2,
        |  avg(pow(l_extendedprice - mu, 3)) AS m3,
        |  avg(pow(l_extendedprice - mu, 4)) AS m4
        |  FROM lineitem l JOIN mu USING (l_returnflag) GROUP BY 1)
        |SELECT l_returnflag, round(m3 / pow(m2, 1.5), 6) AS skew,
        |round(m4 / (m2*m2) - 3, 6) AS kurt, n
        |FROM c""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(skewness(col("l_extendedprice")), 6).as("skew"),
          round(kurtosis(col("l_extendedprice")), 6).as("kurt"),
          count(lit(1)).as("n"))
  }

  // ---- events: ordered 3-step funnel (view → click → purchase) over
  //      the first 72 h of the log (start = a 1-row broadcast min, so
  //      the slice is SF-relative, not a hardcoded date) — ONE shuffle
  //      on user_id, step times chained by codegen'd filter/array_min
  //      HOFs; the oracle replays the k-join form ----
  Q("q196_funnel", oracle =
      """WITH e AS (SELECT * FROM events
        |  WHERE ts < (SELECT min(ts) FROM events) + INTERVAL 72 HOURS),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM s1) AS c1,
        |  (SELECT count(*) FROM s2) AS c2, (SELECT count(*) FROM s3) AS c3)
        |SELECT 1 AS step, 'view' AS step_name, c1 AS entities,
        |  c1 * 1000000 // c1 AS conv_ppm FROM c
        |UNION ALL SELECT 2, 'click', c2, c2 * 1000000 // c1 FROM c
        |UNION ALL SELECT 3, 'purchase', c3, c3 * 1000000 // c1 FROM c""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val lo = ev.agg(min(col("ts")).as("__lo"))
      val sliced = ev.crossJoin(broadcast(lo))
        .where(col("ts") < col("__lo") + expr("INTERVAL 72 HOURS"))
      Events.funnel(sliced, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
  }

  // ---- events: weekly cohort retention triangle — cohort = Monday week
  //      of first event; two entity-keyed hash aggs + one entity-keyed
  //      equi-join over the (entity, week) projection, never the raw
  //      log; exact integer day-diff DIV 7 offsets ----
  Q("q197_cohort_retention", oracle =
      """WITH f AS (SELECT user_id,
        |  CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT f.cohort_week,
        |  CAST(a.wk - f.cohort_week AS BIGINT) // 7 AS week_offset,
        |  count(*) AS entities
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Events.cohortRetention(t(s, dir, "events"), "user_id", "ts")
  }

  // ---- stats: two-sample Kolmogorov-Smirnov drift between the doc-
  //      length distributions of sources src0-9 vs src10-19 — exact
  //      integer D (suprema at sample points ⇒ |r1·n2 − r2·n1|),
  //      cumulatives ride ONE fused two-column OrderedScan stitch over
  //      the value-distinct domain (no global window) ----
  Q("q198_ks_drift", oracle =
      """WITH d AS (SELECT n_chars AS v,
        |  CASE WHEN length(source) = 4 THEN 1 ELSE 0 END AS a FROM documents),
        |pv AS (SELECT v, CAST(sum(a) AS BIGINT) AS c1,
        |  CAST(sum(1 - a) AS BIGINT) AS c2 FROM d GROUP BY 1),
        |c AS (SELECT v, CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS r1,
        |  CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS r2 FROM pv),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |  CAST(sum(c2) AS BIGINT) AS n2 FROM pv)
        |SELECT t.n1, t.n2, max(abs(r1 * t.n2 - r2 * t.n1)) AS d_num,
        |  max(abs(r1 * t.n2 - r2 * t.n1)) * 1000000 // (t.n1 * t.n2) AS ks_ppm
        |FROM c, t GROUP BY t.n1, t.n2""".stripMargin) { (s, dir) =>
      Stats.ksDrift(t(s, dir, "documents"), col("n_chars"),
        length(col("source")) === 4, length(col("source")) =!= 4)
  }

  // ---- events: first-order Markov transition matrix of event types —
  //      entity-partitioned lag (key-parallel, (ts, event_id) tie-break)
  //      into a |types|²-keyed agg; fixed-point row-conditional p_ppm ----
  Q("q200_markov", oracle =
      """WITH p AS (SELECT user_id, event_type, lag(event_type) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
        |c AS (SELECT prev AS prev_type, event_type AS next_type,
        |  count(*) AS transitions FROM p WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, transitions,
        |  transitions * 1000000 //
        |    CAST(sum(transitions) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_ppm
        |FROM c""".stripMargin) { (s, dir) =>
      Events.markovTransitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
  }

  // ---- events: last-touch attribution — each purchase credited to the
  //      latest prior view/click within 7 days via the union+window
  //      as-of form (ONE entity-partitioned window, last_value
  //      ignoreNulls; no join against the raw log); exact-cents revenue
  //      and exact-µs horizon/delay arithmetic ----
  Q("q202_attribution", oracle =
      """WITH rel AS (SELECT user_id, ts, event_id, event_type, value
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase' THEN
        |    struct_pack(ts := ts, tp := event_type) END IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM rel),
        |p AS (SELECT *, epoch_us(ts) - epoch_us(touch.ts) AS delay_us
        |  FROM w WHERE event_type = 'purchase'),
        |a AS (SELECT CASE WHEN touch IS NOT NULL AND delay_us <= 604800000000
        |    THEN touch.tp ELSE '(none)' END AS touch_type, value, delay_us
        |  FROM p)
        |SELECT touch_type, count(*) AS conversions,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  CAST(sum(CASE WHEN touch_type <> '(none)' THEN delay_us // 1000000
        |    ELSE 0 END) AS BIGINT) AS delay_s_total
        |FROM a GROUP BY 1""".stripMargin) { (s, dir) =>
      Events.lastTouchAttribution(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", "value",
        Seq("view", "click"), "purchase", horizonSec = 604800L)
  }

  // ---- stats: Benford first-digit audit of order totals — 9-key
  //      map-side agg, literal expectation table (ppm constants, so no
  //      cross-engine libm dependence), integer deviation ----
  Q("q204_benford", oracle =
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
        |e(digit, exp_ppm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |  (9, 45757))
        |SELECT g.digit, g.n, g.n * 1000000 // t.total AS obs_ppm,
        |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
        |  abs(g.n * 1000000 // t.total - e.exp_ppm) AS dev_ppm
        |FROM g, t, e WHERE e.digit = g.digit""".stripMargin) { (s, dir) =>
      Stats.benfordDeviation(t(s, dir, "orders"), col("o_totalprice"))
  }

  // ---- events: top journey prefixes — each user's first 3 event types
  //      in (ts, id) order as a path string; entity-partitioned rank,
  //      deterministic sort_array collect, |types|³-bounded count agg ----
  Q("q205_paths", oracle =
      """WITH r AS (SELECT user_id, event_type, row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n FROM p GROUP BY 1""".stripMargin) { (s, dir) =>
      Events.pathCounts(t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", k = 3)
  }

  // ---- events: survival/retention curve — lifespan = whole weeks
  //      first→last event; dense offsets via per-entity sequence
  //      fan-out (bounded by entities × calendar weeks); exact
  //      integer Kaplan-Meier under no censoring ----
  Q("q206_survival", oracle =
      """WITH l AS (SELECT user_id, CAST(max(CAST(ts AS DATE)) -
        |    min(CAST(ts AS DATE)) AS BIGINT) // 7 AS life
        |  FROM events GROUP BY 1),
        |e AS (SELECT unnest(generate_series(0, life)) AS week_offset FROM l),
        |t AS (SELECT count(*) AS total FROM l)
        |SELECT week_offset, count(*) AS survivors,
        |  count(*) * 1000000 // t.total AS survival_ppm
        |FROM e, t GROUP BY week_offset, t.total""".stripMargin) { (s, dir) =>
      Events.survivalCurve(t(s, dir, "events"), "user_id", "ts")
  }

  // ---- stats: two-arm A/B lift — arms by user parity, conversion =
  //      any purchase in the first 72 h (broadcast-min window); exact
  //      integer counts/ppm + ONE shared-double z-score (round 6) ----
  Q("q207_ab_lift", oracle =
      """WITH b AS (SELECT min(ts) + INTERVAL 72 HOURS AS hi FROM events),
        |u AS (SELECT user_id,
        |  max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS arm1,
        |  max(CASE WHEN event_type = 'purchase' AND ts < b.hi
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events, b GROUP BY 1),
        |a AS (SELECT CAST(sum(arm1) AS BIGINT) AS n1,
        |  CAST(sum(1 - arm1) AS BIGINT) AS n2,
        |  CAST(sum(arm1 * conv) AS BIGINT) AS conv1,
        |  CAST(sum((1 - arm1) * conv) AS BIGINT) AS conv2 FROM u)
        |SELECT n1, conv1, n2, conv2,
        |  conv1 * 1000000 // n1 AS p1_ppm, conv2 * 1000000 // n2 AS p2_ppm,
        |  conv1 * 1000000 // n1 - conv2 * 1000000 // n2 AS diff_ppm,
        |  round((conv1 / n1 - conv2 / n2) /
        |    sqrt(((conv1 + conv2) / (n1 + n2)) *
        |         (1 - (conv1 + conv2) / (n1 + n2)) *
        |         (1.0 / n1 + 1.0 / n2)), 6) AS z
        |FROM a""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val lo = ev.agg(min(col("ts")).as("__lo"))
      Stats.abLift(ev.crossJoin(broadcast(lo)), "user_id",
        inArm1 = col("user_id") % 2 === 0,
        converted = col("event_type") === "purchase" &&
          col("ts") < col("__lo") + expr("INTERVAL 72 HOURS"))
  }

  // ---- stats: Gini concentration of customer revenue — ascending rank
  //      via the OrderedScan stitch (ties are value-equal ⇒ Σ rank·x is
  //      order-free), decimal128 closed form, truncating DIV to ppm ----
  Q("q208_gini", oracle =
      """WITH r AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |s AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS rk FROM r),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS total,
        |  sum(CAST(rk AS HUGEINT) * v) AS ws FROM s)
        |SELECT n, total,
        |  CAST((2 * ws - (CAST(n AS HUGEINT) + 1) * total) * 1000000
        |    // (CAST(n AS HUGEINT) * total) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin) { (s, dir) =>
      Stats.giniConcentration(t(s, dir, "orders"), "o_custkey",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
  }

  // ---- stats: CUSUM change-point over the daily event count series —
  //      cross-multiplied integer statistic (n·prefix − rank·total),
  //      earliest-key tie-break; calendar-bounded aggregate domain ----
  Q("q209_cusum", oracle =
      """WITH d AS (SELECT CAST(ts AS DATE) AS k, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS total
        |  FROM d),
        |c AS (SELECT k, t.n, t.total,
        |    abs(t.n * CAST(sum(x) OVER (ORDER BY k
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - CAST(row_number() OVER (ORDER BY k) AS BIGINT) * t.total) AS s
        |  FROM d, t),
        |m AS (SELECT CAST(max(s) AS BIGINT) AS max_stat FROM c)
        |SELECT c.n, c.total, min(c.k) AS change_at, m.max_stat
        |FROM c, m WHERE c.s = m.max_stat GROUP BY 1, 2, 4""".stripMargin) { (s, dir) =>
      Stats.cusumChangePoint(t(s, dir, "events"),
        to_date(col("ts")).as("k"), lit(1L))
  }

  // ---- stats: robust MAD outlier census per event type — exact
  //      interpolated medians kept integer by the ×2/×4 doubling trick,
  //      census threshold 2·dev2 > 3·mad4 all-integer ----
  Q("q210_mad_outliers", oracle =
      """WITH b AS (SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS x
        |  FROM events),
        |m AS (SELECT event_type, CAST(2 * quantile_cont(x, 0.5) AS BIGINT) AS med_x2
        |  FROM b GROUP BY 1),
        |d AS (SELECT b.event_type, abs(2 * b.x - m.med_x2) AS d2
        |  FROM b JOIN m USING (event_type)),
        |md AS (SELECT event_type, CAST(2 * quantile_cont(d2, 0.5) AS BIGINT) AS mad_x4
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n, m.med_x2, md.mad_x4,
        |  CAST(sum(CASE WHEN 2 * d.d2 > 3 * md.mad_x4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS outliers
        |FROM d JOIN md USING (event_type) JOIN m USING (event_type)
        |GROUP BY 1, 3, 4""".stripMargin) { (s, dir) =>
      Stats.madOutliers(t(s, dir, "events"), "event_type",
        expr("CAST(round(value * 1000000) AS BIGINT)"), k = 3)
  }

  // ---- events: view→purchase conversion-lag distribution — whole-second
  //      integer delays, quarter-quantiles ×4 (binary-exact positions),
  //      truncating mean; entity-keyed aggs + one equi-join ----
  Q("q212_conversion_lag", oracle =
      """WITH b AS (SELECT user_id AS e, epoch_us(ts) AS us, event_type AS tp
        |  FROM events),
        |f AS (SELECT e, min(CASE WHEN tp = 'view' THEN us END) AS t1
        |  FROM b GROUP BY 1),
        |c AS (SELECT b.e, f.t1, min(b.us) AS t2 FROM b JOIN f ON b.e = f.e
        |  WHERE b.tp = 'purchase' AND f.t1 IS NOT NULL AND b.us > f.t1
        |  GROUP BY 1, 2),
        |d AS (SELECT (t2 - t1) // 1000000 AS dl FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(4 * quantile_cont(dl, 0.25) AS BIGINT) AS p25_sx4,
        |  CAST(4 * quantile_cont(dl, 0.5) AS BIGINT) AS p50_sx4,
        |  CAST(4 * quantile_cont(dl, 0.75) AS BIGINT) AS p75_sx4,
        |  CAST(max(dl) AS BIGINT) AS max_s,
        |  CAST(sum(dl) // count(*) AS BIGINT) AS mean_s
        |FROM d""".stripMargin) { (s, dir) =>
      Events.conversionLag(t(s, dir, "events"), "user_id", "ts",
        fromType = "view", toType = "purchase", typeCol = "event_type")
  }

  // ---- stats: 7-day rolling correlation between daily event count and
  //      daily value sum per type — windowed integer sufficient sums over
  //      the (type, day) aggregate, ONE rounded-double corr, exact
  //      integer zero-variance guard ----
  Q("q213_rolling_corr", oracle =
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS k,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, k,
        |    CAST(count(*) OVER win AS BIGINT) AS nw,
        |    CAST(sum(x) OVER win AS BIGINT) AS sx,
        |    CAST(sum(y) OVER win AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER win AS BIGINT) AS sxy,
        |    CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER win AS BIGINT) AS syy
        |  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY k
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, k, nw,
        |  CASE WHEN nw * sxx - sx * sx = 0 OR nw * syy - sy * sy = 0 THEN NULL
        |    ELSE round(CAST(nw * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(nw * sxx - sx * sx AS DOUBLE)
        |         * CAST(nw * syy - sy * sy AS DOUBLE)), 6)
        |  END AS corr
        |FROM w""".stripMargin) { (s, dir) =>
      Stats.rollingCorr(t(s, dir, "events"), "event_type",
        to_date(col("ts")).as("k"), lit(1L),
        // cents, not micro: daily Σy² must stay inside int64 (y ~ 4e6
        // cents/day at sf0.1 → nw·syy ~ 7e14; micro would be 1e21)
        expr("CAST(round(value * 100) AS BIGINT)"), win = 7)
  }

  // ---- stats: chi-square independence of source × language — per-cell
  //      (O·N−R·C)²·10⁶ DIV (N·R·C) floor terms in decimal128 summed to
  //      an exact chi2_ppm; Cramér's V as the ONE rounded double; all
  //      post-shuffle work on the |sources|×|langs| cell table ----
  Q("q214_chi_square", oracle =
      """WITH c AS (SELECT source AS r, lang AS cc, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY 1),
        |cm AS (SELECT cc, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  CAST(count(DISTINCT r) AS BIGINT) AS nr,
        |  CAST(count(DISTINCT cc) AS BIGINT) AS nc FROM c),
        |t2 AS (SELECT tt.n, tt.nr, tt.nc,
        |    (CAST(coalesce(c.o, 0) AS HUGEINT) * tt.n - CAST(rt AS HUGEINT) * ct)
        |  * (CAST(coalesce(c.o, 0) AS HUGEINT) * tt.n - CAST(rt AS HUGEINT) * ct)
        |  * 1000000 // (CAST(tt.n AS HUGEINT) * rt * ct) AS term
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN c ON c.r = rm.r AND c.cc = cm.cc CROSS JOIN tt),
        |a AS (SELECT n, nr, nc, CAST(sum(term) AS BIGINT) AS chi2_ppm
        |  FROM t2 GROUP BY 1, 2, 3)
        |SELECT n, nr AS n_rows, nc AS n_cols, (nr - 1) * (nc - 1) AS dof,
        |  chi2_ppm,
        |  round(sqrt((chi2_ppm / 1000000.0) / (n * least(nr - 1, nc - 1))), 6)
        |    AS cramers_v
        |FROM a""".stripMargin) { (s, dir) =>
      Stats.chiSquareIndependence(t(s, dir, "documents"),
        col("source"), col("lang"))
  }

  // ---- stats: ROC AUC via exact Mann-Whitney U with midrank ties —
  //      does document length separate English from the rest? No per-row
  //      ranks: score collapses to its value domain, the exclusive
  //      cumulative count rides the OrderedScan stitch ----
  Q("q215_auc", oracle =
      """WITH b AS (SELECT n_chars AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p FROM documents),
        |d AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(p) AS BIGINT) AS pos FROM b GROUP BY 1),
        |c AS (SELECT s, cnt, pos,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS below
        |  FROM d),
        |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(CAST(pos AS HUGEINT) * (2 * below + cnt + 1)) AS HUGEINT) AS s2
        |  FROM c)
        |SELECT n, np AS n_pos, n - np AS n_neg,
        |  CAST(s2 - CAST(np AS HUGEINT) * (np + 1) AS BIGINT) AS u2,
        |  CASE WHEN np = 0 OR n - np = 0 THEN NULL
        |    ELSE CAST((s2 - CAST(np AS HUGEINT) * (np + 1)) * 1000000
        |      // (2 * CAST(np AS HUGEINT) * (n - np)) AS BIGINT) END AS auc_ppm
        |FROM a""".stripMargin) { (s, dir) =>
      Stats.aucMannWhitney(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en")
  }

  // ---- privacy: k-anonymity audit over (source, lang, length-bucket)
  //      quasi-identifiers — ONE count agg to the QI domain, single
  //      audit row: dataset k, groups/rows below k=10 ----
  Q("q219_k_anonymity", oracle =
      """WITH g AS (SELECT source, lang, n_chars // 100 AS lb,
        |    CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(sz) AS BIGINT) AS k_min,
        |  CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
        |  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k
        |FROM g""".stripMargin) { (s, dir) =>
      Stats.kAnonymity(t(s, dir, "documents"),
        Seq(col("source"), col("lang"), expr("n_chars DIV 100")), k = 10L)
  }

  // ---- operations at scale: Bloom-filter semi-join pruning — the
  //      runtime-filter pattern made explicit: the fact side drops
  //      non-matching keys against a 128 KiB broadcast bitmap BEFORE
  //      the join shuffle; pure codegen'd bit ops (no UDF, no driver
  //      model), and conservatively transparent, so the oracle is the
  //      PLAIN join — a hash match proves no row was wrongly pruned ----
  Q("q220_bloom_join", oracle =
      // the bloom prune is transparent: the oracle is the PLAIN join
      """SELECT date_trunc('month', o.o_orderdate) AS month,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      Bloom.prunedJoin(t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey")
        .groupBy(trunc(col("o_orderdate"), "mm").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
            .as("rev_cents"))
  }

  // ---- operations at scale: theta-sketch set ALGEBRA — pairwise
  //      distinct-user intersections between event types from mergeable
  //      per-shard sketches (HLL unions only; theta intersects), with
  //      the q186 honesty certificate: output is the EXACT count plus
  //      an in-query flag that the sketch estimate landed inside 10% ----
  Q("q221_theta_intersect", oracle =
      """WITH d AS (SELECT DISTINCT CAST(event_type AS VARCHAR) AS g,
        |    CAST(user_id AS VARCHAR) AS v FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |t AS (SELECT DISTINCT g FROM d),
        |p AS (SELECT a.g AS g1, b.g AS g2 FROM t a JOIN t b ON a.g < b.g),
        |x AS (SELECT a.g AS g1, b.g AS g2, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM d a JOIN d b ON a.v = b.v AND a.g < b.g GROUP BY 1, 2)
        |SELECT p.g1, p.g2, coalesce(x.n_shared, 0) AS n_shared,
        |  CAST(1 AS BIGINT) AS within
        |FROM p LEFT JOIN x ON p.g1 = x.g1 AND p.g2 = x.g2
        |ORDER BY p.g1, p.g2""".stripMargin) { (s, dir) =>
      Sketches.intersectCensusTheta(t(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("g1"), col("g2"))
  }

  // ---- operations at scale: KLL mergeable quantile profile — exact ×4
  //      quarter-quantiles of document length per source (binary-exact
  //      interpolation, the q212 convention) + a certificate that each
  //      merged-sketch estimate's EXACT RANK sits within 2× KLL's
  //      normalized rank-error bound (KLL guarantees rank, not value) ----
  Q("q222_kll_quantiles", oracle =
      """WITH q AS (SELECT source,
        |    CAST(quantile_cont(n_chars * 4, 0.25) AS BIGINT) AS q25,
        |    CAST(quantile_cont(n_chars * 4, 0.50) AS BIGINT) AS q50,
        |    CAST(quantile_cont(n_chars * 4, 0.75) AS BIGINT) AS q75
        |  FROM documents GROUP BY 1)
        |SELECT source, CAST(250 AS BIGINT) AS rank_permille, q25 AS q4,
        |  CAST(1 AS BIGINT) AS within FROM q
        |UNION ALL
        |SELECT source, CAST(500 AS BIGINT), q50, CAST(1 AS BIGINT) FROM q
        |UNION ALL
        |SELECT source, CAST(750 AS BIGINT), q75, CAST(1 AS BIGINT) FROM q""".stripMargin) { (s, dir) =>
      Sketches.quantileCensusKll(t(s, dir, "documents"), "source", "n_chars",
        Seq(0.25, 0.5, 0.75))
  }

  // ---- operations at scale: Z-ORDER layout + 2-D rectangle scan — the
  //      events copy is Morton-interleaved on (user_id, day), so BOTH
  //      filter dimensions cluster per file and min/max stats prune most
  //      files for the rectangle; result hash == the same query on the
  //      raw table (layout is semantics-free); ZOrderSpec audits the
  //      per-file bounding boxes vs a linear layout ----
  Q("q223_zorder_scan", oracle =
      // the z-order layout is semantics-free: the oracle queries the RAW table
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events
        |WHERE user_id BETWEEN 3 AND 11
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-16'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val path = s"/tmp/graft_warehouse/graft_events_zorder_${math.abs(dir.hashCode).toString.take(6)}_${tableToken(s, dir, "events")}"
      ZOrder.ensureZOrdered(
        t(s, dir, "events")
          .withColumn("event_date", to_date(col("ts")))
          .withColumn("day", datediff(col("event_date"), lit("2024-01-01"))),
        path, "user_id", "day", bits = 16, numFiles = 16)
      s.read.parquet(path)
        .where(col("user_id").between(3, 11) &&
          col("event_date").between("2024-01-09", "2024-01-16"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("v_cents"))
  }

  // ---- graph: FIXED-POINT PageRank (3 power rounds, parts-per-10¹²,
  //      truncating div everywhere → deterministic cross-engine) over a
  //      closed doc graph: per-source doc_id chains ∪ a star edge to
  //      each source's min doc (every node outdeg ≥ 1, no dangling
  //      mass); the hubs (min docs) accumulate rank, certified by the
  //      unrolled 3-round SQL oracle ----
  Q("q224_pagerank", oracle =
      // 3 unrolled fixed-point power rounds; all arithmetic integer `//`
      """WITH d AS (SELECT doc_id, source FROM documents),
        |chain AS (SELECT src, dst FROM (
        |    SELECT doc_id AS src,
        |      lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS dst
        |    FROM d) WHERE dst IS NOT NULL),
        |star AS (SELECT doc_id AS src,
        |    min(doc_id) OVER (PARTITION BY source) AS dst FROM d),
        |e AS (SELECT * FROM chain UNION ALL SELECT * FROM star),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |p0 AS (SELECT id, 1000000000000 // nn.n AS p FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS id, CAST(sum(p0.p // deg.deg) AS BIGINT) AS con
        |  FROM e JOIN p0 ON e.src = p0.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT p0.id,
        |    (15 * (1000000000000 // nn.n)) // 100
        |      + (85 * coalesce(c1.con, 0)) // 100 AS p
        |  FROM p0 CROSS JOIN nn LEFT JOIN c1 ON p0.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(r1.p // deg.deg) AS BIGINT) AS con
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT r1.id,
        |    (15 * (1000000000000 // nn.n)) // 100
        |      + (85 * coalesce(c2.con, 0)) // 100 AS p
        |  FROM r1 CROSS JOIN nn LEFT JOIN c2 ON r1.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(r2.p // deg.deg) AS BIGINT) AS con
        |  FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT r2.id,
        |    (15 * (1000000000000 // nn.n)) // 100
        |      + (85 * coalesce(c3.con, 0)) // 100 AS p
        |  FROM r2 CROSS JOIN nn LEFT JOIN c3 ON r2.id = c3.id)
        |SELECT id AS doc_id, CAST(p AS BIGINT) AS pr_ppt FROM r3
        |ORDER BY p DESC, id LIMIT 15""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val chain = d.select(col("doc_id").as("src"), lead(col("doc_id"), 1).over(w).as("dst"))
        .where(col("dst").isNotNull)
      val star = d.select(col("doc_id").as("src"),
        min(col("doc_id")).over(Window.partitionBy(col("source"))).as("dst"))
      Graphs.pageRankFixedPoint(chain.unionByName(star), "src", "dst", rounds = 3)
        .orderBy(col("pr_ppt").desc, col("id"))
        .limit(15)
        .select(col("id").as("doc_id"), col("pr_ppt"))
  }

  // ---- operations at scale: incremental aggregate MAINTENANCE — the
  //      materialized-view lifecycle: historical days reduce to an
  //      algebraic (n, Σcents, Σcents²) state PARQUET once; the delta
  //      (last 5 days) merges against the read-back state; exact
  //      integers make incremental == full recompute, which is what
  //      the oracle certifies ----
  Q("q225_incremental_agg", oracle =
      // incremental == full recompute (exact integer partials)
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s_cents,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
        |  FROM b GROUP BY 1)
        |SELECT event_type, n, s_cents,
        |  (s_cents * 100) // n AS mean_cc,
        |  CAST((CAST(n AS HUGEINT) * ss - CAST(s_cents AS HUGEINT) * s_cents)
        |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_cents2
        |FROM a""".stripMargin) { (s, dir) =>
      val path = s"/tmp/graft_warehouse/graft_events_aggstate_${math.abs(dir.hashCode).toString.take(6)}_${tableToken(s, dir, "events")}"
      val ev = t(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      val cutoff = "2024-01-26"
      Incremental.maintainedStats(s, path,
        ev.where(col("event_date") < cutoff),
        ev.where(col("event_date") >= cutoff),
        col("event_type"), col("event_date"), col("cents"))
        .withColumnRenamed("g", "event_type")
  }

  // ---- events: rolling DAU/WAU/MAU panel — exact sliding distinct
  //      counts where per-day partials CANNOT decompose; the corpus
  //      collapses once to the (user, day) domain, windows are a ≤30-way
  //      fan-out of that domain against the broadcast day list ----
  Q("q227_active_users", oracle =
      """WITH dom AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d AS day FROM dom)
        |SELECT days.day,
        |  CAST(count(DISTINCT CASE WHEN dom.d = days.day THEN dom.u END)
        |    AS BIGINT) AS dau,
        |  CAST(count(DISTINCT CASE WHEN dom.d >= days.day - 6 THEN dom.u END)
        |    AS BIGINT) AS wau7,
        |  CAST(count(DISTINCT dom.u) AS BIGINT) AS mau30
        |FROM days JOIN dom ON dom.d BETWEEN days.day - 29 AND days.day
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Events.activeUsers(t(s, dir, "events"), "user_id", "ts")
  }

  // ---- stats: per-source EQUI-DEPTH histogram — exact ×4 quarter-
  //      quantile edges, integer bucket membership over the value
  //      domain; the CBO-histogram complement of q178's equal-width ----
  Q("q232_equidepth_hist", oracle =
      """WITH b AS (SELECT source, n_chars AS v FROM documents),
        |e AS (SELECT source,
        |    CAST(quantile_cont(v * 4, 0.25) AS BIGINT) AS e1,
        |    CAST(quantile_cont(v * 4, 0.50) AS BIGINT) AS e2,
        |    CAST(quantile_cont(v * 4, 0.75) AS BIGINT) AS e3
        |  FROM b GROUP BY 1)
        |SELECT b.source,
        |  1 + (CASE WHEN b.v * 4 > e.e1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN b.v * 4 > e.e2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN b.v * 4 > e.e3 THEN 1 ELSE 0 END) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM b JOIN e ON b.source = e.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Stats.equiDepthHistogram(t(s, dir, "documents"),
        col("source"), col("n_chars"))
        .withColumnRenamed("g", "source")
  }

  // ---- operations at scale: referential-integrity audit — orphans,
  //      childless parents, null FKs and join-fanning duplicate keys
  //      for two FK edges in one report; children collapse to their FK
  //      value domain before any anti-join ----
  Q("q234_fk_audit", oracle =
      """WITH a1 AS (
        |  SELECT 'orders.custkey' AS fk,
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) AS n_child,
        |    (SELECT count(*) FROM customer WHERE c_custkey IS NOT NULL) AS n_parent,
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null_fk,
        |    (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c
        |         WHERE c.c_custkey = o.o_custkey)) AS n_orphan_child,
        |    (SELECT count(*) FROM customer c WHERE c_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey)) AS n_childless_parent,
        |    (SELECT coalesce(sum(n), 0) FROM (
        |       SELECT count(*) AS n FROM customer WHERE c_custkey IS NOT NULL
        |       GROUP BY c_custkey HAVING count(*) > 1)) AS n_dup_parent_rows),
        |a2 AS (
        |  SELECT 'lineitem.orderkey' AS fk,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS n_child,
        |    (SELECT count(*) FROM orders WHERE o_orderkey IS NOT NULL) AS n_parent,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_fk,
        |    (SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM orders o
        |         WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan_child,
        |    (SELECT count(*) FROM orders o WHERE o_orderkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM lineitem l
        |         WHERE l.l_orderkey = o.o_orderkey)) AS n_childless_parent,
        |    (SELECT coalesce(sum(n), 0) FROM (
        |       SELECT count(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
        |       GROUP BY o_orderkey HAVING count(*) > 1)) AS n_dup_parent_rows)
        |SELECT fk, CAST(n_child AS BIGINT) AS n_child,
        |  CAST(n_parent AS BIGINT) AS n_parent,
        |  CAST(n_null_fk AS BIGINT) AS n_null_fk,
        |  CAST(n_orphan_child AS BIGINT) AS n_orphan_child,
        |  CAST(n_childless_parent AS BIGINT) AS n_childless_parent,
        |  CAST(n_dup_parent_rows AS BIGINT) AS n_dup_parent_rows
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) ORDER BY fk""".stripMargin) { (s, dir) =>
      // the two audited edges are independent and each materializes its
      // key domains eagerly — overlap the edges' checkpoint jobs (§2.6);
      // the union/sort plan below is built from the settled results
      val (a, b) = Par.both(
        Diff.fkAudit("orders.custkey",
          t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey"),
        Diff.fkAudit("lineitem.orderkey",
          t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey"))
      a.unionByName(b).orderBy(col("fk"))
  }

  // ---- stats: per-source mean GLOBAL percent rank of document length
  //      — the length-bias calibration panel; min-rank ppm from the
  //      stitched global value domain, never a per-row window ----
  Q("q235_pr_calibration", oracle =
      """WITH b AS (SELECT source AS g, n_chars AS v FROM documents),
        |gd AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |r AS (SELECT v, cnt, CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS below FROM gd),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |p AS (SELECT v, (below * 1000000) // (n.n - 1) AS pr
        |  FROM r CROSS JOIN n),
        |s AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2)
        |SELECT s.g AS source, CAST(sum(s.c) AS BIGINT) AS n_docs,
        |  CAST(sum(s.c * p.pr) // sum(s.c) AS BIGINT) AS mean_pr_ppm
        |FROM s JOIN p ON s.v = p.v GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Stats.percentRankCalibration(t(s, dir, "documents"),
        col("source"), col("n_chars"))
        .withColumnRenamed("g", "source")
  }

  // ---- events: association rules over user behavior baskets —
  //      exact-integer support/confidence/lift ppm from the distinct
  //      (user, type) domain; the independence-baseline panel Markov
  //      row-conditionals (q200) don't give ----
  Q("q236_assoc_rules", oracle =
      """WITH dom AS (SELECT DISTINCT user_id AS e, event_type AS i FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |singles AS (SELECT i, CAST(count(*) AS BIGINT) AS n1 FROM dom GROUP BY 1),
        |nn AS (SELECT CAST(count(DISTINCT e) AS BIGINT) AS n FROM dom),
        |bp AS (SELECT a.i AS ante, b.i AS cons, CAST(count(*) AS BIGINT) AS n_both
        |  FROM dom a JOIN dom b ON a.e = b.e AND a.i <> b.i GROUP BY 1, 2)
        |SELECT bp.ante, bp.cons, bp.n_both,
        |  (n_both * 1000000) // nn.n AS support_ppm,
        |  (n_both * 1000000) // sa.n1 AS confidence_ppm,
        |  (n_both * nn.n * 1000000) // (sa.n1 * sb.n1) AS lift_ppm
        |FROM bp JOIN singles sa ON bp.ante = sa.i
        |  JOIN singles sb ON bp.cons = sb.i CROSS JOIN nn
        |ORDER BY ante, cons""".stripMargin) { (s, dir) =>
      Events.associationRules(t(s, dir, "events"), "user_id", "event_type")
  }

  // ---- events: per-(type, day) time-weighted average value — cents ×
  //      µs-gap weights in decimal128, (group, day)-partitioned lag
  //      window, one truncating div; the hold-until-next TWAP ----
  Q("q237_twap", oracle =
      """WITH b AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |gp AS (SELECT g, day, c,
        |    lead(us) OVER (PARTITION BY g, day ORDER BY us, c) - us AS gap
        |  FROM b),
        |f AS (SELECT * FROM gp WHERE gap IS NOT NULL),
        |a AS (SELECT g, day, CAST(count(*) AS BIGINT) AS n_intervals,
        |    CAST(sum(CAST(c AS HUGEINT) * gap) AS HUGEINT) AS wsum,
        |    CAST(sum(gap) AS BIGINT) AS tsum
        |  FROM f GROUP BY 1, 2)
        |SELECT g AS event_type, day, n_intervals,
        |  CAST(wsum // tsum AS BIGINT) AS twap_cents
        |FROM a WHERE tsum > 0 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Events.twap(t(s, dir, "events"), col("event_type"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumnRenamed("g", "event_type")
  }

  // ---- events: sessionized entry/bounce analysis — 30-minute gap
  //      sessions via entity-partitioned windows (key-parallel), entry
  //      = lexicographic-min (ts, type) per session, integer-ppm bounce
  //      rate; the landing-quality panel ----
  Q("q240_bounce_rates", oracle =
      """WITH b AS (SELECT user_id AS e, epoch_us(ts) AS us, event_type AS tp
        |  FROM events),
        |s AS (SELECT e, us, tp,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY e ORDER BY us, tp)
        |      > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM b),
        |sid AS (SELECT e, us, tp,
        |    CAST(sum(brk) OVER (PARTITION BY e ORDER BY us, tp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM s),
        |ps AS (SELECT e, sid,
        |    (array_agg(tp ORDER BY us, tp))[1] AS entry,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM sid GROUP BY 1, 2),
        |agg AS (SELECT entry AS entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
        |  FROM ps GROUP BY 1)
        |SELECT entry_type, n_sessions, n_bounces,
        |  (n_bounces * 1000000) // n_sessions AS bounce_ppm
        |FROM agg ORDER BY 1""".stripMargin) { (s, dir) =>
      Events.entryBounceRates(t(s, dir, "events"), "user_id",
        col("ts"), col("event_type"), gapMinutes = 30)
  }

  // ---- stats: one-pass pairwise covariance matrix over four lineitem
  //      measures — all sufficient sums in ONE map-side-combinable agg
  //      (never k² passes), exact-integer population covariance ----
  // cents via `CAST(x*100 + 0.5 AS BIGINT)`, not round(): Spark's round on
  // DOUBLE detours through BigDecimal (~2x the whole 4-col scan cost,
  // profiled at sf0.1); the +0.5-floor form is exact round-half-up for
  // these nonnegative 2-decimal inputs and stays in codegen'd long math
  Q("q241_cov_matrix", oracle =
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        |  FROM lineitem),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(qty AS HUGEINT)) AS HUGEINT) AS s_qty,
        |    CAST(sum(CAST(price_c AS HUGEINT)) AS HUGEINT) AS s_price,
        |    CAST(sum(CAST(disc_pct AS HUGEINT)) AS HUGEINT) AS s_disc,
        |    CAST(sum(CAST(tax_pct AS HUGEINT)) AS HUGEINT) AS s_tax,
        |    CAST(sum(CAST(qty AS HUGEINT) * qty) AS HUGEINT) AS p_qq,
        |    CAST(sum(CAST(qty AS HUGEINT) * price_c) AS HUGEINT) AS p_qp,
        |    CAST(sum(CAST(qty AS HUGEINT) * disc_pct) AS HUGEINT) AS p_qd,
        |    CAST(sum(CAST(qty AS HUGEINT) * tax_pct) AS HUGEINT) AS p_qt,
        |    CAST(sum(CAST(price_c AS HUGEINT) * price_c) AS HUGEINT) AS p_pp,
        |    CAST(sum(CAST(price_c AS HUGEINT) * disc_pct) AS HUGEINT) AS p_pd,
        |    CAST(sum(CAST(price_c AS HUGEINT) * tax_pct) AS HUGEINT) AS p_pt,
        |    CAST(sum(CAST(disc_pct AS HUGEINT) * disc_pct) AS HUGEINT) AS p_dd,
        |    CAST(sum(CAST(disc_pct AS HUGEINT) * tax_pct) AS HUGEINT) AS p_dt,
        |    CAST(sum(CAST(tax_pct AS HUGEINT) * tax_pct) AS HUGEINT) AS p_tt
        |  FROM b)
        |SELECT col_i, col_j, CAST(n AS BIGINT) AS n,
        |  CAST((n * p - si * sj) // (n * n) AS BIGINT) AS cov_q
        |FROM (
        |  SELECT 'qty' AS col_i, 'qty' AS col_j, n, p_qq AS p, s_qty AS si, s_qty AS sj FROM a
        |  UNION ALL SELECT 'qty', 'price_c', n, p_qp, s_qty, s_price FROM a
        |  UNION ALL SELECT 'qty', 'disc_pct', n, p_qd, s_qty, s_disc FROM a
        |  UNION ALL SELECT 'qty', 'tax_pct', n, p_qt, s_qty, s_tax FROM a
        |  UNION ALL SELECT 'price_c', 'price_c', n, p_pp, s_price, s_price FROM a
        |  UNION ALL SELECT 'price_c', 'disc_pct', n, p_pd, s_price, s_disc FROM a
        |  UNION ALL SELECT 'price_c', 'tax_pct', n, p_pt, s_price, s_tax FROM a
        |  UNION ALL SELECT 'disc_pct', 'disc_pct', n, p_dd, s_disc, s_disc FROM a
        |  UNION ALL SELECT 'disc_pct', 'tax_pct', n, p_dt, s_disc, s_tax FROM a
        |  UNION ALL SELECT 'tax_pct', 'tax_pct', n, p_tt, s_tax, s_tax FROM a)
        |ORDER BY col_i, col_j""".stripMargin) { (s, dir) =>
      Stats.covarianceMatrix(t(s, dir, "lineitem"), Seq(
        ("qty", col("l_quantity")),
        ("price_c", expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")),
        ("disc_pct", expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")),
        ("tax_pct", expr("CAST(l_tax * 100 + 0.5 AS BIGINT)"))))
  }

  // ---- events: bitmap-index day-intersection (retention) matrix —
  //      packed 64-user words per day, word-keyed join + bit_count for
  //      EXACT |A∩B| on every day pair; the bitmap-index trade vs the
  //      distinct-domain self-join ----
  Q("q243_bitmap_retention", oracle =
      """WITH dom AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u
        |  FROM events WHERE user_id IS NOT NULL),
        |cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM dom GROUP BY 1),
        |x AS (SELECT a.d AS da, b.d AS db, CAST(count(*) AS BIGINT) AS nb
        |  FROM dom a JOIN dom b ON a.u = b.u AND a.d < b.d GROUP BY 1, 2)
        |SELECT x.da AS day_a, x.db AS day_b, ca.c AS n_a, cb.c AS n_b,
        |  x.nb AS n_both
        |FROM x JOIN cnt ca ON x.da = ca.d JOIN cnt cb ON x.db = cb.d
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Events.dayIntersectionMatrix(t(s, dir, "events"), "user_id", col("ts"))
  }

  // ---- operations at scale: PERSISTED sketch state — per-(type, day)
  //      HLL blobs written to parquet once, census answered by unioning
  //      the read-back state (tonight's job appends a day, never
  //      rescans); exact arm + 5% certificate (q186 honesty pattern) ----
  Q("q244_hll_state", oracle =
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
        |  CAST(1 AS BIGINT) AS within
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val path = s"/tmp/graft_warehouse/graft_hll_state_${math.abs(dir.hashCode).toString.take(6)}_${tableToken(s, dir, "events")}"
      Sketches.persistedDistinctCensusHll(s, path,
        t(s, dir, "events"), "event_type", to_date(col("ts")), "user_id")
        .orderBy(col("event_type"))
  }

  // ---- stats: per-source INTERQUARTILE mean (midmean) of document
  //      length — tails outside the exact ×4 [p25, p75] band are
  //      EXCLUDED (q159's winsorize clamps them instead); quarter ranks
  //      keep the interpolation binary-exact cross-engine (0.1-style
  //      ranks would not be), membership is integer comparison on the
  //      value domain, mean a truncating div ----
  Q("q246_trimmed_mean", oracle =
      """WITH b AS (SELECT source, n_chars AS v FROM documents),
        |e AS (SELECT source,
        |    CAST(quantile_cont(v * 4, 0.25) AS BIGINT) AS e10,
        |    CAST(quantile_cont(v * 4, 0.75) AS BIGINT) AS e90
        |  FROM b GROUP BY 1),
        |k AS (SELECT b.source, b.v FROM b JOIN e ON b.source = e.source
        |  WHERE b.v * 4 >= e.e10 AND b.v * 4 <= e.e90)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(v) // count(*) AS BIGINT) AS trimmed_mean
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("long").as("__v"))
      val dom = base.groupBy(col("source"), col("__v"))
        .agg(count(lit(1)).as("__cnt"))
      val edges = base.groupBy(col("source")).agg(
        percentile(col("__v") * 4, lit(0.25)).cast("long").as("__e10"),
        percentile(col("__v") * 4, lit(0.75)).cast("long").as("__e90"))
      dom.join(edges, Seq("source"))
        .where(col("__v") * 4 >= col("__e10") && col("__v") * 4 <= col("__e90"))
        .groupBy(col("source"))
        .agg(sum(col("__cnt")).as("n_kept"),
          expr("sum(__cnt * __v) div sum(__cnt)").as("trimmed_mean"))
        .orderBy(col("source"))
  }

  // ---- events: INTERVAL-UNION coverage per user (gaps-and-islands) —
  //      each event opens a value-minutes interval; overlaps merge into
  //      islands, output = exact covered micros / island count / widest
  //      island. All windows key-parallel on the user — no global sort ----
  Q("q253_interval_coverage", oracle =
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT * FROM iv WHERE x >= s),
        |m AS (SELECT user_id, s, x,
        |    CASE WHEN max(x) OVER (PARTITION BY user_id ORDER BY s, x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(x) OVER (PARTITION BY user_id ORDER BY s, x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS nw
        |  FROM f),
        |isl AS (SELECT user_id, s, x,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY s, x
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (SELECT user_id, island, min(s) AS i_s, max(x) AS i_x
        |      FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(i_x - i_s) AS BIGINT) AS covered_us,
        |  count(*) AS n_islands,
        |  CAST(max(i_x - i_s) AS BIGINT) AS max_island_us
        |FROM g GROUP BY 1""".stripMargin) { (s, dir) =>
      Events.intervalCoverage(t(s, dir, "events"), "user_id", "ts",
        expr("CAST(round(value * 60000000) AS BIGINT)"))
  }
}
