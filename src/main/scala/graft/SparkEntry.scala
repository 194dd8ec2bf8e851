package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.{Bloom, CustomAggs, Par, Sketches, Text, Vectors => V}
import graft.operators._
import graft.sources.{Bucketing, Csv, Partitioned, ZOrder}
import graft.streaming.Streams

/** Driver contract: `queries` = one entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline additions); `oracleSql` = the equivalent
  * DuckDB SQL over the same parquet tables (driver hash-compares on sf0.01).
  *
  * Conventions for oracle parity (SURVEY §1.2 + BASELINE.md):
  *  - double aggregates rounded to a fixed scale on BOTH sides (summation
  *    order differs between engines in the last ulp);
  *  - timestamps exported as epoch seconds/millis or DATE, never raw
  *    timestamp columns (tz-annotation differences);
  *  - column names aliased identically on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Cache-busting token for a source table: the parquet's length ^ mtime,
    * folded into every derived-copy name below. Existence-keyed caches
    * alone go STALE when the driver regenerates the testdata between
    * rounds; content-keying the path makes a regenerated input land in a
    * fresh copy automatically. */
  private def tableToken(s: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    java.lang.Long.toHexString(st.getLen ^ st.getModificationTime)
  }

  /** Bucketed-table names are per-sf-dir (and per-content) so mixed-SF
    * sessions never collide and regenerated inputs never reuse stale
    * buckets. */
  private def bucketedTableNames(s: SparkSession, dir: String): (String, String) = {
    val h = math.abs(dir.hashCode).toString.take(6)
    (s"graft_orders_b_${h}_${tableToken(s, dir, "orders")}",
      s"graft_customer_b_${h}_${tableToken(s, dir, "customer")}")
  }

  private def partitionedEventsPath(s: SparkSession, dir: String): String =
    s"/tmp/graft_warehouse/graft_events_by_date_${math.abs(dir.hashCode).toString.take(6)}_${tableToken(s, dir, "events")}"

  /** One-time benchmark setup (NOT timed): pre-create the bucketed tables
    * q82 joins, so its timed section measures the exchange-free join rather
    * than two table writes. */
  def benchSetup(s: SparkSession, dir: String): Unit = {
    val (ot, ct) = bucketedTableNames(s, dir)
    Bucketing.ensureBucketed(
      t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"), ot, "custkey", 8)
    Bucketing.ensureBucketed(
      t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"), ct, "custkey", 8)
    Partitioned.ensurePartitionedDir(
      t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
      partitionedEventsPath(s, dir), "event_date")
    // q250's stored LSH index: publishing is the amortized once-per-corpus
    // cost; the timed query is the per-batch probe (production steady state)
    Dedup.ensureLshIndex(
      t(s, dir, "documents").where(col("doc_id") % 7 =!= 0),
      "doc_id", "text", lshIndexTable(dir), corpusFp = lshCorpusFp(dir))
    // q263's stored IVF index: same amortize-once discipline — the timed
    // query is the per-batch probe against the published inverted lists
    Similarity.ensureIvfIndex(
      t(s, dir, "embeddings"), "vec_id", "embedding", ivfIndexTable(dir),
      trainRows = 128, corpusFp = ivfCorpusFp(dir))
  }

  // full md5 of the dir, not String.hashCode: a 32-bit collision between
  // two dirs sharing one warehouse would silently alias their index tables
  // (the _meta corpus_fp check would still catch it, but the name should
  // not collide in the first place)
  private def lshIndexTable(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
    s"graft_lsh_idx_${d.map("%02x".format(_)).mkString}"
  }

  // the corpus identity recorded in the index _meta and re-asserted at
  // every ensure/probe: same table name + same hash family over a
  // DIFFERENT subset is the silent-wrong-corpus case only this catches
  private def lshCorpusFp(dir: String): String = s"documents[doc_id%7!=0]@$dir"

  private def ivfIndexTable(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
    s"graft_ivf_idx_${d.map("%02x".format(_)).mkString}"
  }
  private def ivfCorpusFp(dir: String): String = s"embeddings@$dir"
  private def pqIndexTable(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
    s"graft_pq_idx_${d.map("%02x".format(_)).mkString}"
  }

  /** Daily order totals — the ordered "time series" backing series ops. */
  private def daily(s: SparkSession, dir: String): KSeries =
    KSeries(
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(col("o_totalprice")).as("v")),
      ordered = true)

  private val dailySql =
    "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v FROM orders GROUP BY 1)"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_group_agg")(spark, "/root/testdata/sf0.001")

  // ----------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ pipelineQueries ++ extendedQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.5 aggregation: groupBy + missing-skipping aggregates ----
    "q01_group_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // ---- §2.2 filter + projection (Where/Select; pushdown-friendly) ----
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") > 30 && col("l_discount") < 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
    }),

    // ---- §2.3 sort + limit (takeLast/maxRowBy family) ----
    "q03_sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
    }),

    // ---- §2.4 inner equi-join (frame.Join Inner) ----
    "q04_join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total"))
    }),

    // ---- §2.4 multi-join with broadcast dims ----
    "q05_join_multi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
    }),

    // ---- §2.2 scan-level predicate pushdown (TPC-H Q6 shape) ----
    "q06_scan_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") < 24 && col("l_discount") >= 0.02 && col("l_discount") <= 0.08)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // ---- §2.4 left join keeping unmatched (JoinKind.Left) ----
    "q07_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 4).as("total"))
    }),

    // ---- §2.4 series Zip (outer align) + §2.9 series⊙series arithmetic ----
    // two daily series; sum where both present, missing otherwise (reference
    // outer-align arithmetic, src/Series.fs:589-595)
    "q08_zip_arith" -> ((s, dir) => {
      val a = daily(s, dir)
      val b = KSeries(
        t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .groupBy(to_date(col("o_orderdate")).as("k"))
          .agg(sum(col("o_totalprice")).as("v")),
        ordered = true)
      a.zipWith(b, JoinKind.Outer)((x, y) => x + y)
        .df.select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.4 Append (disjoint concatenation) ----
    "q09_append" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fa = KFrame(li.where(col("l_returnflag") === "R"), Seq("l_orderkey"))
      val fb = KFrame(li.where(col("l_returnflag") === "A"), Seq("l_orderkey"))
      fa.append(fb).df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
    }),

    // ---- §2.5 grouped stats incl. sample sdv + exact median ----
    "q10_group_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sdv"),
          round(var_samp(col("l_quantity")), 6).as("variance"),
          round(min(col("l_quantity")), 4).as("min_qty"),
          round(max(col("l_quantity")), 4).as("max_qty"),
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("median_qty"),
          round(avg(col("l_quantity")), 6).as("mean_qty"))
    }),

    // ---- §2.1 FromValues / pivot ----
    "q11_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 4))
        .select(col("l_returnflag"), col("F"), col("O"))
    }),

    // ---- §2.6 sliding count-window (Series.windowInto) ----
    "q12_window_sliding" -> ((s, dir) => {
      Windowing.windowInto(daily(s, dir), 7, Boundary.AtBeginning)(avg)
        .select(col("k"), round(col("v"), 4).as("mavg"))
    }),

    // ---- §2.6 Series.diff ----
    "q13_diff" -> ((s, dir) => {
      daily(s, dir).diff(1)
        .df.select(col("k"), round(col("v"), 4).as("d"))
    }),

    // ---- §2.6 Series.shift ----
    "q14_shift" -> ((s, dir) => {
      daily(s, dir).shift(1)
        .df.select(col("k"), round(col("v"), 4).as("prev_v"))
    }),

    // ---- §2.6 Series.pairwise ----
    "q15_pairwise" -> ((s, dir) => {
      daily(s, dir).pairwise()
        .select(col("k"), round(col("prev"), 4).as("prev"), round(col("cur"), 4).as("cur"))
    }),

    // ---- §2.6 fixed chunks with Boundary.Skip (Series.chunkInto) ----
    "q16_chunk" -> ((s, dir) => {
      Windowing.chunkInto(daily(s, dir), 7, Boundary.Skip)(
        (sum(_), "chunk_sum"), (count(_), "n"))
        .select(col("k"), round(col("chunk_sum"), 4).as("chunk_sum"), col("n"))
    }),

    // ---- §2.6 key-distance window (Series.windowDistInto): RANGE frame ----
    "q17_window_dist" -> ((s, dir) => {
      val d = daily(s, dir)
      val epochDay = KSeries(
        d.df.select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v")),
        ordered = true)
      Windowing.windowDistInto(epochDay, 7)(sum)
        .select(col("k"), round(col("v"), 4).as("wsum"))
    }),

    // ---- §2.7 fillMissing Forward over a realigned grid ----
    "q18_fill_forward" -> ((s, dir) => {
      val d = daily(s, dir)
      // sparse: drop ~2/3 of days, realign to the full calendar, fill forward
      val sparse = d.filterAll((k, v) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      sparse.realign(grid, "day").copy(ordered = true).fillForward()
        .df.select(col("k"), round(col("v"), 4).as("filled"))
    }),

    // ---- §2.7 fillMissingWith constant + dropMissing count ----
    "q19_fill_const" -> ((s, dir) => {
      val d = daily(s, dir)
      val sparse = d.filterAll((k, v) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val re = sparse.realign(grid, "day")
      re.fillWith(0.0).df
        .agg(round(sum(col("v")), 4).as("sum_filled"),
          count(col("v")).as("n_total"))
        .crossJoin(re.dropMissing.df.agg(count(lit(1)).as("n_present")))
    }),

    // ---- §2.4 as-of join, Lookup.NearestSmaller ----
    "q20_asof_smaller" -> ((s, dir) => {
      val d = daily(s, dir)
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(
          date_add(col("lo"), 3), col("hi"), expr("interval 11 days"))).as("g"))
      AsOf.join(grid, "g", d.df, "k", Seq("v"), Lookup.NearestSmaller)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
    }),

    // ---- §2.4 as-of join, Lookup.NearestGreater ----
    "q21_asof_greater" -> ((s, dir) => {
      val d = daily(s, dir)
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(
          date_add(col("lo"), 3), col("hi"), expr("interval 11 days"))).as("g"))
      AsOf.join(grid, "g", d.df, "k", Seq("v"), Lookup.NearestGreater)
        .select(col("g"), round(col("v"), 4).as("v_asof"))
    }),

    // ---- §2.7 resampleEquiv (chunk by key projection = month) ----
    "q22_resample_month" -> ((s, dir) => {
      Resample.resampleEquiv(daily(s, dir), k => trunc(k, "month"))(
        (sum(_), "total"), (count(_), "n_days"))
        .select(col("k"), round(col("total"), 4).as("total"), col("n_days"))
    }),

    // ---- §2.7 sampleTime (uniform time grid aggregation, hourly) ----
    "q23_sample_time" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val series = KSeries(e.select(col("ts").as("k"), col("value").as("v")), ordered = true)
      Resample.sampleTime(series, 3600)(
        (count(_), "n"), (sum(_), "total"))
        .select(col("k"), col("n"), round(col("total"), 4).as("total"))
    }),

    // ---- §2.6 windowWhile sessions: gap-based sessionization ----
    "q24_sessionize" -> ((s, dir) => {
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
    }),

    // ---- §2.5 frame-level per-column stats melted to a series ----
    "q25_frame_stats" -> ((s, dir) => {
      KFrame(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .colStats(c => avg(col(c)))
        .select(col("column"), round(col("value"), 6).as("value"))
    }),

    // ---- §2.3 maxRowBy per group (arg-max) ----
    "q26_topk_group" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      j.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
    }),

    // ---- additive: rollup (absent in reference; free in Spark, §2.5) ----
    "q27_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // ---- additive: distinct (dropDuplicates) ----
    "q28_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
    }),

    // ---- §2.3 ordered key-range slicing (Between) ----
    "q29_slice_between" -> ((s, dir) => {
      daily(s, dir)
        .between(lit("1996-03-01").cast("date"), lit("1996-06-30").cast("date"))
        .df.select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.4 series Union with PreferLeft overlap policy ----
    "q30_union_prefer" -> ((s, dir) => {
      val d = daily(s, dir)
      val h1 = d.filterAll((k, _) => month(k) <= 6).mapValues(_ * 2.0)
      val h2 = d.filterAll((k, _) => month(k) >= 4)
      h1.union(h2, UnionBehavior.PreferLeft)
        .df.select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.2 GetItems / Realign with exact lookup ----
    "q31_realign" -> ((s, dir) => {
      val d = daily(s, dir)
      val grid = d.df
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 7 days"))).as("g"))
      d.realign(grid, "g")
        .df.select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.9 frame⊙scalar arithmetic: numeric cols only ----
    "q32_frame_arith" -> ((s, dir) => {
      val f = KFrame(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
      (f * 2.0).df
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty2"),
          round(sum(col("l_discount")), 4).as("sum_disc2"))
    }),

    // ---- §2.8 GroupRowsBy: 2-level key hierarchical aggregation ----
    "q33_multilevel" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), trunc(col("o_orderdate"), "month").cast("date").as("month"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
    }),

    // ---- §2.7 resample with explicit boundaries, empty buckets kept ----
    "q34_resample_bounds" -> ((s, dir) => {
      val d = daily(s, dir)
      val bounds = d.df.sparkSession.range(0, 40)
        .select(add_months(lit("1994-06-01").cast("date"), col("id").cast("int") * 3).as("b"))
      Resample.resample(d, bounds, "b")((sum(_), "total"), (count(_), "n"))
        .select(col("k"), round(col("total"), 4).as("total"), col("n"))
    }),

    // ---- §2.7 resampleUniform: full grid + forward gap fill ----
    "q35_resample_uniform" -> ((s, dir) => {
      val monthly = daily(s, dir)
      val sparse = monthly.filterAll((k, _) => month(k) =!= 2 && month(k) =!= 7)
      Resample.resampleUniform(
        sparse,
        k => trunc(k, "month").cast("date"),
        (lo, hi) => sequence(lo, hi, expr("interval 1 month")))(sum)
        .select(col("k"), round(col("v"), 4).as("v"))
    })
  )

  /** LLM-training-data pipeline operators (SURVEY §7.2 M6 + builder brief):
    * dedup, similarity search, text analysis, multimodal, streaming. */
  def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dedup: exact (hash-groupBy on normalized fingerprint) ----
    "q36_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- text analysis: token counts + quality scoring per doc ----
    "q37_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tok"),
        size(array_distinct(Text.tokens(col("text")))).as("n_distinct"),
        Text.qualityScore(col("text")).as("quality"))
    }),

    // ---- text analysis: document fingerprinting ----
    "q38_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
    }),

    // ---- text analysis: language-ID heuristic (stopword argmax) ----
    "q39_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("lang_guess"))
    }),

    // ---- text analysis: corpus-level token statistics ----
    "q40_token_corpus" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text"))).as("total_tokens"),
        round(avg(Text.tokenCount(col("text"))), 6).as("avg_tokens"),
        countDistinct(Text.fingerprint(col("text"))).as("n_unique"))
    }),

    // ---- dedup: brute-force token-set Jaccard (the LSH baseline) ----
    "q41_jaccard_pairs" -> ((s, dir) => {
      Dedup.tokenJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") < 100), "doc_id", "text", 0.9)
    }),

    // ---- dedup: MinHash-LSH near-dup candidates at PRODUCTION banding
    //      width (32 hashes × 8 bands) — md5-portable hash family, so the
    //      whole shingle→minhash→band→bucket-join→verify pipeline is
    //      hash-verified against the SQL oracle; the compiled-xxhash fast
    //      path keeps its spec coverage (PipelineSpec) ----
    "q42_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPortable(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.4)
    }),

    // ---- dedup: SimHash near-dup pairs over the FULL corpus, md5-portable
    //      bit votes — blocked candidates vs the oracle's brute-force
    //      all-pairs scan = fingerprint math AND exact pigeonhole recall
    //      certified cross-engine; the MurmurHash3 fast path keeps its
    //      spec coverage (ExtendedOpsSpec exact-recall test) ----
    "q43_simhash" -> ((s, dir) => {
      Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
    }),

    // ---- similarity: exact brute-force cosine top-k ----
    "q44_knn_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceKnn(e, e.where(col("vec_id") < 5), "vec_id", "embedding", 3)
    }),

    // ---- similarity: IVF-bucketed ANN at a WIDER index shape than q124
    //      (16 lists, 3 probes) — fixed-point k-means, so training and
    //      probe both hash-verify against the SQL oracle; the float
    //      ivfKnn production path keeps its spec coverage (PipelineSpec) ----
    "q45_knn_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 3, rounds = 2)
    }),

    // ---- embeddings: per-vector norms (HOF arithmetic on array cols) ----
    "q46_embed_norm" -> ((s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(V.l2Norm(col("embedding")), 6).as("l2"),
        round(V.dot(col("embedding"), col("embedding")), 6).as("self_dot"))
    }),

    // ---- multimodal: binary payload + typed mapPartitions decode stub ----
    "q47_multimodal" -> ((s, dir) => {
      Multimodal.extract(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- session windows via the native session_window function ----
    "q48_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"), unix_millis(col("session_window.start")).as("sess_start"),
          col("n_events"), col("sum_value"))
    }),

    // ---- Structured Streaming: tumbling window over readStream(events) ----
    "q49_stream_tumbling" -> ((s, dir) => {
      Streams.tumblingByType(s, dir, "1 hour")
    }),

    // ---- §2.1 CSV source/sink round-trip (ReadCsv/SaveCsv) ----
    "q50_csv_roundtrip" -> ((s, dir) => {
      val tmp = s"/tmp/graft_csv_${java.util.UUID.randomUUID().toString.take(8)}"
      t(s, dir, "customer").write.mode("overwrite")
        .option("header", "true").csv(tmp)
      s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
    }),

    // ---- §2.8 indexRowsOrdinally (positional index) ----
    "q51_ordinal" -> ((s, dir) => {
      val d = daily(s, dir)
      KFrame(d.df, Seq("k"), ordered = true).indexRowsOrdinally
        .df.where(col("__ord") < 50)
        .select(col("__ord").as("ord"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.4 frame.Zip cell-level combine ----
    "q52_frame_zip" -> ((s, dir) => {
      val all = daily(s, dir).df.withColumnRenamed("v", "total")
      val f = t(s, dir, "orders").where(col("o_orderstatus") === "F")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(col("o_totalprice")).as("total"))
      KFrame(all, Seq("k")).zip(KFrame(f, Seq("k")))(_ - _)
        .df.select(col("k"), round(col("total"), 4).as("total"))
    }),

    // ---- §2.2 point lookup with as-of semantics ----
    "q53_lookup" -> ((s, dir) => {
      daily(s, dir).lookup(lit("1997-06-15").cast("date"), Lookup.NearestSmaller)
        .select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.6 chunkWhile (condition-based chunks via mapPartitions) ----
    "q54_chunk_while" -> ((s, dir) => {
      val d = daily(s, dir).df
        .select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      // chunk while currentKey - firstKey < 10 (days)
      ChunkWhile.assign(d, "k", (first, cur) => cur - first < 10)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("total"))
    })
  )

  /** Second widening pass over SURVEY §2: take/argmin, zipInner, unary math,
    * frame⊙series arithmetic, windowWhile, transpose, key-level lookup,
    * backward resample, lookupTime, embedding near-dup, cube, custom
    * Aggregators, TSV source, unstack/stack. */
  def extendedQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dataset prep at scale: deterministic global shuffle → balanced
    //      training shards — md5-order position via the distributed
    //      OrderedScan stitch (never a global single-task window), exact
    //      integer split into 8 shards ----
    "q153_shard_assign" -> ((s, dir) => {
      Sampling.shardAssign(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", nShards = 8,
        buckets = 16)
        .select(col("doc_id"), col("__k").as("k"), col("pos"), col("shard"))
    }),

    // ---- curation at scale: PARAGRAPH-level dedup with document
    //      reconstruction (MassiveText recipe) — keep-first on the global
    //      paragraph hash, reassemble surviving paragraphs per doc;
    //      paragraphs here are 10-word windows (synthetic text has no
    //      newlines; real corpora pass split(text, '\n\n')) ----
    "q154_paragraph_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.paragraphDedup(docs, "doc_id",
        Text.chunkArray(10, 0)(col("text")))
    }),

    // ---- model-based curation at scale: multinomial Naive Bayes trained
    //      on the even-id split (source = class), applied to the odd-id
    //      split; fixed-point micro-nat log-probs make train→score→argmax
    //      hash-exact cross-engine ----
    "q155_naive_bayes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Text.naiveBayesPredict(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", "source")
    }),

    // ---- curation at scale: SEMANTIC dedup (SemDeDup) — cluster-bounded
    //      within-cluster cosine pruning, fully fixed-point (integer
    //      argmin assignment, cross-multiplied threshold test in
    //      decimal128) — the density-following alternative to banded LSH ----
    "q156_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, thrNum = 4, thrDen = 10)
    }),

    // ---- curation at scale: DELTA semantic dedup (ingest shape) — the
    //      incoming batch assigns to the corpus's frozen seed centroids and
    //      compares within-cluster against corpus vectors only (never a
    //      corpus self-join); fixed-point end to end ----
    "q160_delta_semantic" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      Dedup.semanticDedupDelta(
        vecs.where(col("vec_id") % 2 === 0), vecs.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 8, thrNum = 4, thrDen = 10)
    }),

    // ---- dataset prep at scale: EPOCH-SALTED deterministic sampling —
    //      each epoch draws an independent md5-keyspace subsample
    //      (deterministic, growth-stable, engine-portable); census per
    //      (epoch, source) over 3 epochs ----
    "q161_epoch_mix" -> ((s, dir) => {
      // the census reads the corpus ONCE and fans out the 3 epoch arms
      // (explode of a 3-element array) rather than scanning per epoch;
      // production per-epoch jobs call Sampling.epochSample — the same
      // narrow md5 filter, one epoch at a time
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .where(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))), 1, 2) < lit("40"))
        .groupBy(col("epoch"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ---- tokenizer precursor at scale: VOCABULARY COVERAGE — top-500
    //      vocab by frequency with the cumulative corpus-coverage curve;
    //      the global (count desc, term) ranking rides the OrderedScan
    //      stitch over ONE encoded lexicographic key (a 10⁸-term web
    //      vocabulary would single-task a plain Window) ----
    "q162_vocab_coverage" -> ((s, dir) => {
      Text.vocabCoverage(t(s, dir, "documents"), "text", vocabSize = 500,
        buckets = 16)
    }),

    // ---- phrase mining at scale: PMI bigram collocations (word2phrase) —
    //      fixed-point micro-nat PMI, min-count 5, deterministic top-100;
    //      unigram table joins back size-gated, totals broadcast ----
    "q163_pmi_bigrams" -> ((s, dir) => {
      Text.pmiBigrams(t(s, dir, "documents"), "text", minCount = 5L, topK = 100)
    }),

    // ---- dataset prep at scale: the TRAINING-SEQUENCE boundary index —
    //      docs concatenate in md5 order into 128-token sequences; each doc
    //      maps to (seq_id, tok_start, tok_end); one distributed prefix sum
    //      + integer DIV, hash-exact ----
    "q158_sequence_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceIndex(docs, "doc_id", "n_tok", seqTokens = 128, buckets = 16)
        .select(col("doc_id"), col("n_tok"), col("seq_id"),
          col("tok_start"), col("tok_end"))
    }),

    // ---- tokenizer training at scale: ONE BPE merge round (Sennrich) —
    //      adjacent char-pair counts weighted by word frequency, computed
    //      on the deduplicated WORD table (vocabulary-sized), never the
    //      raw corpus; the top row is the merge the trainer would pick ----
    "q165_bpe_merge_pairs" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      words.where(length(col("w")) >= 2)
        .select(col("wc"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(50)
    }),

    // ---- operations at scale: TARGETED DELETE (right-to-be-forgotten) —
    //      purge one user cohort from a Hive-partitioned layout; only
    //      partitions containing matches rewrite (dynamic overwrite),
    //      the rest stay byte-identical; census of the survivors ----
    "q182_targeted_delete" -> ((s, dir) => {
      val path = s"/tmp/graft_warehouse/graft_events_delete_${math.abs(dir.hashCode).toString.take(6)}"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true) // fresh: the op mutates it
      Partitioned.ensurePartitionedDir(
        t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        path, "event_date")
      Partitioned.targetedDelete(s, path, "event_date",
        pmod(col("user_id"), lit(100)) === 7)
      s.read.parquet(path)
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    }),

    // ---- operations at scale: mergeable-sketch distinct census — per-
    //      shard HLL sketches (the storable incremental-profile blob)
    //      union into per-source vocabulary estimates; output is the
    //      EXACT count + an in-query 5% error certificate, so the hash
    //      match proves the sketch arm stayed in bounds (q135 pattern) ----
    "q186_hll_census" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("source"), col("doc_id"),
        explode(Text.tokens(col("text"))).as("tok"))
      Sketches.distinctCensusHll(toks, "source", "tok",
        pmod(col("doc_id"), lit(8)))
    }),

    // ---- operations at scale: targeted MERGE/upsert over a partitioned
    //      layout — the incremental-corpus refresh: value updates, key
    //      MOVES across partitions (date+1) and brand-new inserts in one
    //      batch; only touched partitions rewrite; census verified
    //      against the SQL merge semantics (fixed-point value sums) ----
    "q185_partition_upsert" -> ((s, dir) => {
      val path = s"/tmp/graft_warehouse/graft_events_upsert_${math.abs(dir.hashCode).toString.take(6)}"
      val fsP = new org.apache.hadoop.fs.Path(path)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true) // fresh: the op mutates it
      Partitioned.ensurePartitionedDir(
        t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        path, "event_date")
      val cur = s.read.parquet(path)
      // the update batch clusters in the 5 earliest days (the realistic
      // late-data refresh) — so the rewrite must touch ~6 of the ~31
      // partitions and leave the rest byte-identical, which is the point
      val cutoff = cur.agg(date_add(min(col("event_date")), 5).as("__cut"))
      val recent = cur.crossJoin(broadcast(cutoff))
        .where(col("event_date") < col("__cut")).drop("__cut")
      val upd = recent.where(pmod(col("user_id"), lit(100)) === 7)
        .withColumn("event_date", date_add(col("event_date"), 1))
        .withColumn("value", col("value") + 1000)
      val ins = recent.where(pmod(col("user_id"), lit(100)) === 13)
        .withColumn("event_id", col("event_id") + lit(100000000L))
      Partitioned.targetedUpsert(s, path, "event_date", "event_id",
        upd.unionByName(ins))
      s.read.parquet(path)
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 64).cast("long")).as("v64"))
    }),

    // ---- dataset mixing at scale: WATER-FILLING budget allocation — the
    //      max-min-fair per-source token plan (small sources keep all,
    //      big ones capped at one level); exact integer closed form over
    //      the stitched rank+prefix scan, Σalloc = budget exactly ----
    "q184_water_fill" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("source"))
        .agg(sum(Text.tokenCount(col("text"))).cast("long").as("tokens"))
      Sampling.waterFillBudget(counts, "source", "tokens",
        budgetNum = 6, budgetDen = 10, buckets = 4)
    }),

    // ---- curation at scale: LEAKAGE-SAFE train/eval split — near-dup
    //      components (portable-minhash graph) propagate ONE md5-keyspace
    //      coin from the component representative, so near-duplicates can
    //      never straddle the split; per-document assignment verified
    //      value-by-value against the recursive-CTE oracle ----
    "q183_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      Sampling.leakageSafeSplit(docs, "doc_id", pairs, evalFraction = 0.125)
        .select(col("doc_id"), col("rep_id").cast("long").as("rep_id"),
          col("split"))
    }),

    // ---- operations at scale: JOIN-KEY SKEW report — the pre-flight
    //      profiler before a big shuffle join: top heavy keys + each key's
    //      share in ppm (decides broadcast/salt/AQE-skew strategy);
    //      one map-side-partial agg + a deterministic top-k reduce ----
    "q180_skew_report" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val counts = li.groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(li.agg(count(lit(1)).as("__tot"))))
        .withColumn("share_ppm", expr("(n * 1000000) DIV __tot"))
        .orderBy(col("n").desc, col("key").asc).limit(20)
        .select(col("key"), col("n"), col("share_ppm"))
    }),

    // ---- operations at scale: COLUMN STATISTICS (the ANALYZE TABLE
    //      shape that feeds cost-based optimization): per-column distinct/
    //      null counts and min/max, ONE pass over the scan — stats many
    //      engines persist next to the data ----
    "q181_column_stats" -> ((s, dir) => {
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
    }),

    // ---- curation capstone: MULTI-SIGNAL dedup — the union of the TEXT
    //      similarity graph (portable minhash pairs) and the EMBEDDING
    //      similarity graph (SemDeDup pairs, vec_id ≡ doc_id) feeds ONE
    //      connected-components pass; an entity is dropped if EITHER
    //      signal links it to an earlier one (the image-text pair-curation
    //      shape); survivor census by lang ----
    "q179_multisignal_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // The two signal pipelines are independent DAGs, but each materializes
      // eagerly through internal localCheckpoints — built sequentially they
      // serialize ~1.5s of scheduler-idle time (profiled r8: 5.7s → 4s).
      // Submitting them from two threads lets the FIFO scheduler overlap
      // their stages across the 32 cores (the cluster story is identical:
      // concurrent jobs share the executor pool).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val textPairsF = Future(Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint(true))
      val semPairsF = Future(Dedup.semanticDedup(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, thrNum = 4, thrDen = 10)
        .select(col("id_a"), col("id_b")).localCheckpoint(true))
      val textPairs = Await.result(textPairsF, scala.concurrent.duration.Duration.Inf)
      val semPairs = Await.result(semPairsF, scala.concurrent.duration.Duration.Inf)
      // no .distinct() here: components() canonicalizes (both-direction
      // union + distinct) anyway — a pre-distinct is a redundant shuffle
      val drop = Dedup.components(textPairs.unionAll(semPairs))
        .where(col("id") =!= col("cluster"))
        .select(col("id").cast("long").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_after"))
    }),

    // ---- dataset prep at scale: PER-SOURCE sequence index — when streams
    //      are packed per domain, the prefix sum is a window PARTITIONED
    //      by source (key-parallel, no stitch needed — the partitioned
    //      complement of q158's global stream) ----
    "q177_group_sequence_index" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("__cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id", expr("(__cum - n_tok) DIV 128"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("seq_id"),
          (col("__cum") - col("n_tok") - col("seq_id") * 128).as("tok_start"))
    }),

    // ---- reporting at scale: equal-width HISTOGRAM per source — the
    //      length-distribution panel of the data card; one grouped agg,
    //      integer bucket arithmetic ----
    "q178_histogram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bounds = docs.agg(min(col("n_chars")).as("__lo"), max(col("n_chars")).as("__hi"))
      docs.crossJoin(broadcast(bounds))
        .withColumn("bin",
          least(expr("((n_chars - __lo) * 10) DIV (__hi - __lo + 1)"), lit(9L)))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- sources: COMPACTED write — the small-files answer: the orders
    //      slice rewrites as exactly ceil(rows/5000) range-partitioned
    //      files (contiguous key ranges → footer-stat file skipping);
    //      read-back hash-checked, file-count law in CompactionSpec ----
    "q176_compacted_write" -> ((s, dir) => {
      val out = s"/tmp/graft_warehouse/compact_rt_${math.abs(dir.hashCode)}"
      val slice = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
      graft.sources.Compaction.writeRowBounded(slice, out, "o_orderkey", 5000L)
      s.read.schema(slice.schema).parquet(out)
    }),

    // ---- sources: ORC round-trip — write the dimension slice as ORC
    //      (Spark's second columnar format, zlib-compressed), read it back
    //      with an explicit schema; hash-checked against the parquet
    //      oracle, certifying the format round-trip preserves values ----
    "q174_orc_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_warehouse/orc_rt_${math.abs(dir.hashCode)}"
      val slice = t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      slice.write.mode("overwrite").orc(out)
      s.read.schema(slice.schema).orc(out)
    }),

    // ---- analytics: per-group OLS — slope/intercept/r² of price-cents on
    //      quantity per returnflag, from ONE map-side-combinable pass over
    //      exact integer sufficient statistics (no iteration; the shuffle
    //      carries 5 longs per group) ----
    "q190_group_ols" -> ((s, dir) => {
      Stats.olsByGroup(t(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity"), // integral by construction (verified 0 fractional)
        // integer DOLLARS, not cents: y² sums in cents would brush the
        // int64 ceiling at sf0.1 and cross it at sf1 (ANSI sum throws)
        round(col("l_extendedprice")))
    }),

    // ---- graph: triangle census on the near-dup graph (Suri-
    //      Vassilvitskii degree-ordered orientation — wedge fan-out capped
    //      at O(√E) per node, so the biggest dup cluster can't explode the
    //      shuffle); a triangle = three mutually-similar docs ----
    "q191_triangle_census" -> ((s, dir) => {
      val edges = Dedup.tokenJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") < 400), "doc_id", "text", 0.9)
      Graphs.triangleCounts(edges, "id_a", "id_b")
    }),

    // ---- entity resolution: fuzzy match on the DISTINCT-value domain
    //      (vocabulary-sized, like BPE-on-the-word-table) — Levenshtein ≤ 2
    //      pairs of part names with the row-multiplicity weight the merge
    //      would touch; length-bound candidate pruning ----
    "q192_fuzzy_entity" -> ((s, dir) => {
      Dedup.fuzzyBlockedPairs(t(s, dir, "part"), "p_name", maxDist = 2)
    }),

    // ---- time series: autocorrelation of the daily order-revenue series
    //      at lags 1..7 — lag alignment via a self-JOIN on (day, day−l),
    //      never a global window, so the series length is unbounded;
    //      exact integer-dollar sufficient statistics ----
    "q193_acf" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice")).cast("long")).as("v"))
      Stats.acf(daily, "d", col("v"), maxLag = 7,
        (k, l) => date_sub(k, l))
    }),

    // ---- operations: SNAPSHOT DIFF between two table versions — per-key
    //      added/removed/changed/unchanged census; payloads md5'd map-side
    //      so the full-outer align shuffles (key, 32B), never the wide row
    //      twice. Fixture v2 = deterministic updates (user%100=7, value
    //      +1000) + deletes (=13) + inserts (=21, shifted ids) ----
    "q194_snapshot_diff" -> ((s, dir) => {
      val v1 = t(s, dir, "events")
      val isU = pmod(col("user_id"), lit(100))
      val v2 = v1.where(isU =!= 13)
        .withColumn("value",
          when(isU === 7, col("value") + 1000.0).otherwise(col("value")))
        .unionByName(v1.where(isU === 21)
          .withColumn("event_id", col("event_id") + lit(100000000L)))
      Diff.snapshotDiff(v1, v2, "event_id")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // ---- time series: running-max DRAWDOWN per event_type (the finance
    //      classic on the reference's home turf) — cummax minus value over
    //      the (ts, event_id)-ordered scan, fixed-point 1/64ths; per-type
    //      max drawdown / peak count / high-water mark ----
    "q195_drawdown" -> ((s, dir) => {
      Stats.drawdownSummary(t(s, dir, "events"), "event_type",
        unix_micros(col("ts")), col("event_id"), floor(col("value") * 64))
    }),

    // ---- sources: CORRUPT-TOLERANT JSONL ingestion — crawl feeds carry
    //      malformed lines; PERMISSIVE mode + columnNameOfCorruptRecord
    //      must neither die NOR silently drop them. Fixture: docs < 190
    //      serialize cleanly, docs 190-199 become truncated JSON; the
    //      per-lang census counts good vs quarantined rows and the good
    //      rows' checksum proves no cross-contamination ----
    "q189_corrupt_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_jsonl_bad_${java.util.UUID.randomUUID().toString.take(8)}"
      val docs = t(s, dir, "documents").where(col("doc_id") < 200)
      docs.select(
        when(col("doc_id") < 190,
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          // truncated record: drop the closing brace and the tail fields —
          // structurally invalid JSON, the classic interrupted-writer line
          .otherwise(concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": \"")))
          .as("value"))
        .write.mode("overwrite").text(tmp)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType), StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(tmp)
        .groupBy(coalesce(col("lang"), lit("__corrupt")).as("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_bad").isNull, col("n_chars")).otherwise(0L)).as("chars_good"))
    }),

    // ---- sources: BINARY-FILE ingestion — the raw multimodal lake shape
    //      (one file per media item): payloads written file-per-doc by the
    //      EXECUTORS, listed+read back via format("binaryFile"), item id
    //      recovered from the path; byte fidelity certified by md5 vs the
    //      text oracle (payload = utf-8 bytes of the text, so DuckDB can
    //      replay the hash without reading any file) ----
    "q188_binaryfile_ingest" -> ((s, dir) => {
      val path = s"/tmp/graft_warehouse/media_files_${math.abs(dir.hashCode).toString.take(6)}"
      val fsP = new org.apache.hadoop.fs.Path(path)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true)
      val media = Multimodal.packMedia(
        t(s, dir, "documents").where(col("doc_id") < 200), "doc_id", "text")
      Multimodal.writeMediaFiles(media, path)
      s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
    }),

    // ---- sources: XML round-trip (native in Spark 4 — spark-xml merged
    //      upstream): free-text through writer escaping (&, <, quotes) and
    //      back; the oracle hash-compares the TEXT column raw, so any
    //      escaping corruption flips the hash. XML cannot represent an
    //      empty element distinctly from null — canonicalize back to ''
    //      on read (the one documented lossy corner of the format) ----
    "q187_xml_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_warehouse/xml_rt_${math.abs(dir.hashCode)}"
      val slice = t(s, dir, "documents")
        .where(col("doc_id") < 200)
        .select(col("doc_id"), col("lang"), col("text"))
      slice.write.mode("overwrite")
        .option("rootTag", "docs").option("rowTag", "doc")
        .format("xml").save(out)
      s.read.schema(slice.schema)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .format("xml").load(out)
        .withColumn("text", coalesce(col("text"), lit("")))
    }),

    // ---- sources: SCHEMA EVOLUTION — two parquet batches with different
    //      schemas (a column added mid-stream, the crawl-ingest reality)
    //      read back as one frame via mergeSchema; early rows surface the
    //      missing column as NULL ----
    "q175_schema_merge" -> ((s, dir) => {
      val out = s"/tmp/graft_warehouse/schema_rt_${math.abs(dir.hashCode)}"
      val nation = t(s, dir, "nation")
      nation.select(col("n_nationkey"), col("n_name"))
        .where(col("n_nationkey") < 13)
        .write.mode("overwrite").parquet(s"$out/p1")
      nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .where(col("n_nationkey") >= 13)
        .write.mode("overwrite").parquet(s"$out/p2")
      s.read.option("mergeSchema", "true").option("recursiveFileLookup", "true")
        .parquet(out)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // ---- streaming capstone: INGESTION dedup — ordered micro-batches
    //      anti-joined against the accumulating fingerprint sink
    //      (exactly-once batchId overwrite); late-arriving duplicate
    //      copies all drop; result == the batch dedup of the whole union ----
    "q173_stream_ingest" -> ((s, dir) => {
      Streams.ingestDedupDocs(s, dir)
    }),

    // ---- reporting at scale: the DATASET DATASHEET — per-source data
    //      card (docs, tokens, exact-dup ppm, mean quality, length
    //      percentiles) in ONE grouped aggregate over one scan; the
    //      artifact a curation run publishes next to the shards ----
    "q172_data_card" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"),
          Text.fingerprint(col("text")).as("fp"),
          Text.qualityScore(col("text")).as("quality"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          expr("((count(1) - count(DISTINCT fp)) * 1000000) DIV count(1)")
            .as("dup_ppm"),
          round(avg(col("quality")), 6).as("avg_quality"),
          percentile(col("n_chars"), lit(0.5)).as("p50_chars"),
          percentile(col("n_chars"), lit(0.95)).as("p95_chars"))
    }),

    // ---- dataset prep at scale: DELTA sequence index (ingest shape) —
    //      append the odd-id batch to the even-id corpus stream; corpus
    //      contributes ONE total-token aggregate, existing spans never
    //      change, the batch continues the last partial sequence ----
    "q171_sequence_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceIndexDelta(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "doc_id", "n_tok", seqTokens = 128, buckets = 16)
        .select(col("doc_id"), col("n_tok"), col("seq_id"),
          col("tok_start"), col("tok_end"))
    }),

    // ---- dataset prep at scale: BUDGET-CONSTRAINED quality selection —
    //      take the best documents (fixed-point quality order, md5
    //      tiebreak) until a global token budget; ONE fused rank+running-
    //      sum stitch over the encoded order key, exclusive-prefix cut
    //      (the budget-crossing doc stays, the packByTokens contract) ----
    "q169_budget_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tok"),
        round(Text.qualityScore(col("text")) * 1e6).cast("long").as("qu"))
        .where(col("n_tok") > 0) // token-free docs have no budget position
      val keyed = docs.withColumn("__ok", concat(
        lpad((lit(10000000L) - col("qu")).cast("string"), 8, "0"), lit(":"),
        md5(col("doc_id").cast("string"))))
        // the quality projection (regex passes + distinct tokens) is
        // expensive — materialize once; the stitch's sampler, window and
        // summary branches would each re-evaluate it otherwise
        .localCheckpoint(true)
      OrderedScan.rowNumberAndSum(keyed, "__ok", "__rn", "n_tok", "__cum",
        buckets = 16)
        .withColumn("__cum", col("__cum").cast("long"))
        .where(col("__cum") - col("n_tok") < 6000)
        .select(col("doc_id"), col("qu"), col("n_tok"), col("__cum").as("cum"))
    }),

    // ---- curation at scale: decontamination ATTRIBUTION — which eval
    //      sets each train doc leaks (shingle equi-join, per-doc sorted
    //      label list); the audit trail beside the drop list ----
    "q170_decontam_attribution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = docs.where(col("doc_id") < 10)
        .select(lit("evalA").as("label"), col("text"))
        .unionAll(docs.where(col("doc_id") >= 10 && col("doc_id") < 20)
          .select(lit("evalB").as("label"), col("text")))
      Dedup.contaminationAttribution(docs, probes, "doc_id", "text", "label",
        n = 5, minHits = 3L)
    }),

    // ---- §2.6 at scale: EXPANDING stats family — expanding mean from the
    //      fused rank+running-sum stitch, expanding extrema from the
    //      runningMinMax carry stitch; never a global single-task window ----
    "q168_expanding_stats" -> ((s, dir) => {
      OrderedScan.runningStats(
        daily(s, dir).df, "k", "__rn", "v", "__cum", "__mn", "__mx", buckets = 16)
        .select(col("k"),
          round(col("__cum") / (col("__rn") + 1), 6).as("exp_mean"),
          round(col("__mn"), 4).as("exp_min"),
          round(col("__mx"), 4).as("exp_max"))
    }),

    // ---- keyword extraction at scale: TEXTRANK — fixed-point integer
    //      PageRank over the term co-occurrence graph, 2 iterations; each
    //      round is two key-parallel shuffles, the oracle replays the
    //      ladder unrolled (the q124 integer-Lloyd pattern on a graph) ----
    "q167_textrank" -> ((s, dir) => {
      Text.textRankTerms(t(s, dir, "documents"), "text", iters = 2, topK = 20)
    }),

    // ---- curation at scale: SEMANTIC dedup APPLIED — SemDeDup pairs →
    //      connected components → drop non-representatives; per-label
    //      census of the survivors (the q120 composition over the
    //      embedding graph) ----
    "q166_semantic_apply" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val pairs = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        k = 8, thrNum = 4, thrDen = 10)
        .select(col("id_a"), col("id_b"))
      val drop = Dedup.components(pairs)
        .where(col("id") =!= col("cluster"))
        .select(col("id").cast("long").as("vec_id"))
      vecs.join(drop, Seq("vec_id"), "left_anti")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_after"))
    }),

    // ---- dataset prep at scale: materialized TRAINING SEQUENCES — each
    //      128-token sequence's documents concatenated in stream order with
    //      an <eos> separator (the artifact the tokenizer actually eats);
    //      seq_id-keyed reassembly, order from tok_start offsets ----
    "q164_sequence_texts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceTexts(docs, "doc_id", "text", "n_tok",
        seqTokens = 128, buckets = 16)
    }),

    // ---- curation at scale: per-source WINSORIZATION — outliers clamp to
    //      their own group's exact [5%, 95%] quantiles instead of dropping
    //      (row count preserved for downstream packing); census per source ----
    "q159_winsorize" -> ((s, dir) => {
      Sampling.winsorizeByGroup(
        t(s, dir, "documents"), "source", "n_chars", 0.05, 0.95, "w_chars")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("w_chars")), 4).as("sum_w"),
          round(min(col("w_chars")), 4).as("min_w"),
          round(max(col("w_chars")), 4).as("max_w"))
    }),

    // ---- skew at scale: two-phase SALTED AGGREGATION — the hot group key
    //      spreads over 8 salt sub-keys in phase 1, phase 2 merges the
    //      algebraic partials; output identical to the plain groupBy ----
    "q157_salted_agg" -> ((s, dir) => {
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
    }),

    // ---- §2.3 takeLast n (last N by key order) ----
    "q55_take_last" -> ((s, dir) => {
      daily(s, dir).df.orderBy(col("k").desc).limit(15)
        .select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.3 minBy (arg-min row; reference has a copy-paste bug calling
    //      maxBy — implemented CORRECTLY here, divergence per SURVEY §7.4.8) ----
    "q56_minby" -> ((s, dir) => {
      daily(s, dir).df.orderBy(col("v").asc, col("k").asc).limit(1)
        .select(col("k"), round(col("v"), 4).as("v"))
    }),

    // ---- §2.4 ZipInner (both present) ----
    "q57_zip_inner" -> ((s, dir) => {
      val a = daily(s, dir)
      val b = KSeries(
        t(s, dir, "orders").where(col("o_orderstatus") === "F")
          .groupBy(to_date(col("o_orderdate")).as("k"))
          .agg(sum(col("o_totalprice")).as("v")),
        ordered = true)
      a.zipInner(b)
        .select(col("k"), round(col("v1"), 4).as("v1"), round(col("v2"), 4).as("v2"))
    }),

    // ---- §2.9 unary math functions over series values ----
    "q58_math_funcs" -> ((s, dir) => {
      daily(s, dir).df.select(
        col("k"),
        round(log(col("v")), 6).as("ln_v"),
        round(sqrt(col("v")), 6).as("sqrt_v"),
        round(abs(col("v") - 200000), 4).as("abs_d"),
        signum(col("v") - 200000).cast("double").as("sign_d"))
    }),

    // ---- §2.9 frame⊙series arithmetic (row-key-aligned scalar op) ----
    "q59_frame_series_arith" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("k"), col("o_totalprice"))
      val d = daily(s, dir)
      o.join(d.df, Seq("k"))
        .select(col("o_orderkey"), round(col("o_totalprice") / col("v"), 6).as("share"))
    }),

    // ---- §2.6 windowWhile (overlapping predicate windows via mapPartitions) ----
    "q60_window_while" -> ((s, dir) => {
      val d = daily(s, dir).df
        .select(datediff(col("k"), lit("1970-01-01")).cast("long").as("k"), col("v"))
      ChunkWhile.windowAssign(d, "k", (first, cur) => cur - first < 7)
        .groupBy(col("window_key"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 4).as("total"))
    }),

    // ---- §2.8 transpose (melt + pivot) ----
    "q61_transpose" -> ((s, dir) => {
      val agg = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          count(lit(1)).cast("double").as("n"))
      KFrame(agg, Seq("l_returnflag")).transpose(Seq("A", "N", "R")).df
    }),

    // ---- §2.8 hierarchical key level lookup (GetByLevel / Lookup1Of2) ----
    "q62_level_lookup" -> ((s, dir) => {
      // 2-level row key (status, month); fix level 1 = 'F', aggregate level 2
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"),
          trunc(col("o_orderdate"), "month").cast("date").as("month"))
        .agg(sum(col("o_totalprice")).as("total"))
        .where(col("o_orderstatus") === "F")
        .select(col("month"), round(col("total"), 4).as("total"))
    }),

    // ---- §2.7 resample with Backward direction (key = chunk max bound) ----
    "q63_resample_backward" -> ((s, dir) => {
      val d = daily(s, dir)
      val bounds = d.df.sparkSession.range(0, 40)
        .select(add_months(lit("1994-06-01").cast("date"), col("id").cast("int") * 3).as("b"))
      Resample.resample(d, bounds, "b", Lookup.NearestGreater)((sum(_), "total"), (count(_), "n"))
        .select(col("k"), round(col("total"), 4).as("total"), col("n"))
    }),

    // ---- §2.7 lookupTime: as-of value at uniform grid instants ----
    "q64_lookup_time" -> ((s, dir) => {
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
    }),

    // ---- dedup: embedding-cosine near-dup, exact all-pairs baseline ----
    "q65_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
    }),

    // ---- dedup: embedding near-dup via random-hyperplane LSH (rows-only) ----
    // ---- dedup: random-projection LSH near-dup over embeddings at a
    //      DEEPER code shape than q123 (24 hyperplanes × 6 bands) —
    //      md5-integer hyperplanes + fixed-point projections make every
    //      sign an exact integer comparison, oracle-verified end-to-end;
    //      the gaussian-plane production path (embeddingNearDupLsh) keeps
    //      its spec coverage (ExtendedOpsSpec recall + no-collect tests) ----
    "q66_embed_neardup_lsh" -> ((s, dir) => {
      Dedup.rpLshNearDupPortable(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nbits = 24, bands = 6, dim = 64)
    }),

    // ---- additive: cube (absent in reference; free in Spark) ----
    "q67_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // ---- §2.10 custom typed Aggregators (Series.stat / reduce surface) ----
    "q68_custom_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(CustomAggs.weightedMean(col("l_extendedprice"), col("l_quantity")), 4)
            .as("wmean_price"),
          round(CustomAggs.geoMean(col("l_quantity")), 4).as("gmean_qty"))
    }),

    // ---- §2.1 CSV with custom separator + explicit schema override ----
    "q69_csv_tsv" -> ((s, dir) => {
      val tmp = s"/tmp/graft_tsv_${java.util.UUID.randomUUID().toString.take(8)}"
      t(s, dir, "customer").write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(tmp)
      val schema = t(s, dir, "customer").schema // explicit schema, no inference
      s.read.option("header", "true").option("sep", "\t").schema(schema).csv(tmp)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
    }),

    // ---- scale path: distributed global forward fill (two-level scan;
    //      same semantics as q18's single-window form) ----
    "q71_scan_ffill" -> ((s, dir) => {
      val d = daily(s, dir)
      val sparse = d.filterAll((k, v) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val re = sparse.realign(grid, "day")
      OrderedScan.forwardFill(re.df, "k", Seq("v"), buckets = 16)
        .select(col("k"), round(col("v"), 4).as("filled"))
    }),

    // ---- scale path: distributed global running sum ----
    "q72_scan_cumsum" -> ((s, dir) => {
      OrderedScan.runningSum(daily(s, dir).df, "k", "v", "cum", buckets = 16)
        .select(col("k"), round(col("cum"), 4).as("cum"))
    }),

    // ---- scale path: distributed global row numbering ----
    "q73_scan_rownum" -> ((s, dir) => {
      OrderedScan.rowNumber(daily(s, dir).df, "k", "ord", buckets = 16)
        .select(col("k"), col("ord"))
    }),

    // ---- multimodal: resize stub over binary payloads (mapPartitions) ----
    "q74_media_resize" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.packMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      Multimodal.resize(media, 8, 6).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("checksum"))
    }),

    // ---- multimodal: frame sampling (flatMap fan-out over "video") ----
    "q75_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.packMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      Multimodal.frameSample(media, 32, 2).toDF()
    }),

    // ---- multimodal: embedding extraction feeding ANN — INTEGER-vote
    //      hash projection + exact long-L2 ranking, so the whole
    //      media→embedding→KNN bridge replays in SQL (payloads are the
    //      docs' ASCII bytes, so ascii(substr(..)) reconstructs them);
    //      the float embed → cosine path stays spec-covered ----
    "q76_media_embed_knn" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.packMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      val emb = Multimodal.embedQuantized(media, 16)
      Similarity.bruteForceKnnL2Long(emb, emb.where(col("doc_id") < 3), "doc_id", "embedding", 3)
    }),

    // ---- Structured Streaming: sliding windows over readStream(events) ----
    "q77_stream_sliding" -> ((s, dir) => {
      Streams.slidingCounts(s, dir, "2 hours", "1 hour")
    }),

    // ---- Structured Streaming: custom state via mapGroupsWithState ----
    "q78_stream_stateful" -> ((s, dir) => {
      Streams.statefulUserTotals(s, dir)
    }),

    // ---- §2.6 Frame.window: sliding windows of whole rows (all columns) ----
    "q79_frame_window" -> ((s, dir) => {
      val f = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("k")).rowsBetween(-4, 0)
      f.select(col("k"),
        round(avg(col("total")).over(w), 4).as("mavg_total"),
        round(avg(col("n")).over(w), 6).as("mavg_n"),
        count(lit(1)).over(w).as("wsize"))
        .where(col("wsize") === 5).drop("wsize")
    }),

    // ---- §2.2 ColumnsDense family: per-column missing counts ----
    "q80_missing_stats" -> ((s, dir) => {
      val d = daily(s, dir)
      val sparse = d.filterAll((k, _) => dayofmonth(k) % 3 === 0)
      val grid = d.df.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val re = sparse.realign(grid, "day").df
        .withColumn("v2", coalesce(col("v"), lit(0.0)))
      KFrame(re, Seq("k")).colStats(c => count(lit(1)) - count(col(c)))
        .select(col("column"), col("value").cast("long").as("n_missing"))
    }),

    // ---- dedup: character n-gram Jaccard (noisy-text variant) ----
    "q81_char_ngram_jaccard" -> ((s, dir) => {
      Dedup.charNgramJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") < 60), "doc_id", "text", 3, 0.5)
    }),

    // ---- additive: Hive-partitioned layout + partition pruning — a
    //      date-ranged query over the partitionBy(event_date) layout lists
    //      only the 3 matching day-directories (PartitionFilters on the
    //      scan; the other 27 days' files are never opened) ----
    "q144_partition_prune" -> ((s, dir) => {
      val path = partitionedEventsPath(s, dir)
      Partitioned.ensurePartitionedDir(
        t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        path, "event_date")
      s.read.parquet(path)
        .where(col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    }),

    // ---- additive: bucketed co-located join (no exchange on either side) ----
    "q82_bucketed_join" -> ((s, dir) => {
      // table writes are one-time setup (ensureBucketed skips when present —
      // Bench pre-creates via benchSetup so the timed section is the
      // exchange-free join only, which is the thing being measured)
      val (ot, ct) = bucketedTableNames(s, dir)
      Bucketing.ensureBucketed(
        t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"), ot, "custkey", 8)
      Bucketing.ensureBucketed(
        t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"), ct, "custkey", 8)
      Bucketing.bucketedJoin(s, ot, ct, "custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total"))
    }),

    // ---- §2.6 ordered analytics PARTITIONED by a natural key: the 100 TB
    //      shape (per-user series; window parallelizes across users) ----
    "q83_per_user_diff" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 6).as("dv"),
        round(last(col("value"), ignoreNulls = true).over(
          w.rowsBetween(Window.unboundedPreceding, 0)), 6).as("ffilled"))
    }),

    // ---- §2.9 series Pow + scalar⊙series (reference Series.fs:584-634) ----
    "q84_pow_scalar" -> ((s, dir) => {
      daily(s, dir).df.select(col("k"),
        round(pow(col("v") / 1000.0, 2), 6).as("v_sq"),
        round(lit(1e6) / col("v"), 6).as("inv"))
    }),

    // ---- §2.4 as-of via BROADCAST (probe-parallel scale path; same
    //      semantics as q20's union+window form, same oracle shape) ----
    "q85_asof_broadcast" -> ((s, dir) => {
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
    }),

    // ---- §2.4 as-of through the NATIVE Catalyst node (AsOfJoinExec) ----
    "q86_asof_native" -> ((s, dir) => {
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
    }),

    // ---- semi-structured: JSON metadata extraction (events.props) ----
    "q87_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("pk"))
        .groupBy(col("event_type"))
        .agg(count(col("pk")).as("n"),
          round(avg(col("pk")), 6).as("avg_k"),
          max(col("pk")).as("max_k"))
    }),

    // ---- text: BPE-ish regex token counting (pipeline brief) ----
    "q88_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        sum(Text.bpeTokenCount(col("text"))).as("total_pieces"),
        round(avg(Text.bpeTokenCount(col("text"))), 6).as("avg_pieces"),
        sum(Text.tokenCount(col("text"))).as("total_ws_tokens"))
    }),

    // ---- similarity: IVF ANN at the NARROW-index corner (4 lists, single
    //      probe, top-5) — fixed-point k-means training hash-verified
    //      against the SQL oracle; the float kmeansCentroids +
    //      ivfKnnWithCentroids production path keeps its spec coverage
    //      (PipelineSpec recall) ----
    "q89_knn_ivf_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 1, rounds = 2)
    }),

    // ---- §2.6 per-group EWMA: one shuffle on the group key, exact
    //      sequential recurrence within groups (hash-exact vs the
    //      recursive SQL oracle — same IEEE ops in the same order) ----
    "q112_ewma_by_user" -> ((s, dir) => {
      OrderedScan.ewmaByGroup(t(s, dir, "events"),
        "user_id", "event_id", "value", alpha = 0.2, outCol = "ewma")
        .select(col("user_id"), col("event_id"), round(col("ewma"), 6).as("ewma"))
    }),

    // ---- curation: per-source document cap (no domain dominates the mix);
    //      one window partitioned by source — parallel across sources ----
    "q114_source_cap" -> ((s, dir) => {
      Sampling.capPerGroup(t(s, dir, "documents"), "source",
        Seq(col("n_chars").desc, col("doc_id").asc), cap = 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("chars_kept"))
    }),

    // ---- curation: TF-IDF top terms per doc (explode + two hash aggs +
    //      vocabulary-sized join; ranking windowed per doc) ----
    "q115_tfidf" -> ((s, dir) => {
      Text.tfidfTopTerms(
        t(s, dir, "documents").where(col("doc_id") < 100), "doc_id", "text", 3)
    }),

    // ---- curation: rare-token redaction (k-anonymity-style vocabulary
    //      clamping); reconstructed text md5-verified ----
    "q116_rare_redact" -> ((s, dir) => {
      Text.redactRareTokens(t(s, dir, "documents"), "doc_id", "text",
        maxDocFreq = 2)
    }),

    // ---- curation: per-source exact-quantile length trimming (outlier
    //      docs out); group-quantile table broadcast back as a filter ----
    "q117_source_len_filter" -> ((s, dir) => {
      Sampling.filterByGroupQuantiles(
        t(s, dir, "documents"), "source", "n_chars", 0.05, 0.95)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
    }),

    // ---- curation: weighted sampling without replacement (A-ES priority
    //      keys over the md5 keyspace — deterministic, weight ∝ n_chars);
    //      per-lang census of the top-100 sample ----
    "q127_weighted_sample" -> ((s, dir) => {
      Sampling.weightedPriority(t(s, dir, "documents"), "doc_id", "n_chars", k = 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("w_sum"))
    }),

    // ---- §2.6 at scale: DISTRIBUTED sliding count-window (the bounded-
    //      overlap stitch behind the windowInto auto-route — no global
    //      WindowExec anywhere; buckets=32 exercises warm-up shipping).
    //      Fixed-point values make the window sums hash-exact. ----
    "q128_window_stitch" -> ((s, dir) => {
      val series = t(s, dir, "events").select(col("event_id").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingAgg(series, "k", "v", 50, Boundary.AtBeginning,
        sum, "v", buckets = 32)
        .select(col("k"), col("v").as("wsum"))
    }),

    // ---- §2.6 at scale: DISTRIBUTED key-distance (RANGE) window — the
    //      stitch behind the windowDistInto auto-route; events within the
    //      trailing hour, shipped across epoch-second range buckets ----
    "q129_windowdist_stitch" -> ((s, dir) => {
      val series = t(s, dir, "events").select(col("ts").cast("long").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingRangeAgg(series, "k", "v", 3600L, sum, "v", buckets = 32)
        .select(col("k"), col("v").as("wsum"))
    }),

    // ---- §2.6 at scale: DISTRIBUTED fixed chunking (chunkInto auto-route
    //      target): global ranks from bucket starts, then one map-side-
    //      partial groupBy on the chunk id — no window at all ----
    "q130_chunk_stitch" -> ((s, dir) => {
      val series = t(s, dir, "events").select(col("event_id").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.chunkAgg(series, "k", "v", 500, Boundary.Skip,
        Seq((sum(_), "chunk_sum"), (count(_), "n")), buckets = 32)
        .select(col("k"), col("chunk_sum"), col("n"))
    }),

    // ---- §2.6 at scale: forward-anchored (AtEnding) DISTRIBUTED sliding
    //      window — the descending stitch; Skip drops incomplete trailing
    //      windows; frames must read ascending-by-key (order-sensitive
    //      agg parity is spec'd, the sum here is the oracle check) ----
    "q136_window_forward_stitch" -> ((s, dir) => {
      val series = t(s, dir, "events").select(col("event_id").as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingAgg(series, "k", "v", 50, Boundary.Skip,
        sum, "v", buckets = 32, descending = true)
        .select(col("k"), col("v").as("wsum"))
    }),

    // ---- §2.6 at scale: key-distance stitch over FRACTIONAL keys — rows
    //      that are RANGE peers only after the long cast (4 per integer,
    //      .0/.25/.5/.75 — exact in binary) must never straddle a bucket
    //      boundary (the stitch buckets on the CAST key); certifies the
    //      peer-alignment fix cross-engine ----
    "q137_windowdist_fractional" -> ((s, dir) => {
      val series = t(s, dir, "events").select(
        (floor(col("event_id") / 4) + (col("event_id") % 4) * 0.25).as("k"),
        floor(col("value") * 1024).cast("long").as("v"))
      OrderedScan.slidingRangeAgg(series, "k", "v", 7L, sum, "v", buckets = 32)
        .select((col("k") * 4).cast("long").as("k4"), col("v").as("wsum"))
    }),

    // ---- curation at scale: exact-substring duplicate-span census (Lee
    //      et al. ExactSubstr re-expressed relationally) — ids-only span
    //      shuffle, md5(slice) computed map-side, fixed-point dup ppm ----
    "q138_dup_spans" -> ((s, dir) => {
      Dedup.exactSubstringSpans(t(s, dir, "documents"), "doc_id", "text", n = 20)
    }),

    // ---- curation at scale: Gopher-style rule-based quality gate — pure
    //      closed-form projection (mean word length from length(trim)),
    //      NO explode/shuffle; fixed-point micro units hash-exact ----
    "q139_gopher_rules" -> ((s, dir) => {
      Text.gopherQualityFlags(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- curation at scale: PII scrubbing (email/IPv4/phone masks) over
    //      a synthesized contact tail — RE2-compatible patterns keep the
    //      regex text identical cross-engine; one codegen projection ----
    "q140_pii_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(trim(col("text")), lit(" contact user"), col("doc_id"),
          lit("@example.com ip 10."), col("doc_id") % 256,
          lit(".0.1 call +1415"), col("doc_id") + 1000000).as("text"))
      Text.scrubPii(d, "doc_id", "text")
    }),

    // ---- curation at scale: Bloom-prefiltered decontamination — probe
    //      shingles sketched into a bit array (no false negatives) prune
    //      the train side BEFORE the shuffle; exact equi-join removes the
    //      false positives, so the output is identical to q132's
    //      unfiltered large-probe form and shares its oracle ----
    "q141_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContaminationBloom(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, minOverlap = 0.5)
    }),

    // ---- retrieval at scale: Okapi BM25 index-time term weights (top-3
    //      per doc) — tf checkpointed once, df/length stats derived from
    //      it, per-doc ranking windows; Lucene-style positive idf ----
    "q148_bm25" -> ((s, dir) => {
      Text.bm25TopTerms(t(s, dir, "documents").where(col("doc_id") < 100),
        "doc_id", "text", kTop = 3)
    }),

    // ---- retrieval at scale: inverted index (term → df + ascending
    //      posting list) — the structure BM25 walks; posting lists join
    //      as portable comma strings; partition-by-term is the layout ----
    "q149_inverted_index" -> ((s, dir) => {
      Text.invertedIndex(t(s, dir, "documents"), "doc_id", "text", minDf = 3L)
    }),

    // ---- §2.6: rolling MEDIAN — a non-algebraic (holistic) aggregate
    //      through the same generic windowInto builder the algebraic aggs
    //      use (the reference aggregates arbitrary stats over windows);
    //      exact interpolated percentile == DuckDB quantile_cont ----
    "q152_rolling_median" -> ((s, dir) => {
      Windowing.windowInto(daily(s, dir), 7, Boundary.AtBeginning)(
          c => percentile(c, lit(0.5)))
        .select(col("k"), round(col("v"), 4).as("med7"))
    }),

    // ---- retrieval at scale: end-to-end BM25 SEARCH — a query set (first
    //      3 tokens of docs 0-4) scored against the whole corpus, top-5
    //      docs per query; per-term micro-point contributions integer-sum
    //      so ranking is engine-exact ----
    "q150_bm25_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Text.tokens(col("text")), 1, 3)).as("qtext"))
      Text.bm25Search(docs, "doc_id", "text", queries, "query_id", "qtext", kTop = 5)
    }),

    // ---- curation at scale: DELTA near-dup (ingest shape) — incoming
    //      batch's portable-LSH buckets join the corpus's (never a corpus
    //      self-join); exact-Jaccard verified, whole pipeline hash-checked ----
    "q147_delta_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashLshDelta(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }),

    // ---- curation at scale: DELTA exact dedup (ingest shape) — dedup an
    //      incoming batch within itself, then LEFT ANTI join its
    //      fingerprints against the corpus; the batch mixes fresh docs,
    //      corpus copies (must drop) and internal copies (must collapse) ----
    "q146_delta_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 4 =!= 0)
      val incoming = docs.where(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(docs.where(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + 40000).as("doc_id"), col("text")))
      Dedup.exactDelta(corpus, incoming, "doc_id", "text")
    }),

    // ---- embedding analytics at scale: fixed-point covariance sufficient
    //      statistics in ONE narrow treeAggregate pass (PCA precursor) —
    //      d(d+1)/2 longs to the driver, data never shuffles; integer
    //      sums are order-free and hash-exact vs the position-join oracle ----
    "q145_embed_covariance" -> ((s, dir) => {
      Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding")
    }),

    // ---- curation at scale: per-source unigram KL drift vs the blended
    //      corpus — the dataset-mixing diagnostic; fixed-point micro-nats
    //      (per-term log rounded once, integer-scaled and -summed) keep it
    //      hash-exact; corpus stats DERIVE from the one (source,term) agg ----
    "q142_source_drift" -> ((s, dir) => {
      Text.sourceTokenDrift(t(s, dir, "documents"), "text", "source")
    }),

    // ---- curation at scale: heavy-hitter tokens via count-min sketch
    //      pruning + exact verify — the shuffle carries only candidate
    //      rows, yet the output is EXACTLY the true heavy-hitter set
    //      (CMS never underestimates; exact count trims overestimates) ----
    "q135_heavy_hitters" -> ((s, dir) => {
      Text.heavyHitterTokens(t(s, dir, "documents"), "doc_id", "text", minCount = 200L)
    }),

    // ---- §2.6 at scale: STRING-keyed distributed ordered scan — doc-hash
    //      keys (the 100 TB norm) bucket on sampled lexicographic
    //      boundaries, never a numeric proxy; positional shift in exact
    //      md5-key order vs DuckDB's lag ----
    "q134_string_key_scan" -> ((s, dir) => {
      val series = t(s, dir, "documents").select(
        md5(col("doc_id").cast("string")).as("k"), col("n_chars").cast("double").as("v"))
      OrderedScan.shift(series, "k", Seq("v"), 1, buckets = 16)
        .select(col("k"), col("v").as("prev_chars"))
    }),

    // ---- streaming: stream-STATIC dimension join — per-micro-batch
    //      re-planned static side, no watermark state (the ingest
    //      enrichment shape); totals by each user's home event type ----
    "q151_stream_static_join" -> ((s, dir) => {
      Streams.enrichedTypeTotals(s, dir)
    }),

    // ---- streaming: gap-based SESSION windows (append mode, watermark-
    //      finalized) vs a batch gaps-and-islands oracle — completes the
    //      window family (tumbling/sliding/session); micro timestamps
    //      keep session boundaries integer-exact cross-engine ----
    "q143_stream_sessions" -> ((s, dir) => {
      Streams.sessionCounts(s, dir, "12 hours")
    }),

    // ---- streaming: foreachBatch sink with the idempotent batchId-keyed
    //      overwrite (the exactly-once recipe for JDBC/MERGE-style targets
    //      Structured Streaming has no native sink for); latest batch per
    //      key == the batch aggregate ----
    "q133_stream_foreach_batch" -> ((s, dir) => {
      Streams.foreachBatchTypeTotals(s, dir)
    }),

    // ---- curation at scale: LARGE-PROBE decontamination — the probe set
    //      is itself a corpus (half the documents), so the pairs come from
    //      a shingle equi-join (one shuffle), not a broadcast nested-loop;
    //      ngramContamination auto-routes here above the broadcast
    //      threshold. r15: the occurrence join runs as a SHUFFLED HASH
    //      join (the SMJ sort was the 100× drill's largest spill; an
    //      always-on bloom pre-pass was tried and rejected by measurement
    //      — 75% of train shingles hit a corpus-shaped probe, see the
    //      operator scaladoc) ----
    "q132_decontaminate_large" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContaminationLarge(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, minOverlap = 0.5)
    }),

    // ---- §2.5 quantile family: exact interpolated quantiles through the
    //      KSeries surface (hash-green); the sketch path (approxQuantiles,
    //      one-pass mergeable summary for 100 TB) is engine-specific and
    //      error-bound-spec'd against this exact form in KSeriesSpec ----
    "q131_quantile_family" -> ((s, dir) => {
      val series = KSeries(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity").as("v")))
      series.quantiles(Seq(0.25, 0.5, 0.75, 0.95))
        .select(round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p75"), 6).as("p75"), round(col("p95"), 6).as("p95"))
    }),

    // ---- skew: salted equi-join — result-identical to the plain join by
    //      construction, so the plain join IS the oracle; the salt spreads
    //      a hot key over `salts` tasks (the big-hammer beyond AQE) ----
    "q126_salted_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey")
      val cust = t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey")
      Skew.saltedJoin(orders, cust, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total"))
    }),

    // ---- similarity: product quantization with FIXED-POINT subspace
    //      k-means + exact integer ADC distances — training and scan both
    //      hash-verified against the SQL oracle ----
    "q125_pq_portable" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, m = 8, codes = 16, rounds = 2)
    }),

    // ---- similarity: IVF ANN with FIXED-POINT k-means — the entire index
    //      build (quantize → integer Lloyd rounds → bucket → probe) is
    //      hash-verified against the SQL oracle; q45/q89/q104/q111 keep
    //      the float production paths, rows-only ----
    "q124_ivf_portable" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2, rounds = 2)
    }),

    // ---- similarity: IVF with SAMPLED training — the 100 TB index-build
    //      discipline: Lloyd reads only a bounded md5-ranked sample (k-means
    //      quality saturates at a few hundred points per list), assignment
    //      and probe still cover every vector; the oracle replays the
    //      sampled training verbatim ----
    "q262_ivf_sampled_train" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnSampledTrain(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, trainRows = 128, nlist = 8, nprobe = 2, rounds = 2)
    }),

    // ---- similarity: the STORED-index form of q262 — inverted lists
    //      published once as bucketed tables (the ANN counterpart of
    //      q250's LSH index), the timed work is the per-batch probe:
    //      rebuild the model-sized quantizer from _cents, join the
    //      co-located _assign lists, exact-cosine top-k ----
    "q263_ivf_index_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir)
      Similarity.ensureIvfIndex(e, "vec_id", "embedding", tbl, trainRows = 128,
        corpusFp = ivfCorpusFp(dir))
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- dedup: CONTAINMENT near-dup (Broder 1997's asymmetric measure)
    //      — |A∩B| DIV |A| catches a short doc wholly quoted inside a long
    //      one (Jaccard ≈ |A|/|B| → misses it); same md5 band candidates,
    //      one verify join scores both directions ----
    "q266_containment_neardup" -> ((s, dir) => {
      Dedup.containmentNearDup(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L)
    }),

    // ---- the hot-bucket CAP certification: same containment pass with
    //      the cap pinned LOW (64) via the per-call parameter — the capped
    //      candidate generation (oversize-key anti-join) must be
    //      result-identical to q266's whenever no bucket exceeds the cap,
    //      which the q285 census proves for this corpus; oracle SHARED
    //      with q266 ----
    "q295_containment_capped" -> ((s, dir) => {
      Dedup.containmentNearDup(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L,
        maxBucket = Some(64))
    }),

    // ---- data-card: TOKENIZER FERTILITY per language — BPE-ish pieces
    //      per whitespace word and chars per piece (the sequence-length
    //      cost panel); all-integer figures, micro-unit integer DIV, one
    //      projection + one hash agg — no explode, no window ----
    "q296_token_fertility" -> ((s, dir) => {
      Text.tokenizerFertility(t(s, dir, "documents"), "lang", "text")
    }),

    // ---- curation: PSI of each source's length distribution vs the
    //      blended corpus over fixed 64-char buckets — the mixing-shift
    //      gate (PSI>0.25 = source drifted); micro-nat fixed point,
    //      ONE (source,bucket) agg feeds every derived total ----
    "q297_psi_length" -> ((s, dir) => {
      Text.psiByBucket(t(s, dir, "documents"), "source", "n_chars", 64L)
    }),

    // ---- curation: BIGRAM conditional NLL per doc — the order-sensitive
    //      perplexity proxy (catches scrambled boilerplate the unigram
    //      score misses); corpus-as-LM, first-word totals derived from
    //      the bigram vocabulary, micro-nat fixed point ----
    "q298_bigram_nll" -> ((s, dir) => {
      Text.bigramNll(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- data-card: language-ID CONFUSION census — the stopword-argmax
    //      guess cross-tabbed against the labeled lang column with
    //      per-label shares (heuristic accuracy panel); share via a
    //      window OVER the label-level aggregate (q290 pattern), so the
    //      window input is label-cardinality, never corpus rows ----
    "q299_langid_confusion" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      t(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("lang_guess"))
        .groupBy(col("lang"), col("lang_guess")).agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_total", sum(col("n_docs")).over(w))
        .withColumn("share_u", expr("n_docs * 1000000L DIV lang_total"))
        .select(col("lang"), col("lang_guess"), col("n_docs"), col("share_u"))
    }),

    // ---- curation: PIPELINE FUNNEL — per-source survival through the
    //      canonical curation stages (raw → exact-dedup keep → quality
    //      pass → decontaminated), the headline table of every dataset
    //      card. Composes the production operators themselves (Dedup
    //      .exact, Text.gopherQualityFlags, Dedup.ngramContamination);
    //      survivor/contaminated sets move as id-only tables (the
    //      contaminated set is pair-bounded → broadcast), one conditional
    //      aggregation pass emits every stage count ----
    "q300_pipeline_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") >= 10)
      val keep = Dedup.exact(train, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), lit(1L).as("__kept"))
      val qual = Text.gopherQualityFlags(train, "doc_id", "text")
        .select(col("doc_id"), col("pass"))
      val contam = Dedup.ngramContamination(
          train, docs.where(col("doc_id") < 10), "doc_id", "text",
          n = 3, minOverlap = 0.5)
        .select(col("train_id").as("doc_id")).distinct()
        .withColumn("__cont", lit(1L))
      train
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"))
        .join(keep, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"))
        .join(broadcast(contam), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("__kept") === 1L, 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("__kept") === 1L && col("pass") === 1L, 1L)
            .otherwise(0L)).as("n_quality"),
          sum(when(col("__kept") === 1L && col("pass") === 1L &&
            col("__cont").isNull, 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("__kept") === 1L && col("pass") === 1L &&
            col("__cont").isNull, col("n_tok")).otherwise(0L))
            .as("tokens_clean"))
    }),

    // ---- data-card: DUPLICATE N-GRAM RATE per source — the fraction of
    //      trigram occurrences that are intra-document repeats (the
    //      repetition signal of large-corpus quality filtering: looped
    //      generation and boilerplate inflate it), plus the census of
    //      docs over the 20% filter line. All-integer: dup occurrences =
    //      count − distinct per doc, the flag threshold is an exact
    //      integer cross-multiplication, the rate is micro-unit DIV ----
    "q301_dup_ngram_rate" -> ((s, dir) => {
      val g = Par.widen(
          t(s, dir, "documents").select(col("source"), col("doc_id"), col("text")))
        .select(col("source"), col("doc_id"),
          explode(Text.shingles(col("text"), 3)).as("g"))
      g.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("n3"), countDistinct(col("g")).as("d3"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n3")).as("total_ngrams"),
          sum(col("n3") - col("d3")).as("dup_ngrams"),
          sum(when((col("n3") - col("d3")) * lit(1000000L) >=
            col("n3") * lit(200000L), 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("dup_rate_u", expr("dup_ngrams * 1000000L DIV total_ngrams"))
        .select(col("source"), col("n_docs"), col("total_ngrams"),
          col("dup_ngrams"), col("n_flagged"), col("dup_rate_u"))
    }),

    // ---- curation: CROSS-SPLIT LEAKAGE — for each held-out split of the
    //      q294 manifest, how many docs share an 8-gram with train (the
    //      split-integrity audit; distinct from q292, which decontaminates
    //      against an EXTERNAL probe set). Both sides collapse to distinct
    //      (doc, shingle) before the shingle-keyed equi-join, so the join
    //      never sees per-doc repeats; train moves as a distinct
    //      shingle-only column ----
    "q302_split_leakage" -> ((s, dir) => {
      val sp = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(sp < "cc", "train").when(sp < "e6", "val").otherwise("test")
          .as("split"),
        col("text"))
      def pairsOf(side: org.apache.spark.sql.DataFrame) =
        Par.widen(side)
          .select(col("split"), col("doc_id"),
            explode(array_distinct(Text.shingles(col("text"), 8))).as("g"))
      val trainG = pairsOf(docs.where(col("split") === "train"))
        .select(col("g")).distinct()
      val evalPairs = pairsOf(docs.where(col("split") =!= "train"))
      val leaked = evalPairs.join(trainG, Seq("g"))
        .select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
      val withSh = evalPairs.select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_with_shingles"))
      docs.where(col("split") =!= "train")
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(withSh, Seq("split"), "left")
        .join(leaked, Seq("split"), "left")
        .na.fill(0L, Seq("n_with_shingles", "n_leaked"))
        .withColumn("leak_rate_u", expr("n_leaked * 1000000L DIV n_docs"))
    }),

    // ---- data-card: BAG-OF-WORDS DUP-CLUSTER HISTOGRAM — how duplicated
    //      is the corpus under the vocabulary-identity key (sorted
    //      distinct token set — catches shuffled boilerplate exact dedup
    //      misses), in power-of-2 cluster-size buckets (1 = unique): the
    //      shape that decides whether dedup recovers most of the budget.
    //      The histogram input is cluster-cardinality, never corpus rows ----
    "q303_bow_cluster_hist" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(Text.vocabFingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_dups"))
        .withColumn("bucket", length(bin(col("n_dups"))).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_dups")).as("n_docs"),
          sum(col("n_dups") - 1L).as("n_removable"))
    }),

    // ---- data-card: CROSS-SOURCE DUPLICATION MATRIX — which feeds copy
    //      each other: for every source pair, how many cross-source doc
    //      pairs share a bag-of-words fingerprint. Computed from
    //      per-(fp,source) COUNTS (cᵢ·cⱼ per shared fingerprint,
    //      cᵢ·(cᵢ−1)/2 on the diagonal) — fingerprint-cardinality all the
    //      way, never doc-level pairs, so hot clusters cost counts not
    //      squares ----
    "q304_source_dup_matrix" -> ((s, dir) => {
      val fs = t(s, dir, "documents")
        .groupBy(Text.vocabFingerprint(col("text")).as("fp"), col("source"))
        .agg(count(lit(1)).as("c"))
      val a = fs.select(col("fp"), col("source").as("src1"), col("c").as("c1"))
      val b = fs.select(col("fp"), col("source").as("src2"), col("c").as("c2"))
      a.join(b, Seq("fp"))
        .where(col("src1") <= col("src2"))
        .withColumn("pairs",
          when(col("src1") === col("src2"), expr("c1 * (c1 - 1) DIV 2"))
            .otherwise(col("c1") * col("c2")).cast("long"))
        .groupBy(col("src1"), col("src2"))
        .agg(sum(col("pairs")).as("dup_pairs"),
          count(lit(1)).as("shared_fps"))
        .where(col("dup_pairs") > 0L)
    }),

    // ---- data-card: EMBEDDING HEALTH census per label — vector count,
    //      dimension consistency (distinct dims must be 1), mean L2 norm
    //      and near-zero-norm count (collapsed/dead vectors poison both
    //      ANN recall and cosine dedup). Per-vector norms round ONCE to
    //      integer micro-units, then integer mean via DIV — order-free,
    //      hash-exact; one projection + one hash agg ----
    "q305_embedding_health" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"),
          size(col("embedding")).cast("long").as("dim"),
          round(V.l2Norm(col("embedding")) * lit(1e6)).cast("long").as("__nu"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("dim")).as("n_dims"),
          max(col("dim")).as("dim"),
          sum(col("__nu")).as("__sum_nu"),
          sum(when(col("__nu") < 1000L, 1L).otherwise(0L)).as("n_near_zero"))
        .withColumn("mean_norm_u", expr("__sum_nu DIV n_vecs"))
        .select(col("label"), col("n_vecs"), col("n_dims"), col("dim"),
          col("n_near_zero"), col("mean_norm_u"))
    }),

    // ---- similarity: IVF RECALL@K vs the exact brute-force ground truth
    //      — the index-quality panel that decides nlist/nprobe: both
    //      sides rank by exact cosine, so the gap is pure routing loss.
    //      Composes the two certified operators; the intersection join is
    //      (queries × k)-sized ----
    "q306_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceKnn(e, q, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfKnnPortable(e, q, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = 3, rounds = 2)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_match"))
        .withColumn("recall_u", expr("n_match * 1000000L DIV k"))
    }),

    // ---- streaming: NEAR-DUP dedup of the stream against itself —
    //      greedy first-wins over LSH band-bucket cells with mark-all
    //      claims; documents plus perturbed re-arrivals in 3 ordered
    //      micro-batches, survivors = global first toucher of every cell.
    //      The oracle replays the banding (q113's construction) and one
    //      rank-per-cell pass — stream/batch equivalence is the check ----
    "q307_stream_neardup" -> ((s, dir) => {
      Streams.ingestNearDupDocs(s, dir)
    }),

    // ---- the KEYED-STATE form of q307: same greedy first-wins near-dup
    //      self-dedup, but the claimed-cells state lives in RocksDB
    //      flatMapGroupsWithState instead of a parquet claim store the
    //      whole of which every batch re-reads — per-batch cost tracks
    //      batch size, flat in batch index (drill: stream_neardup_keyed);
    //      oracle SHARED with q307 (identical semantics by construction) ----
    "q308_stream_neardup_keyed" -> ((s, dir) => {
      Streams.ingestNearDupDocsKeyed(s, dir)
    }),

    // ---- the hot-bucket cap ACTUALLY TRIGGERING: containment with the
    //      cap pinned BELOW the corpus's max bucket size (census: size-3
    //      buckets at sf0.01, size-4 at sf0.001 — cap 2 drops them), so
    //      the anti-join branch runs for real and pairs whose every
    //      shared bucket is oversize vanish; the oracle replays the drop
    //      rule (candidates require a shared bucket of size ≤ cap), so
    //      the TRIGGERED semantics are hash-certified — r11's q295 could
    //      only certify the non-triggering case ----
    "q309_containment_cap_hit" -> ((s, dir) => {
      Dedup.containmentNearDup(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L,
        maxBucket = Some(2))
    }),

    // ---- stored IVF+PQ index (the FAISS-style production artifact):
    //      publish stores PQ CODES in bucketed inverted lists (raw
    //      vectors never touch a probe), probe routes the batch and
    //      ranks by exact integer ADC over the stored codes — training
    //      is deterministic over the same corpus, so the result is
    //      row-identical to q111's one-shot composed scan (oracle
    //      SHARED) ----
    "q310_pq_index_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ensurePqIndex(e, "vec_id", "embedding", pqIndexTable(dir),
        nlist = 8, m = 8, codes = 16, rounds = 2, corpusFp = ivfCorpusFp(dir))
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        pqIndexTable(dir), k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- streaming ANN at ingest, the PQ leg: quantize each arriving
    //      query micro-batch, ADC-probe the PUBLISHED codes-only IVF+PQ
    //      index per batch — per-query determinism makes union-over-
    //      batches == the one-shot probe == q310's oracle (shared with
    //      q111); completes the LSH(q252)/IVF(q265)/PQ streaming-probe
    //      matrix ----
    "q313_stream_pq_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ensurePqIndex(e, "vec_id", "embedding", pqIndexTable(dir),
        nlist = 8, m = 8, codes = 16, rounds = 2, corpusFp = ivfCorpusFp(dir))
      Streams.streamPqIndexProbe(s,
        e.select(col("vec_id"), col("embedding")).where(col("vec_id") < 5),
        pqIndexTable(dir), k = 3,
        batchPreds = Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0),
        corpusFp = ivfCorpusFp(dir))
    }),

    // ---- index MAINTENANCE for the stored IVF+PQ artifact, APPEND leg
    //      (lifecycle parity with the LSH/IVF siblings q261/q264): the new
    //      batch is ROUTED under the STORED centroids and ENCODED under
    //      the STORED PQ codebooks — neither is retrained, codes are only
    //      comparable under the same books — so publish(A) + append(B) +
    //      probe ≡ one-shot composed IVF+PQ over A ∪ B trained on A,
    //      which the oracle replays verbatim (training CTEs restricted
    //      to the initially-published partial corpus) ----
    "q311_pq_index_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_app"
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendPqIndex(e.where(col("vec_id") % 5 === 0), "vec_id",
        "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- staged-commit crash semantics, PQ form (q314's discipline): the
    //      append dies between the staged codes write and the meta commit,
    //      retries under a fresh epoch — orphaned code rows stay invisible
    //      and _meta.n_rows never counts them, so the healed index answers
    //      q311's oracle VERBATIM ----
    "q315_pq_torn_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_ptorn"
      val batch = e.where(col("vec_id") % 5 === 0)
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("pq.append.staged") {
        Similarity.appendPqIndex(batch, "vec_id", "embedding", tbl,
          newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.appendPqIndex(batch, "vec_id", "embedding", tbl,
        newCorpusFp = ivfCorpusFp(dir))
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- the COMPACTION leg: append-maintained codes-only inverted lists
    //      rewritten at the STORED bucket spec (rows, models, fingerprint
    //      unchanged; strict PQ audit post-swap) — probe-identical to
    //      q311 (same oracle); file-count reduction + fault injection in
    //      CompactionSpec ----
    "q312_pq_index_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_cmp"
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendPqIndex(e.where(col("vec_id") % 5 === 0), "vec_id",
        "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.compactPqIndex(s, tbl)
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- data-card: containment HUB docs — the docs that subsume the
    //      most others (the boilerplate templates themselves), top-10 by
    //      contained count with deterministic id ties; the window ranks
    //      the pair-bounded container census, never corpus rows ----
    "q275_containment_hubs" -> ((s, dir) => {
      val pairs = Dedup.containmentNearDup(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 500000L)
      val census = pairs.groupBy(col("container_id"))
        .agg(count(lit(1)).as("n_contained"),
          expr("sum(containment_ppm) DIV count(1)").as("mean_containment_ppm"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_contained").desc, col("container_id").asc)
      census.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
        .select(col("rank"), col("container_id"), col("n_contained"),
          col("mean_containment_ppm"))
    }),

    // ---- packing planning: token-LENGTH HISTOGRAM in power-of-2 buckets
    //      per source — sizes context-window packing (q96/q169) before
    //      running it; bucket = bit-length - 1, exact integers on both
    //      engines (no float log2 whose floor can flip at 2^k) ----
    "q274_length_histogram" -> ((s, dir) => {
      // greatest(size, 0): size() of a NULL array is -1, which would land a
      // null-text doc in the -1 bucket AND subtract 1 from sum(tokens),
      // silently diverging from the oracle's NULL propagation
      t(s, dir, "documents")
        .select(col("source"),
          greatest(size(filter(Text.tokens(col("text")), g => g =!= "")), lit(0))
            .cast("long").as("__n"))
        .withColumn("bucket_log2",
          when(col("__n") <= 0, lit(-1L)).otherwise(length(bin(col("__n"))).cast("long") - 1))
        .groupBy(col("source"), col("bucket_log2"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("tokens"))
    }),

    // ---- data-card: DEDUP IMPACT report — docs/tokens kept per source
    //      under subsumption pruning (q268's survivor set): the
    //      what-did-dedup-cost-me panel every curation paper reports ----
    "q273_dedup_impact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = Dedup.containmentDedup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L)
        .withColumn("__kept", lit(1L))
      docs
        .select(col("doc_id"), col("source"),
          size(filter(Text.tokens(col("text")), g => g =!= "")).cast("long").as("__ntok"))
        .join(kept, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_kept"),
          sum(col("__ntok")).as("tokens_total"),
          sum(col("__ntok") * coalesce(col("__kept"), lit(0L))).as("tokens_kept"))
    }),

    // ---- data-card: cross-source CONTAINMENT FLOW matrix — which sources
    //      subsume which (directed, unlike q257's symmetric dup matrix):
    //      boilerplate/quote flow direction between feeds ----
    "q272_containment_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.containmentNearDup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 500000L)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("contained_id"), col("source").as("src_contained")),
          Seq("contained_id"))
        .join(src.select(col("doc_id").as("container_id"), col("source").as("src_container")),
          Seq("container_id"))
        .groupBy(col("src_contained"), col("src_container"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(containment_ppm) DIV count(1)").as("mean_containment_ppm"))
    }),

    // ---- ingest dedup: CONTAINMENT DELTA — "is this new doc already
    //      subsumed by the corpus": incoming batch hashed independently,
    //      band join to corpus, only incoming-in-corpus scored ----
    "q271_containment_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containmentDelta(
        docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
        thresholdPpm = 800000L)
    }),

    // ---- corpus analysis: VOCABULARY GROWTH (Heaps-law panel) — distinct
    //      terms after 25/50/75/100% of each source's docs in id order;
    //      saturation = more data adds volume, not diversity ----
    "q270_vocab_growth" -> ((s, dir) => {
      Text.vocabGrowth(t(s, dir, "documents"), "source", "doc_id", "text")
    }),

    // ---- dedup TRUST panel: MinHash estimator CALIBRATION — per
    //      candidate pair, signature-coordinate agreement (the estimate)
    //      vs exact Jaccard, bucketed by agreement count; calibration skew
    //      exposes hash-family/shingling drift before recall degrades ----
    "q269_minhash_calibration" -> ((s, dir) => {
      Dedup.minhashCalibration(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
    }),

    // ---- dedup-apply: SUBSUMPTION PRUNE — q266's greedy deterministic
    //      apply form: drop docs contained (>=0.8) in a LARGER doc, ties
    //      keep the lower id; shingle-free docs always survive ----
    "q268_containment_dedup" -> ((s, dir) => {
      Dedup.containmentDedup(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L)
    }),

    // ---- corpus analysis: DISTINCT-n diversity per source (Li et al.
    //      2016) — the template/boilerplate smell exact dedup passes;
    //      bigrams stay within documents, ratios exact-integer ppm ----
    "q267_distinct_ngram_diversity" -> ((s, dir) => {
      Text.distinctNgramDiversity(t(s, dir, "documents"), "source", "text")
    }),

    // ---- ingest-time ANN composition: STREAMING query batches probe the
    //      PUBLISHED IVF index per micro-batch — per-query determinism
    //      makes union-over-batches == the one-shot probe == q263's oracle ----
    "q265_stream_ivf_probe" -> ((s, dir) => {
      val tbl = ivfIndexTable(dir)
      Similarity.ensureIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding", tbl,
        trainRows = 128, corpusFp = ivfCorpusFp(dir))
      // the query subset and 2-batch parity split are THIS query's fixture
      // (passed in — the streaming layer owns only the plumbing)
      Streams.streamIvfIndexProbe(s,
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          .where(col("vec_id") < 5),
        tbl, k = 3,
        batchPreds = Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0),
        corpusFp = ivfCorpusFp(dir))
    }),

    // ---- ANN index MAINTENANCE: publish over a partial corpus, APPEND the
    //      remainder under the STORED centroids (no retrain — codebooks are
    //      versioned artifacts), probe. The oracle trains over the partial
    //      corpus's sample but assigns the FULL corpus — exactly what the
    //      appended index holds ----
    "q264_ivf_index_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_app"
      // publish drops + recreates all three tables → the query re-runs
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        tbl, trainRows = 128, corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendIvfIndex(e.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- index MAINTENANCE, the COMPACTION leg: append-maintained
    //      bucketed tables accumulate one file-set per append; compaction
    //      rewrites them at the STORED bucket spec (rows, fingerprint,
    //      hash family unchanged) — this query certifies probe-equivalence
    //      through publish → append → COMPACT → probe (oracle shared with
    //      q250/q261; file-count reduction asserted in CompactionSpec) ----
    "q276_lsh_index_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_cmp"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      Dedup.compactLshIndex(s, tbl)
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- the IVF twin: compact the appended inverted lists, probe —
    //      row-identical to q264 (same oracle) ----
    "q277_ivf_index_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_cmp"
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        tbl, trainRows = 128, corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendIvfIndex(e.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.compactIvfIndex(s, tbl)
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- data-card: ZIPF SLOPE per source — rank-frequency log-log OLS
    //      over the top-100 terms (≈ −1 for natural text; flat = the
    //      boilerplate smell, steep = collapsed vocabulary). Micro-unit
    //      integer logs make the OLS sums order-free; one exact ratio ----
    "q278_zipf_slope" -> ((s, dir) => {
      Text.zipfSlope(t(s, dir, "documents"), "source", "text")
    }),

    // ---- data-card: TERM BURSTINESS per source (Church & Gale) — mean
    //      occurrences per containing doc cf/df for the top-20 terms;
    //      bunching terms (high burst) mark topical/boilerplate text,
    //      function words sit at their corpus rate. Exact-integer ppm ----
    "q279_burstiness" -> ((s, dir) => {
      Text.burstiness(t(s, dir, "documents"), "source", "doc_id", "text")
    }),

    // ---- data-card: SOURCE-SIMILARITY matrix — cosine between per-source
    //      unigram COUNT vectors, the weighted companion of q57-family
    //      vocab overlap (set Jaccard); integer dot/norm sums, one
    //      correctly-rounded cosine division ----
    "q280_source_cosine" -> ((s, dir) => {
      Text.sourceCosine(t(s, dir, "documents"), "source", "text")
    }),

    // ---- curation: SPLIT MANIFEST — deterministic md5 train/val/test
    //      assignment (≈80/10/10 via hex-prefix thresholds, salted so the
    //      split is independent of every other md5 sampler in the repo),
    //      docs + tokens per (source, split): the artifact a reproducible
    //      dataset release ships alongside the data ----
    "q294_split_manifest" -> ((s, dir) => {
      val sp = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
      t(s, dir, "documents")
        .select(col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"),
          when(sp < "cc", "train").when(sp < "e6", "val").otherwise("test")
            .as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    }),

    // ---- curation: DECONTAMINATION REPORT — q97's contamination pairs
    //      rolled up per eval probe: how many train docs leak it, and how
    //      badly (max overlap). The artifact an eval-integrity review
    //      actually reads; max over round-once overlaps is order-free ----
    "q292_decontam_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 0.5)
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_contaminated_train"),
          round(max(col("overlap")) * lit(1e6)).cast("long").as("max_overlap_u"))
    }),

    // ---- curation: QUALITY DECILE panel per source — docs and tokens in
    //      each quality-score decile (micro-unit integer buckets): where
    //      would a quality threshold actually cut, per feed ----
    "q293_quality_deciles" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"),
          round(Text.qualityScore(col("text")) * 1e6).cast("long").as("qu"))
        .where(col("n_tok") > 0) // token-free docs have no quality score
        .withColumn("decile", least(expr("qu * 10 DIV 1000000"), lit(9L)))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    }),

    // ---- embeddings: LABEL PROFILE — per label: count, share, mean L2
    //      norm in integer micro-units (per-row norms rounded once →
    //      order-free integer mean): the class-balance + scale-drift panel
    //      checked before training a probe on the embedding table ----
    "q290_label_profile" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"),
          round(V.l2Norm(col("embedding")) * lit(1e6)).cast("long").as("nu"))
      // the share denominator is a window-over-aggregate (Σ n_vecs over the
      // per-label rows — label-count-sized input), so the whole panel is ONE
      // job instead of a separate count() pass for the total
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("nu")).as("snu"))
        .withColumn("__tot",
          sum(col("n_vecs")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()))
        .select(col("label"), col("n_vecs"),
          expr("n_vecs * 1000000 DIV __tot").as("share_ppm"),
          expr("snu DIV n_vecs").as("mean_norm_u"))
    }),

    // ---- events: ACTIVITY HEATMAP — counts per (event_type, UTC hour of
    //      day): the load-profile panel; pure integer arithmetic on epoch
    //      seconds, one grouped agg ----
    "q291_hourly_heatmap" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          expr("(CAST(unix_timestamp(ts) AS BIGINT) % 86400) DIV 3600").as("hour"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- stats: ROBUST dispersion per group — median, MAD (median
    //      absolute deviation) and IQR: the outlier-immune companions of
    //      q10's moment stats (exact interpolated percentiles both
    //      engines; the per-group median joins back broadcast) ----
    "q289_robust_stats" -> ((s, dir) => {
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
    }),

    // ---- dedup: HAMMING RADIUS census — pair counts per simhash distance
    //      within radius 8 (exact recall via pigeonhole blocks, q43's
    //      machinery): the panel that picks maxHamming before a simhash
    //      dedup pass — where does the near-dup mass actually sit? ----
    "q288_hamming_census" -> ((s, dir) => {
      Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ---- data-card: NOVELTY CURVE — per hash-ordered corpus chunk (md5
    //      first hex digit = 16 pseudo-stream chunks), distinct bigrams
    //      seen vs bigrams FIRST seen in that chunk: the dataset-saturation
    //      panel ("is more data still adding anything") next to Heaps' law
    //      (q270). All-integer; no global window — two grouped aggs ----
    "q287_novelty_curve" -> ((s, dir) => {
      // ONE linear pipeline (r18, guide §1.2/§2.4): group the occurrence
      // stream by n-gram into its (bounded, ≤16 — chunk is one hex char)
      // chunk set, then explode that set with a first-seen flag and
      // aggregate per chunk ONCE. Identical result to the r17 shape
      // (distinct pairs → checkpoint → census + first-seen aggs → join):
      // distinct_in_chunk = |set rows per chunk|, new_ngrams = #grams whose
      // min chunk is this chunk (array_min ≡ min over the distinct pairs;
      // a sum over when() is never null, matching the old coalesce(...,0)).
      // Drops the eager checkpoint materialization (~2.0 s of q287's 2.4 s
      // at sf0.1), the join, and two of four shuffles.
      t(s, dir, "documents")
        .select(substring(md5(col("doc_id").cast("string")), 1, 1).as("chunk"),
          explode(Text.shingles(col("text"), 2)).as("g"))
        .groupBy(col("g")).agg(collect_set(col("chunk")).as("cs"))
        .select(explode(col("cs")).as("chunk"), array_min(col("cs")).as("first"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("distinct_in_chunk"),
          sum(when(col("chunk") === col("first"), 1L).otherwise(0L)).as("new_ngrams"))
        .select(col("chunk"), col("distinct_in_chunk"), col("new_ngrams"),
          expr("new_ngrams * 1000000 DIV distinct_in_chunk").as("novelty_ppm"))
    }),

    // ---- data-card: PII CENSUS per source — doc and hit counts by PII
    //      type (email/IP/phone) over q140's scrubber patterns, with an
    //      injected fixture on every third doc so the census has signal;
    //      the redaction-planning panel run before a scrub pass ----
    "q286_pii_census" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 3 === 0,
          concat(trim(col("text")), lit(" contact user"), col("doc_id"),
            lit("@example.com ip 10."), col("doc_id") % 256,
            lit(".0.1 call +1415"), col("doc_id") + 1000000))
          .otherwise(trim(col("text"))).as("text"))
      val p = Text.scrubPii(d, "doc_id", "text")
      d.select(col("doc_id"), col("source")).join(p, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(col("n_email")).as("emails"),
          sum(col("n_ip")).as("ips"),
          sum(col("n_phone")).as("phones"))
        .withColumn("pii_doc_ppm", expr("docs_with_pii * 1000000 DIV n_docs"))
    }),

    // ---- dedup: LSH BUCKET CENSUS — per-band histogram of bucket sizes,
    //      the banding-health audit (candidate-join cost is Σ size², so a
    //      hot bucket is THE near-dup scale hazard); run before committing
    //      a hash family at corpus scale ----
    "q285_lsh_bucket_census" -> ((s, dir) => {
      Dedup.lshBucketCensus(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- events: RETENTION COHORT matrix — users bucketed by first-seen
    //      epoch week, distinct-active counts per (cohort, week offset);
    //      the standard engagement panel. Two shuffles: first-seen agg +
    //      the cohort-join census, both on user_id ----
    "q283_retention_cohorts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          expr("CAST(unix_timestamp(ts) AS BIGINT) DIV 604800").as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // ---- events: TYPE-TRANSITION matrix — per-user event-order Markov
    //      counts over (ts, event_id)-deterministic ordering; session-flow
    //      structure at a glance (integer counts) ----
    "q284_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- packing: SEQUENCE MANIFEST panel — per training sequence of the
    //      distributed stream index (q96/q169's machinery): docs started,
    //      tokens started, boundary-split docs. Sizes shard exports and
    //      attention-mask truncation loss before materializing ----
    "q282_sequence_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
        .where(col("n_tok") > 0)
      Packing.sequenceIndex(d, "doc_id", "n_tok", seqTokens = 2048)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("toks_started"),
          sum(when(col("tok_end") > 2048, 1L).otherwise(0L)).as("n_split"))
    }),

    // ---- data-card: dedup CLUSTER COHESION — per near-dup cluster
    //      (q101's components over q42's verified pairs): docs, scored
    //      pairs, and MEAN intra-cluster Jaccard. Low cohesion on a big
    //      cluster = a banding-collapse smell worth auditing before the
    //      prune. Per-pair ppm rounded once → order-free integer mean ----
    "q281_cluster_cohesion" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPortable(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint(true)
      val comp = Dedup.components(pairs)
      val sizes = comp.groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
      val coh = pairs
        .withColumn("ppm", round(col("jaccard") * lit(1e6)).cast("long"))
        .join(comp.select(col("id").as("id_a"), col("cluster")), Seq("id_a"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("ppm")).as("sum_ppm"))
      sizes.join(coh, Seq("cluster"))
        .select(col("cluster"), col("n_docs"), col("n_pairs"),
          expr("sum_ppm DIV n_pairs").as("mean_jaccard_ppm"))
    }),

    // ---- similarity: RP-LSH with md5 integer hyperplanes + fixed-point
    //      projections — every sign is an exact integer comparison, so the
    //      WHOLE bucketing pipeline is hash-verified against the SQL
    //      oracle (q66 keeps the gaussian production path, rows-only) ----
    "q123_rplsh_portable" -> ((s, dir) => {
      Dedup.rpLshNearDupPortable(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nbits = 16, bands = 4, dim = 64)
    }),

    // ---- streaming: parquet FILE sink, append mode — a window row lands
    //      in the files only once the watermark passed its end (the
    //      exactly-once production output path; the batch oracle filters
    //      to the same finalization rule) ----
    "q122_stream_file_sink" -> ((s, dir) => {
      Streams.tumblingFileSink(s, dir, "1 hour")
    }),

    // ---- §2.4 series-level zipAlign (reference zipAlignInto): daily
    //      totals as-of-aligned to their month anchor, ratio combined —
    //      verified against DuckDB's native ASOF JOIN ----
    "q121_series_zipalign" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val daily = KSeries(
        orders.groupBy(col("o_orderdate").as("k"))
          .agg(sum(col("o_totalprice")).as("v")), ordered = true)
      val monthly = KSeries(
        orders.groupBy(trunc(col("o_orderdate"), "month").as("k"))
          .agg(sum(col("o_totalprice")).as("v")), ordered = true)
      daily.zipAlign(monthly, JoinKind.Left, Lookup.NearestSmaller)(
        (l, r) => round(l / r, 6)).df
    }),

    // ---- curation: unigram-LM quality score (perplexity proxy, corpus as
    //      LM); fixed-point NLL accumulation keeps it order-free and
    //      hash-exact ----
    "q119_unigram_nll" -> ((s, dir) => {
      Text.unigramNll(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- curation: near-dup dedup APPLIED — portable-minhash pairs →
    //      connected components → min-id representative kept, other
    //      cluster members dropped; per-lang before/after census ----
    "q120_dedup_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val drop = Dedup.components(pairs)
        .where(col("id") =!= col("cluster"))
        .select(col("id").cast("long").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_after"),
          sum(Text.tokenCount(col("text"))).cast("long").as("tokens_after"))
    }),

    // ---- dedup: SimHash with md5-portable bit votes — the blocked
    //      candidate plan is verified against the oracle's brute-force
    //      all-pairs scan, certifying fingerprint math AND exact recall
    //      of the pigeonhole blocking cross-engine (q43 keeps the
    //      MurmurHash3 production path, rows-only) ----
    "q118_simhash_portable" -> ((s, dir) => {
      Dedup.simhashPortable(
        t(s, dir, "documents").where(col("doc_id") < 300), "doc_id", "text",
        maxHamming = 8)
    }),

    // ---- dedup: MinHash-LSH with an md5-portable hash family — the FULL
    //      approximate pipeline (shingle→minhash→band→bucket-join→verify)
    //      hash-verified value-by-value against the SQL oracle (q42 keeps
    //      the compiled-xxhash production path, rows-only) ----
    "q113_minhash_portable" -> ((s, dir) => {
      Dedup.minhashLshPortable(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }),

    // ---- similarity: IVF+PQ composed index (coarse routing + ADC codes —
    //      the FAISS-style production ANN shape), fixed-point flavor: the
    //      ENTIRE composed build (integer Lloyd routing + integer PQ books
    //      + bucket-restricted ADC scan) hash-verifies against the SQL
    //      oracle; the float ivfPqKnn keeps its spec coverage
    //      (PipelineSpec recall) ----
    "q111_knn_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2, m = 8, codes = 16, rounds = 2)
    }),

    // ---- pipeline: context-window chunking (64-token chunks, 16 overlap);
    //      chunk text verified by md5 against the SQL slicing oracle ----
    "q110_chunk_docs" -> ((s, dir) => {
      Text.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"))
    }),

    // ---- capstone: the full curation pipeline in one plan — exact dedup →
    //      quality filter → decontamination → deterministic sample →
    //      token packing, hash-verified end-to-end ----
    "q109_pipeline_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val reps = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      // token count computed ONCE at the dedup join and carried through —
      // the quality filter and the final packing read the same column
      // instead of re-running the tokenizer
      val deduped = docs.join(reps, "doc_id")
        .withColumn("n_tok", Text.tokenCount(col("text")))
      val train = deduped.where(col("n_tok") >= 20 && col("doc_id") >= 5)
        .select(col("doc_id"), col("text"), col("n_tok"))
        // both the contamination probe-join and the final anti-join consume
        // `train` — materialize the dedup+filter subplan once instead of
        // recomputing fingerprints + the dedup join per branch
        .localCheckpoint(true)
      val contaminated = Dedup.ngramContamination(
        train, docs.where(col("doc_id") < 5), "doc_id", "text", n = 3, minOverlap = 0.5)
        .select(col("train_id").as("doc_id")).distinct()
      // contaminated ids are probe-set-sized; the checkpointed side has no
      // stats for AQE to see, so broadcast explicitly (SMJ otherwise)
      val clean = train.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      val sampled = Sampling.deterministic(clean, "doc_id", 0.5)
      Packing.packByTokens(sampled.select(col("doc_id"), col("n_tok")),
        "doc_id", "n_tok", targetTokens = 4096)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("bin_tokens"))
    }),

    // ---- streaming: stream-stream time-range self-join (state on both
    //      sides, watermark-expired) vs the batch self-join oracle ----
    "q108_stream_join" -> ((s, dir) => {
      Streams.withinHourPairCounts(s, dir, maxUserId = 20)
    }),

    // ---- §2.5 higher-moment stats: skewness/kurtosis builtins (population
    //      definitions; oracle recomputes from raw central moments since
    //      DuckDB's builtins use the sample-corrected forms) ----
    "q107_moments" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(skewness(col("l_extendedprice")), 6).as("skew"),
          round(kurtosis(col("l_extendedprice")), 6).as("kurt"),
          count(lit(1)).as("n"))
    }),

    // ---- additive range join: events ↦ overlapping 3-day audit windows
    //      via the grid-bucketed equi-join (no BNLJ, no cartesian) ----
    "q106_interval_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("ts").cast("long").as("sec"), col("value"))
      val wk = e.agg(min(col("sec")).as("lo"), max(col("sec")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(604800L))).as("w_start"))
        .withColumn("w_end", col("w_start") + 259200L)
      RangeJoin.pointInInterval(e, "sec", wk, "w_start", "w_end", cellWidth = 86400L)
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    }),

    // ---- §2.6 additive rolling-stats family: 30-day RANGE-frame corr /
    //      variance / extrema between the F and O order series ----
    "q105_rolling_stats" -> ((s, dir) => {
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
    }),

    // ---- similarity: product-quantization ANN at a COARSER subspace
    //      split than q125 (m=4, 16-dim subvectors) — fixed-point subspace
    //      k-means + exact integer ADC, oracle-verified; the float pqKnn
    //      production path keeps its spec coverage (PipelineSpec recall) ----
    "q104_knn_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, m = 4, codes = 16, rounds = 2)
    }),

    // ---- additive ranking family (absent in reference; §2.6 last row) ----
    "q90_rank_family" -> ((s, dir) => {
      val d = daily(s, dir)
      val w = Window.orderBy(col("v").asc, col("k").asc)
      d.df.select(col("k"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("prank"))
        .where(col("rnk") <= 20)
    }),

    // ---- §2.4 Frame.zipAlign: daily totals ÷ monthly average, as-of ----
    "q91_zip_align" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val dailyFO = o.groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("F"),
          sum(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("O"))
      val monthlyFO = o.groupBy(trunc(col("o_orderdate"), "month").cast("date").as("k"))
        .agg(avg(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("F"),
          avg(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("O"))
      KFrame(dailyFO, Seq("k"), ordered = true)
        .zipAlign(KFrame(monthlyFO, Seq("k"), ordered = true), Lookup.NearestSmaller)(_ / _)
        .df.select(col("k"), round(col("F"), 6).as("F"), round(col("O"), 6).as("O"))
    }),

    // ---- pipeline: streaming-ingest dedup (dropDuplicates at the
    //      firehose — the streaming twin of q36's exact dedup) ----
    "q98_stream_dedup" -> ((s, dir) => {
      Streams.dedupedTypeTotals(s, dir)
    }),

    // ---- §2.1 additive JSONL source (the lingua franca of training-data
    //      interchange): write-read round-trip with explicit schema ----
    "q99_jsonl_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_jsonl_${java.util.UUID.randomUUID().toString.take(8)}"
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    }),

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
    "q103_ewma" -> ((s, dir) => {
      val d = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(count(lit(1)).cast("double").as("v"))
        .withColumn("m", trunc(col("k"), "month").cast("date"))
      OrderedScan.ewmaByGroup(d, "m", "k", "v", alpha = 0.5, outCol = "ewma")
        .select(col("m"), col("k"), col("ewma"))
    }),

    // ---- pipeline: repetition quality filter (per-doc most-repeated
    //      bigram; explode → partial-agg count → per-doc top-1) ----
    "q102_repetition" -> ((s, dir) => {
      Text.topNgramRepetition(t(s, dir, "documents"), "doc_id", "text", n = 2)
    }),

    // ---- pipeline: near-dup clusters = connected components over the
    //      exact-Jaccard pair graph (keep id==cluster as representative) ----
    "q101_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      val pairs = Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.9)
      Dedup.components(pairs)
        .select(col("id").cast("long").as("doc_id"),
          col("cluster").cast("long").as("cluster"))
    }),

    // ---- pipeline: temperature-based source mixing — oracle-verified:
    //      the closed-form (n/N)^(1/T) weights, keep-fractions, and hex
    //      keyspace threshold all replay in SQL ----
    "q100_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureMix(t(s, dir, "documents"), "doc_id", "lang",
        temperature = 3.0, targetFraction = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),

    // ---- pipeline: deterministic stratified sampling (dataset mixing) ----
    "q95_stratified_sample" -> ((s, dir) => {
      Sampling.stratified(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), default = 0.125)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(Text.tokenCount(col("text"))).cast("long").as("toks"))
    }),

    // ---- pipeline: token-budget sequence packing over the distributed
    //      running sum ----
    "q96_token_packing" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tok"))
      Packing.packByTokens(d, "doc_id", "n_tok", targetTokens = 4096)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("bin_tokens"))
    }),

    // ---- pipeline: benchmark decontamination (train vs probe n-gram
    //      overlap; probe side broadcast) ----
    "q97_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 0.5)
    }),

    // ---- §2.2/§2.1 combined construction+projection surface: FromRecords,
    //      mapKeys, mapAll, addSeries, getSeriesAs — the previously
    //      spec-only rows, end-to-end against one oracle ----
    "q94_series_ops" -> ((s, dir) => {
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
    }),

    // ---- §2.1 CSV culture round-trip: de-DE comma decimals + ';' separator
    //      (reference FrameExtensions.fs:45-78; its test Frame.fs:32-49 is
    //      exactly this custom-separator-plus-culture loop) ----
    "q93_csv_culture" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = s"/tmp/graft_decsv_${java.util.UUID.randomUUID().toString.take(8)}"
      val src = t(s, dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
      Csv.write(src, tmp, separator = ";", culture = "de-DE", decimals = 2)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal", DoubleType)))
      Csv.read(s, tmp, separator = ";", schema = Some(schema), culture = "de-DE")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
    }),

    // ---- §2.8 3-level hierarchical key: stacked groupRowsBy + SimpleLookup
    //      level slice + getRowLevel (reference MultiKey.fs:10-175) ----
    "q92_level3_slice" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        col("o_orderstatus").as("st"),
        col("o_totalprice"))
      // 3-level row key (yr, mo, st) like the reference's nested tuple keys;
      // pin level 2 (June) with a wildcard pattern, keep levels 1 and 3
      val kf = KFrame(o, Seq("st"), ordered = false)
        .groupRowsBy("mo").groupRowsBy("yr")
        .lookupLevels(None, Some(6), None)
      kf.df.groupBy(kf.getRowLevel(0).as("yr"), kf.getRowLevel(2).as("st"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
    }),

    // ---- §2.5 unstack (split by key level = pivot) + stack back ----
    "q70_unstack_stack" -> ((s, dir) => {
      val grouped = t(s, dir, "orders")
        .groupBy(trunc(col("o_orderdate"), "month").cast("date").as("month"),
          col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("total"))
      val unstacked = grouped
        .groupBy(col("month")).pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(first(col("total")))
      unstacked.selectExpr("month",
        "stack(3, 'F', F, 'O', O, 'P', P) as (o_orderstatus, total)")
        .where(col("total").isNotNull)
        .select(col("month"), col("o_orderstatus"), round(col("total"), 4).as("total"))
    }),

    // ---- events: ordered 3-step funnel (view → click → purchase) over
    //      the first 72 h of the log (start = a 1-row broadcast min, so
    //      the slice is SF-relative, not a hardcoded date) — ONE shuffle
    //      on user_id, step times chained by codegen'd filter/array_min
    //      HOFs; the oracle replays the k-join form ----
    "q196_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val lo = ev.agg(min(col("ts")).as("__lo"))
      val sliced = ev.crossJoin(broadcast(lo))
        .where(col("ts") < col("__lo") + expr("INTERVAL 72 HOURS"))
      Events.funnel(sliced, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
    }),

    // ---- events: weekly cohort retention triangle — cohort = Monday week
    //      of first event; two entity-keyed hash aggs + one entity-keyed
    //      equi-join over the (entity, week) projection, never the raw
    //      log; exact integer day-diff DIV 7 offsets ----
    "q197_cohort_retention" -> ((s, dir) =>
      Events.cohortRetention(t(s, dir, "events"), "user_id", "ts")),

    // ---- stats: two-sample Kolmogorov-Smirnov drift between the doc-
    //      length distributions of sources src0-9 vs src10-19 — exact
    //      integer D (suprema at sample points ⇒ |r1·n2 − r2·n1|),
    //      cumulatives ride ONE fused two-column OrderedScan stitch over
    //      the value-distinct domain (no global window) ----
    "q198_ks_drift" -> ((s, dir) =>
      Stats.ksDrift(t(s, dir, "documents"), col("n_chars"),
        length(col("source")) === 4, length(col("source")) =!= 4)),

    // ---- dedup: token-set CONTAINMENT pairs (doc-in-doc, the shape
    //      Jaccard misses) — inverted-index candidates on rare tokens
    //      (df cap scales with corpus size: max(100, ndocs/5)), exact
    //      array_intersect verify, integer ppm threshold ----
    "q199_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cap = math.max(100L, docs.count() / 5)
      Dedup.containmentPairs(docs, "doc_id", "text", 600000L, maxDf = cap)
    }),

    // ---- events: first-order Markov transition matrix of event types —
    //      entity-partitioned lag (key-parallel, (ts, event_id) tie-break)
    //      into a |types|²-keyed agg; fixed-point row-conditional p_ppm ----
    "q200_markov" -> ((s, dir) =>
      Events.markovTransitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")),

    // ---- dedup: sorted-neighborhood blocking (merge/purge) — rank the
    //      distinct p_name domain via the OrderedScan stitch, equi-join on
    //      rank bands (window 10), Levenshtein ≤ 2 — the O(domain·w)
    //      windowed complement of q192's length-banded cross ----
    "q201_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "part"), "p_name",
        window = 10, maxDist = 2)),

    // ---- events: last-touch attribution — each purchase credited to the
    //      latest prior view/click within 7 days via the union+window
    //      as-of form (ONE entity-partitioned window, last_value
    //      ignoreNulls; no join against the raw log); exact-cents revenue
    //      and exact-µs horizon/delay arithmetic ----
    "q202_attribution" -> ((s, dir) =>
      Events.lastTouchAttribution(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", "value",
        Seq("view", "click"), "purchase", horizonSec = 604800L)),

    // ---- streaming: the q196 funnel as a PER-ENTITY STATE MACHINE —
    //      mapGroupsWithState with O(1) (stage, last-µs) state (vs the
    //      batch form's per-step lists); greedy ascending scan ≡
    //      chained-min, so the same k-join oracle certifies the stream ----
    "q203_stream_funnel" -> ((s, dir) =>
      Streams.funnelStages(s, dir, Seq("view", "click", "purchase"),
        horizonSec = 259200L)),

    // ---- stats: Benford first-digit audit of order totals — 9-key
    //      map-side agg, literal expectation table (ppm constants, so no
    //      cross-engine libm dependence), integer deviation ----
    "q204_benford" -> ((s, dir) =>
      Stats.benfordDeviation(t(s, dir, "orders"), col("o_totalprice"))),

    // ---- events: top journey prefixes — each user's first 3 event types
    //      in (ts, id) order as a path string; entity-partitioned rank,
    //      deterministic sort_array collect, |types|³-bounded count agg ----
    "q205_paths" -> ((s, dir) =>
      Events.pathCounts(t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", k = 3)),

    // ---- events: survival/retention curve — lifespan = whole weeks
    //      first→last event; dense offsets via per-entity sequence
    //      fan-out (bounded by entities × calendar weeks); exact
    //      integer Kaplan-Meier under no censoring ----
    "q206_survival" -> ((s, dir) =>
      Events.survivalCurve(t(s, dir, "events"), "user_id", "ts")),

    // ---- stats: two-arm A/B lift — arms by user parity, conversion =
    //      any purchase in the first 72 h (broadcast-min window); exact
    //      integer counts/ppm + ONE shared-double z-score (round 6) ----
    "q207_ab_lift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val lo = ev.agg(min(col("ts")).as("__lo"))
      Stats.abLift(ev.crossJoin(broadcast(lo)), "user_id",
        inArm1 = col("user_id") % 2 === 0,
        converted = col("event_type") === "purchase" &&
          col("ts") < col("__lo") + expr("INTERVAL 72 HOURS"))
    }),

    // ---- stats: Gini concentration of customer revenue — ascending rank
    //      via the OrderedScan stitch (ties are value-equal ⇒ Σ rank·x is
    //      order-free), decimal128 closed form, truncating DIV to ppm ----
    "q208_gini" -> ((s, dir) =>
      Stats.giniConcentration(t(s, dir, "orders"), "o_custkey",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))),

    // ---- stats: CUSUM change-point over the daily event count series —
    //      cross-multiplied integer statistic (n·prefix − rank·total),
    //      earliest-key tie-break; calendar-bounded aggregate domain ----
    "q209_cusum" -> ((s, dir) =>
      Stats.cusumChangePoint(t(s, dir, "events"),
        to_date(col("ts")).as("k"), lit(1L))),

    // ---- stats: robust MAD outlier census per event type — exact
    //      interpolated medians kept integer by the ×2/×4 doubling trick,
    //      census threshold 2·dev2 > 3·mad4 all-integer ----
    "q210_mad_outliers" -> ((s, dir) =>
      Stats.madOutliers(t(s, dir, "events"), "event_type",
        expr("CAST(round(value * 1000000) AS BIGINT)"), k = 3)),

    // ---- text: pairwise source vocabulary Jaccard — distinct (source,
    //      token) domain checkpointed once, token-keyed intersection join
    //      (fan-out ≤ #sources²), broadcast size joins, integer ppm ----
    "q211_vocab_overlap" -> ((s, dir) =>
      graft.functions.Text.vocabOverlap(t(s, dir, "documents"),
        "source", "text")),

    // ---- events: view→purchase conversion-lag distribution — whole-second
    //      integer delays, quarter-quantiles ×4 (binary-exact positions),
    //      truncating mean; entity-keyed aggs + one equi-join ----
    "q212_conversion_lag" -> ((s, dir) =>
      Events.conversionLag(t(s, dir, "events"), "user_id", "ts",
        fromType = "view", toType = "purchase", typeCol = "event_type")),

    // ---- stats: 7-day rolling correlation between daily event count and
    //      daily value sum per type — windowed integer sufficient sums over
    //      the (type, day) aggregate, ONE rounded-double corr, exact
    //      integer zero-variance guard ----
    "q213_rolling_corr" -> ((s, dir) =>
      Stats.rollingCorr(t(s, dir, "events"), "event_type",
        to_date(col("ts")).as("k"), lit(1L),
        // cents, not micro: daily Σy² must stay inside int64 (y ~ 4e6
        // cents/day at sf0.1 → nw·syy ~ 7e14; micro would be 1e21)
        expr("CAST(round(value * 100) AS BIGINT)"), win = 7)),

    // ---- stats: chi-square independence of source × language — per-cell
    //      (O·N−R·C)²·10⁶ DIV (N·R·C) floor terms in decimal128 summed to
    //      an exact chi2_ppm; Cramér's V as the ONE rounded double; all
    //      post-shuffle work on the |sources|×|langs| cell table ----
    "q214_chi_square" -> ((s, dir) =>
      Stats.chiSquareIndependence(t(s, dir, "documents"),
        col("source"), col("lang"))),

    // ---- stats: ROC AUC via exact Mann-Whitney U with midrank ties —
    //      does document length separate English from the rest? No per-row
    //      ranks: score collapses to its value domain, the exclusive
    //      cumulative count rides the OrderedScan stitch ----
    "q215_auc" -> ((s, dir) =>
      Stats.aucMannWhitney(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en")),

    // ---- stats: Spearman rank correlation (chars vs tokens) — Pearson
    //      over exact ×2 midranks from per-column value domains; two
    //      domain-keyed joins, decimal128 sufficient sums, ONE rounded ρ ----
    "q216_spearman" -> ((s, dir) =>
      Stats.spearmanCorr(t(s, dir, "documents"),
        col("n_chars"), Text.tokenCount(col("text")))),

    // ---- retrieval: reciprocal-rank fusion of two document rankings
    //      (longest-first vs most-tokens-first) — global ranks ride the
    //      OrderedScan stitch over ONE encoded (desc metric, asc id) key;
    //      integer 10⁶ DIV (60+r) contributions, TakeOrdered top-20 ----
    "q217_rank_fusion" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // (BIG − metric)·SHIFT + id: ascending key order == (metric desc,
      // id asc); metric < 10⁷ and id < 10⁸ keep the key inside int64
      val enc = (m: Column) =>
        (lit(10000000L) - m.cast("long")) * 100000000L + col("doc_id")
      // the two ranking ladders are independent and each runs eager
      // cut-sampling jobs at construction — build them concurrently so the
      // scheduler overlaps their stages (the q179 discipline)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val raF = Future(OrderedScan.rowNumber(
          d.select(col("doc_id"), enc(col("n_chars")).as("__k")), "__k", "__r")
        .select(col("doc_id"), (col("__r") + 1L).as("rank")))
      val rbF = Future(OrderedScan.rowNumber(
          d.select(col("doc_id"), enc(Text.tokenCount(col("text"))).as("__k")),
          "__k", "__r")
        .select(col("doc_id"), (col("__r") + 1L).as("rank")))
      val ra = Await.result(raF, scala.concurrent.duration.Duration.Inf)
      val rb = Await.result(rbF, scala.concurrent.duration.Duration.Inf)
      Similarity.rrfFuse(ra, rb, "doc_id", "rank", k = 60, topN = 20)
    }),

    // ---- curation: CCNet-style boilerplate line removal — lines (10-word
    //      windows) present in > maxDf distinct docs drop from EVERY doc;
    //      line-vocabulary df join + per-doc positional reassembly; the
    //      frequency-threshold complement of q154's keep-first ----
    "q218_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateLines(t(s, dir, "documents"), "doc_id",
        Text.chunkArray(10, 0)(col("text")), maxDf = 2L)),

    // ---- privacy: k-anonymity audit over (source, lang, length-bucket)
    //      quasi-identifiers — ONE count agg to the QI domain, single
    //      audit row: dataset k, groups/rows below k=10 ----
    "q219_k_anonymity" -> ((s, dir) =>
      Stats.kAnonymity(t(s, dir, "documents"),
        Seq(col("source"), col("lang"), expr("n_chars DIV 100")), k = 10L)),

    // ---- operations at scale: Bloom-filter semi-join pruning — the
    //      runtime-filter pattern made explicit: the fact side drops
    //      non-matching keys against a 128 KiB broadcast bitmap BEFORE
    //      the join shuffle; pure codegen'd bit ops (no UDF, no driver
    //      model), and conservatively transparent, so the oracle is the
    //      PLAIN join — a hash match proves no row was wrongly pruned ----
    "q220_bloom_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      Bloom.prunedJoin(t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey")
        .groupBy(trunc(col("o_orderdate"), "mm").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
            .as("rev_cents"))
    }),

    // ---- operations at scale: theta-sketch set ALGEBRA — pairwise
    //      distinct-user intersections between event types from mergeable
    //      per-shard sketches (HLL unions only; theta intersects), with
    //      the q186 honesty certificate: output is the EXACT count plus
    //      an in-query flag that the sketch estimate landed inside 10% ----
    "q221_theta_intersect" -> ((s, dir) =>
      Sketches.intersectCensusTheta(t(s, dir, "events"), "event_type", "user_id")
        .orderBy(col("g1"), col("g2"))),

    // ---- operations at scale: KLL mergeable quantile profile — exact ×4
    //      quarter-quantiles of document length per source (binary-exact
    //      interpolation, the q212 convention) + a certificate that each
    //      merged-sketch estimate's EXACT RANK sits within 2× KLL's
    //      normalized rank-error bound (KLL guarantees rank, not value) ----
    "q222_kll_quantiles" -> ((s, dir) =>
      Sketches.quantileCensusKll(t(s, dir, "documents"), "source", "n_chars",
        Seq(0.25, 0.5, 0.75))),

    // ---- operations at scale: Z-ORDER layout + 2-D rectangle scan — the
    //      events copy is Morton-interleaved on (user_id, day), so BOTH
    //      filter dimensions cluster per file and min/max stats prune most
    //      files for the rectangle; result hash == the same query on the
    //      raw table (layout is semantics-free); ZOrderSpec audits the
    //      per-file bounding boxes vs a linear layout ----
    "q223_zorder_scan" -> ((s, dir) => {
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
    }),

    // ---- graph: FIXED-POINT PageRank (3 power rounds, parts-per-10¹²,
    //      truncating div everywhere → deterministic cross-engine) over a
    //      closed doc graph: per-source doc_id chains ∪ a star edge to
    //      each source's min doc (every node outdeg ≥ 1, no dangling
    //      mass); the hubs (min docs) accumulate rank, certified by the
    //      unrolled 3-round SQL oracle ----
    "q224_pagerank" -> ((s, dir) => {
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
    }),

    // ---- operations at scale: incremental aggregate MAINTENANCE — the
    //      materialized-view lifecycle: historical days reduce to an
    //      algebraic (n, Σcents, Σcents²) state PARQUET once; the delta
    //      (last 5 days) merges against the read-back state; exact
    //      integers make incremental == full recompute, which is what
    //      the oracle certifies ----
    "q225_incremental_agg" -> ((s, dir) => {
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
    }),

    // ---- text: pairwise KL drift between per-source unigram LMs —
    //      add-one smoothing over the corpus vocabulary, one nano-rounded
    //      double per present (pair, token), absent-both tokens in closed
    //      form; the distribution-shift panel beside q211's set overlap ----
    "q226_kl_drift" -> ((s, dir) =>
      Text.klDrift(t(s, dir, "documents"), "source", "text")),

    // ---- events: rolling DAU/WAU/MAU panel — exact sliding distinct
    //      counts where per-day partials CANNOT decompose; the corpus
    //      collapses once to the (user, day) domain, windows are a ≤30-way
    //      fan-out of that domain against the broadcast day list ----
    "q227_active_users" -> ((s, dir) =>
      Events.activeUsers(t(s, dir, "events"), "user_id", "ts")),

    // ---- streaming: stream-stream LEFT OUTER time-range join — null
    //      rows emit only when the watermark PROVES no match is coming
    //      (no-data batch finalization); purchases newer than the final
    //      watermark stay open and never emit, and the batch oracle
    //      applies the same cutoff (q122 convention) ----
    "q228_stream_left_outer" -> ((s, dir) =>
      Streams.leftOuterMatchCensus(s, dir)),

    // ---- stats: per-language weighted median of document length,
    //      weights = token counts — group-partitioned cumulative over the
    //      value domain, 2·cum ≥ total keeps halves exact-integer ----
    "q229_weighted_median" -> ((s, dir) =>
      Stats.weightedMedian(t(s, dir, "documents"),
        col("lang"), col("n_chars"), Text.tokenCount(col("text")))
        .withColumnRenamed("g", "lang")),

    // ---- text: per-source Shannon entropy of the unigram distribution —
    //      nano-fixed-point terms, order-free integer sum; the vocabulary-
    //      diversity canary beside q119's NLL quality score ----
    "q230_token_entropy" -> ((s, dir) =>
      Text.tokenEntropy(t(s, dir, "documents"), "source", "text")),

    // ---- dedup: Fellegi-Sunter record-linkage score histogram —
    //      (nation, segment) blocking, three agreement fields with fixed
    //      micro log-likelihood prior weights (exact-integer scores);
    //      the merge/purge review distribution ----
    "q231_linkage_scores" -> ((s, dir) =>
      Dedup.linkageScoreHistogram(t(s, dir, "customer"), "c_custkey",
        Seq(col("c_nationkey"), col("c_mktsegment")),
        Seq(
          // thousand-dollar balance bucket: m=.9/u=.1 → ±ln 9
          (expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000"),
            2197225L, -2197225L),
          // customer-number suffix (last 2 digits): m=.95/u=.01
          (expr("substr(c_name, -2, 2)"), 4553877L, -2985682L),
          // balance sign: m=.98/u=.5
          (col("c_acctbal") >= 0, 672944L, -3218876L)))),

    // ---- stats: per-source EQUI-DEPTH histogram — exact ×4 quarter-
    //      quantile edges, integer bucket membership over the value
    //      domain; the CBO-histogram complement of q178's equal-width ----
    "q232_equidepth_hist" -> ((s, dir) =>
      Stats.equiDepthHistogram(t(s, dir, "documents"),
        col("source"), col("n_chars"))
        .withColumnRenamed("g", "source")),

    // ---- streaming: at-least-once ingest dedup with BOUNDED state —
    //      dropDuplicatesWithinWatermark over a redelivered source (two
    //      links to the same file); duplicates share the event time so
    //      they always land inside the delay; oracle = plain totals ----
    "q233_stream_alo_dedup" -> ((s, dir) =>
      Streams.atLeastOnceDedupTotals(s, dir)),

    // ---- operations at scale: referential-integrity audit — orphans,
    //      childless parents, null FKs and join-fanning duplicate keys
    //      for two FK edges in one report; children collapse to their FK
    //      value domain before any anti-join ----
    "q234_fk_audit" -> ((s, dir) => {
      // the two audited edges are independent and each materializes its
      // key domains eagerly — overlap the edges' checkpoint jobs (§2.6);
      // the union/sort plan below is built from the settled results
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val aF = Future(Diff.fkAudit("orders.custkey",
        t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey"))
      val bF = Future(Diff.fkAudit("lineitem.orderkey",
        t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey"))
      graft.functions.Par.awaitAllSettled(aF, bF)
      Await.result(aF, Duration.Zero)
        .unionByName(Await.result(bF, Duration.Zero))
        .orderBy(col("fk"))
    }),

    // ---- stats: per-source mean GLOBAL percent rank of document length
    //      — the length-bias calibration panel; min-rank ppm from the
    //      stitched global value domain, never a per-row window ----
    "q235_pr_calibration" -> ((s, dir) =>
      Stats.percentRankCalibration(t(s, dir, "documents"),
        col("source"), col("n_chars"))
        .withColumnRenamed("g", "source")),

    // ---- events: association rules over user behavior baskets —
    //      exact-integer support/confidence/lift ppm from the distinct
    //      (user, type) domain; the independence-baseline panel Markov
    //      row-conditionals (q200) don't give ----
    "q236_assoc_rules" -> ((s, dir) =>
      Events.associationRules(t(s, dir, "events"), "user_id", "event_type")),

    // ---- events: per-(type, day) time-weighted average value — cents ×
    //      µs-gap weights in decimal128, (group, day)-partitioned lag
    //      window, one truncating div; the hold-until-next TWAP ----
    "q237_twap" -> ((s, dir) =>
      Events.twap(t(s, dir, "events"), col("event_type"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumnRenamed("g", "event_type")),

    // ---- plans: NATIVE jaro_winkler Catalyst expression (doGenCode →
    //      one static call inside whole-stage codegen; third member of
    //      the dot_f32/norm2_f32 family) — fuzzy part-name pairs within
    //      noun blocks on the DISTINCT-name domain, hash-checked against
    //      DuckDB's jaro_winkler_similarity at 6 dp ----
    "q238_jaro_winkler" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .select(col("p_name").as("name"),
          split(col("p_name"), " ").getItem(1).as("noun"))
        .distinct()
      names.as("a").join(names.as("b"),
          col("a.noun") === col("b.noun") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
          round(expr("jaro_winkler(a.name, b.name)"), 6).as("jw6"))
        .where(col("jw6") >= 0.5)
        .orderBy(col("name_a"), col("name_b"))
    }),

    // ---- multimodal: PACKFILE sharding (WebDataset pattern) — payloads
    //      concatenate into one blob per shard + a byte-offset index in
    //      ONE executor-side pass; fetch = index join + substr range
    //      read; fidelity census proves every payload survives the
    //      round-trip byte-exactly ----
    "q239_packfile_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          col("text").cast("binary").as("payload"))
        .repartition(8, col("doc_id"))
      val (blobs, index) = Multimodal.packShards(docs, "doc_id", "payload")
      Multimodal.unpack(blobs, index)
        .join(docs.select(col("doc_id").as("id"), col("source"), col("text")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(expr("CAST(payload AS STRING)") === col("text"), 1L)
            .otherwise(0L)).as("n_intact"))
        .orderBy(col("source"))
    }),

    // ---- events: sessionized entry/bounce analysis — 30-minute gap
    //      sessions via entity-partitioned windows (key-parallel), entry
    //      = lexicographic-min (ts, type) per session, integer-ppm bounce
    //      rate; the landing-quality panel ----
    "q240_bounce_rates" -> ((s, dir) =>
      Events.entryBounceRates(t(s, dir, "events"), "user_id",
        col("ts"), col("event_type"), gapMinutes = 30)),

    // ---- stats: one-pass pairwise covariance matrix over four lineitem
    //      measures — all sufficient sums in ONE map-side-combinable agg
    //      (never k² passes), exact-integer population covariance ----
    // cents via `CAST(x*100 + 0.5 AS BIGINT)`, not round(): Spark's round on
    // DOUBLE detours through BigDecimal (~2x the whole 4-col scan cost,
    // profiled at sf0.1); the +0.5-floor form is exact round-half-up for
    // these nonnegative 2-decimal inputs and stays in codegen'd long math
    "q241_cov_matrix" -> ((s, dir) =>
      Stats.covarianceMatrix(t(s, dir, "lineitem"), Seq(
        ("qty", col("l_quantity")),
        ("price_c", expr("CAST(l_extendedprice * 100 + 0.5 AS BIGINT)")),
        ("disc_pct", expr("CAST(l_discount * 100 + 0.5 AS BIGINT)")),
        ("tax_pct", expr("CAST(l_tax * 100 + 0.5 AS BIGINT)"))))),

    // ---- events: bitmap-index day-intersection (retention) matrix —
    //      packed 64-user words per day, word-keyed join + bit_count for
    //      EXACT |A∩B| on every day pair; the bitmap-index trade vs the
    //      distinct-domain self-join ----
    "q243_bitmap_retention" -> ((s, dir) =>
      Events.dayIntersectionMatrix(t(s, dir, "events"), "user_id", col("ts"))),

    // ---- operations at scale: PERSISTED sketch state — per-(type, day)
    //      HLL blobs written to parquet once, census answered by unioning
    //      the read-back state (tonight's job appends a day, never
    //      rescans); exact arm + 5% certificate (q186 honesty pattern) ----
    "q244_hll_state" -> ((s, dir) => {
      val path = s"/tmp/graft_warehouse/graft_hll_state_${math.abs(dir.hashCode).toString.take(6)}_${tableToken(s, dir, "events")}"
      Sketches.persistedDistinctCensusHll(s, path,
        t(s, dir, "events"), "event_type", to_date(col("ts")), "user_id")
        .orderBy(col("event_type"))
    }),

    // ---- similarity: label-centroid semantic-similarity matrix over
    //      the embeddings table — per-label fixed-point SUM vectors
    //      (round(v·10⁶) per element, order-free integer sums; cosine is
    //      scale-invariant so no division ever happens), pairwise cosine
    //      from decimal128 products, ONE rounded double per pair ----
    "q245_label_centroids" -> ((s, dir) => {
      // 1e4 quantization keeps dot² and na·nb inside decimal128; the
      // output is signed SQUARED cosine in ppm — every step integer, so
      // no cross-engine double-rounding boundary exists (a rounded-double
      // cosine flipped a 6dp boundary by one ulp between engines)
      val e = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          expr("CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)").as("q"))
        .groupBy(col("label"), col("dim")).agg(sum(col("q")).as("sq"))
        .localCheckpoint(true)
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      e.as("a").join(e.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(dec(col("a.sq")) * col("b.sq")).as("__dot"),
          sum(dec(col("a.sq")) * col("a.sq")).as("__na"),
          sum(dec(col("b.sq")) * col("b.sq")).as("__nb"))
        .select(col("label_a"), col("label_b"),
          when(col("__na") === 0 || col("__nb") === 0, lit(null).cast("long"))
            .otherwise(signum(col("__dot").cast("double")).cast("long") *
              expr("CAST((__dot * __dot * 1000000) DIV (__na * __nb) AS BIGINT)"))
            .as("cos2_ppm"))
        .orderBy(col("label_a"), col("label_b"))
    }),

    // ---- stats: per-source INTERQUARTILE mean (midmean) of document
    //      length — tails outside the exact ×4 [p25, p75] band are
    //      EXCLUDED (q159's winsorize clamps them instead); quarter ranks
    //      keep the interpolation binary-exact cross-engine (0.1-style
    //      ranks would not be), membership is integer comparison on the
    //      value domain, mean a truncating div ----
    "q246_trimmed_mean" -> ((s, dir) => {
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
    }),

    // ---- dedup at 100 TB, the AMORTIZED form: the corpus's minhash band
    //      buckets and shingle sets are PUBLISHED ONCE as bucketed tables
    //      (co-located by bucket key / doc id), and the incoming batch
    //      hashes only itself and probes the stored index — no corpus-side
    //      reshuffle per batch. Same md5-portable family as q113/q147, so
    //      the persisted layout itself is oracle-certified ----
    "q250_lsh_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir)
      Dedup.ensureLshIndex(docs.where(col("doc_id") % 7 =!= 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- index MAINTENANCE: publish over a partial corpus, APPEND the
    //      remainder as an incremental batch, then probe — certifying
    //      append(publish(A), B) ≡ publish(A ∪ B): the publish pipeline is
    //      per-doc deterministic, so the appended bucketed tables are
    //      row-equal to a full republish and the probe (and its oracle,
    //      shared with q250) cannot tell the difference ----
    "q261_lsh_index_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_app"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      // publish drops + recreates all three tables, so the query is
      // re-runnable (append alone is not: the duplicate-id guard fires)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- staged-commit CRASH SEMANTICS through the oracle gate: the
    //      append is killed between the staged data writes and the meta
    //      commit, then retried under a fresh epoch — the orphaned rows
    //      stay invisible forever, so the healed index is probe-identical
    //      to q261's untorn one (oracle shared VERBATIM) ----
    "q314_lsh_torn_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_torn"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      val batch = corpus.where(col("doc_id") % 5 === 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      graft.sources.Faults.tearAt("lsh.append.staged") {
        Dedup.appendLshIndex(batch, "doc_id", "text", tbl,
          newCorpusFp = lshCorpusFp(dir))
      }
      Dedup.appendLshIndex(batch, "doc_id", "text", tbl,
        newCorpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- the GC leg: the torn epoch is NOT retried — compaction
    //      garbage-collects the orphaned rows and the probe sees exactly
    //      the published partial corpus (oracle = the probe oracle with
    //      the corpus side restricted to the published subset) ----
    "q316_lsh_torn_gc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_gc"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      val publishedFp = s"documents[%7!=0,%5!=0]@$dir"
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = publishedFp)
      graft.sources.Faults.tearAt("lsh.append.staged") {
        Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
          "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      }
      // compaction drops the orphaned epoch during the rewrite it pays
      // anyway; the strict post-swap audit proves the committed view
      Dedup.compactLshIndex(s, tbl)
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = publishedFp)
    }),

    // ---- torn COMPACT through the oracle gate (q314-q317 cover torn
    //      APPENDs): the compaction's rename-aside swap is killed at its
    //      worst window — the live bucketed table renamed AWAY, the staged
    //      copy not yet renamed in — then the compaction is simply retried:
    //      repairCompacted restores the live name from the complete copy
    //      that survived, the rewrite re-runs, and the probe answers q261's
    //      oracle VERBATIM (compaction rewrites files, never rows, even
    //      across a mid-swap crash) ----
    "q318_lsh_torn_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_tc"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      graft.sources.Faults.tearAt("lsh.compact.buckets.aside") {
        Dedup.compactLshIndex(s, tbl)
      }
      // retry heals first (restore live from the surviving complete copy,
      // drop the stale staged copy), then compacts both tables + meta and
      // runs the strict post-swap audit
      Dedup.compactLshIndex(s, tbl)
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- CROSS-SESSION recovery through the oracle gate (the r15
    //      verdict's last durability seam): publish + append, then erase
    //      the in-memory catalog entries while keeping the warehouse
    //      directories (simulateCatalogLoss — byte-identical to what a JVM
    //      restart leaves), recoverLshIndex re-adopts the directories as
    //      the same managed bucketed tables (adoption = metadata ops
    //      only, nothing rewritten; the strict audit is the one linear
    //      certification pass), and the probe answers q261's
    //      oracle VERBATIM. RecoverySpec proves the same path across a
    //      REAL SparkContext restart ----
    "q319_lsh_index_recover" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_rec"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      Seq("_buckets", "_docs", "_meta").foreach(x =>
        graft.sources.Bucketing.simulateCatalogLoss(s, tbl + x))
      // fingerprint-checked + strict-audited re-adoption from `_meta`'s
      // self-describing layout
      Dedup.recoverLshIndex(s, tbl, expectedCorpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- maintenance CENSUS through the oracle gate (r15 verdict #7):
    //      tear an append between the staged data writes and the meta
    //      commit, then describeLshIndex must report EXACTLY the committed
    //      vs orphaned row/epoch split — replayed in SQL from raw text
    //      (committed = shingleable published docs, orphan = the torn
    //      batch, band rows = bands × doc rows by construction) ----
    "q320_lsh_epoch_census" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_cen"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      graft.sources.Faults.tearAt("lsh.append.staged") {
        Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
          "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      }
      // `files` is physical layout (not SQL-replayable); the census proper
      // — committed/orphan rows and epoch counts — goes through the oracle
      Dedup.describeLshIndex(s, tbl)
        .withColumn("tbl", element_at(split(col("table"), "_"), -1))
        .select(col("tbl"), col("rows_committed"), col("rows_orphan"),
          col("orphan_epochs"), col("committed_epochs"))
    }),

    // ---- the census matrix completed for the ANN side (r16 verdict #6):
    //      describeIvfIndex after a torn vector append — the inverted
    //      lists hold exactly one committed assignment row per published
    //      vector and one orphan row per torn-batch vector, replayed in
    //      SQL as plain counts over the embeddings table ----
    "q321_ivf_epoch_census" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_cen"
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", tbl, trainRows = 128,
        corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("ivf.append.staged") {
        Similarity.appendIvfIndex(e.where(col("vec_id") % 5 === 0),
          "vec_id", "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.describeIvfIndex(s, tbl)
        .withColumn("tbl", element_at(split(col("table"), "_"), -1))
        .select(col("tbl"), col("rows_committed"), col("rows_orphan"),
          col("orphan_epochs"), col("committed_epochs"))
    }),

    // ---- census matrix, PQ leg: describePqIndex reports the same
    //      one-assignment-row-per-vector invariant over the codes-only
    //      inverted lists — all three index families' censuses now go
    //      through the oracle gate (LSH q320, IVF q321, PQ here) ----
    "q322_pq_epoch_census" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_cen"
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("pq.append.staged") {
        Similarity.appendPqIndex(e.where(col("vec_id") % 5 === 0),
          "vec_id", "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.describePqIndex(s, tbl)
        .withColumn("tbl", element_at(split(col("table"), "_"), -1))
        .select(col("tbl"), col("rows_committed"), col("rows_orphan"),
          col("orphan_epochs"), col("committed_epochs"))
    }),

    // ---- staged-commit crash semantics, IVF form — completes the torn-
    //      append oracle matrix (LSH q314, PQ q315, IVF here): the append
    //      dies between the staged vector write and the meta commit,
    //      retries under a fresh epoch, and the healed index answers
    //      q264's oracle VERBATIM ----
    "q317_ivf_torn_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_vtorn"
      val batch = e.where(col("vec_id") % 5 === 0)
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        tbl, trainRows = 128, corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("ivf.append.staged") {
        Similarity.appendIvfIndex(batch, "vec_id", "embedding", tbl,
          newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.appendIvfIndex(batch, "vec_id", "embedding", tbl,
        newCorpusFp = ivfCorpusFp(dir))
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
    }),

    // ---- corpus analysis: DISTINCTIVE TERMS per source — Monroe et al.
    //      "Fightin' Words" log-odds with informative Dirichlet prior
    //      (corpus-proportional α); the characteristically-source-X
    //      vocabulary panel raw tf-idf gets wrong on rare noise ----
    "q260_distinctive_terms" -> ((s, dir) => {
      Text.distinctiveTerms(t(s, dir, "documents"), "source", "text",
        alpha0 = 1000.0, topK = 5)
        .withColumnRenamed("g", "source")
    }),

    // ---- streaming at 100 TB state, aggregation flavor: q49's tumbling
    //      windowed agg with streaming-AGGREGATION state in RocksDB — the
    //      third state-manager family after q249 (mapGroups) and q258
    //      (session windows); same rows by construction ----
    "q259_stream_tumbling_rocksdb" -> ((s, dir) => {
      Streams.tumblingByTypeRocksDb(s, dir, "1 hour")
    }),

    // ---- streaming at 100 TB state, session flavor: q143's gap
    //      sessionization with SESSION-WINDOW state in RocksDB — a
    //      different store code path (merge/split of windows per key) than
    //      q249's mapGroupsWithState, same rows by construction ----
    "q258_stream_sessions_rocksdb" -> ((s, dir) => {
      Streams.sessionCountsRocksDb(s, dir, "12 hours")
    }),

    // ---- data-card panel: DUPLICATE-CLUSTER SIZE DISTRIBUTION — how much
    //      of the corpus sits in 2-dup / 3-dup / N-dup clusters (the
    //      figure every dataset paper reports); components → cluster
    //      census → size histogram, all map-side-partial aggs ----
    "q256_cluster_sizes" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPortable(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.components(pairs)
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .withColumn("docs_in", col("sz") * col("n_clusters"))
    }),

    // ---- data-card panel: CROSS-SOURCE duplication matrix — which crawls
    //      duplicate each other (directs dedup priority and licensing
    //      review); near-dup pairs annotated with both sides' sources,
    //      symmetrized to an unordered (src_lo, src_hi) census ----
    "q257_cross_source_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("s_a")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("s_b")), Seq("id_b"))
        .select(least(col("s_a"), col("s_b")).as("src_lo"),
          greatest(col("s_a"), col("s_b")).as("src_hi"))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ---- ML-data tooling: GROUP K-FOLD — near-dup clusters dealt whole
    //      into 5 folds (no cross-fold leakage), clusters ranked in md5
    //      order of their representative via the distributed rowNumber
    //      stitch → fold group counts exactly balanced (±1) ----
    "q255_group_kfold" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      Sampling.groupKFold(docs, "doc_id", pairs, k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep_id")).as("n_groups"),
          sum(col("n_chars")).as("chars"))
    }),

    // ---- graph curation: k-CORE of the near-dup similarity graph — the
    //      dense-cluster detector (template farms survive the peel; stray
    //      pairs don't). Iterative peel, rounds bounded by degeneracy
    //      depth; the oracle replays a fixed unrolled ladder (the peel is
    //      idempotent at the fixed point, so spare rounds are no-ops) ----
    "q254_kcore" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPortable(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      // maxIter = 5 on purpose: the SQL oracle replays a FIXED 5-round
      // unrolled ladder, so a graph that genuinely needed more peel rounds
      // must fail LOUDLY here (kCore requires convergence within maxIter)
      // rather than surface as a confusing oracle hash mismatch
      Graphs.kCore(pairs, "id_a", "id_b", k = 2, maxIter = 5)
        .select(col("id").cast("long").as("doc_id"), col("core_degree"))
    }),

    // ---- events: INTERVAL-UNION coverage per user (gaps-and-islands) —
    //      each event opens a value-minutes interval; overlaps merge into
    //      islands, output = exact covered micros / island count / widest
    //      island. All windows key-parallel on the user — no global sort ----
    "q253_interval_coverage" -> ((s, dir) => {
      Events.intervalCoverage(t(s, dir, "events"), "user_id", "ts",
        expr("CAST(round(value * 60000000) AS BIGINT)"))
    }),

    // ---- the full ingest-time dedup composition: STREAMING batches probe
    //      the PUBLISHED bucketed LSH index per micro-batch (foreachBatch)
    //      — union over batches == the one-shot probe == the q250 oracle ----
    "q252_stream_lsh_probe" -> ((s, dir) => {
      val tbl = lshIndexTable(dir)
      Dedup.ensureLshIndex(
        t(s, dir, "documents").where(col("doc_id") % 7 =!= 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
      // incoming batch + 2-file arrival split are this query's fixture
      Streams.streamLshIndexProbe(s,
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .where(col("doc_id") % 7 === 0),
        tbl,
        batchPreds = Seq(col("doc_id") % 14 === 0, col("doc_id") % 14 =!= 0),
        corpusFp = lshCorpusFp(dir))
    }),

    // ---- dedup-apply, the INCREMENTAL form: yesterday's cluster labels
    //      enter as star edges and only the new batch's pairs (batch-self
    //      LSH + batch×corpus delta) propagate — convergence bounded by the
    //      NEW edges' diameter, not the historical graph's. The oracle
    //      recomputes components over the FULL pair graph, certifying that
    //      warm-start and full recompute reach the same fixed point ----
    "q251_incremental_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // banding is per-doc deterministic, so hashing the corpus ONCE and
      // splitting the pair set by id group yields exactly (old-self pairs,
      // new-batch pairs) — the pair sets a production system gets from its
      // stored index (q250) + the batch's own hashes, without re-shingling
      // either side per phase
      val pairsAll = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val oldPairs = pairsAll
        .where(col("id_a") % 3 =!= 0 && col("id_b") % 3 =!= 0)
      val newPairs = pairsAll
        .where(col("id_a") % 3 === 0 || col("id_b") % 3 === 0)
      val labels0 = Dedup.components(oldPairs)
      val labels = Dedup.componentsIncremental(labels0, newPairs)
      val drop = labels.where(col("id") =!= col("cluster"))
        .select(col("id").cast("long").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_after"), sum(col("n_chars")).as("chars_after"))
    }),

    // ---- streaming at 100 TB state: the q78 arbitrary-state aggregation
    //      with per-key state in ROCKSDB (off-heap, changelog-checkpointed)
    //      instead of the on-heap provider — same watermark semantics, same
    //      rows, so the scale configuration is oracle-checked every round,
    //      not just spec'd ----
    "q249_stream_rocksdb" -> ((s, dir) => {
      Streams.statefulUserTotalsRocksDb(s, dir)
    }),

    // ---- §2.1 Frame.ofColumns BULK construction (reference
    //      src/Frame.fs:745-813): three independently-keyed series (F-day
    //      totals, O-day totals, all-day averages — different key
    //      coverage) assemble into one frame in ONE union+pivot shuffle,
    //      row index = key union, absent keys missing ----
    "q248_from_series" -> ((s, dir) => {
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
    }),

    // ---- §2.3 endpoint accessors as named API (reference
    //      src/SeriesModule.fs:199-202): firstKey/lastKey/firstValue/
    //      lastValue/KeyRange in ONE partial-aggregable min/max +
    //      min_by/max_by pass — no global sort, no positional scan ----
    "q247_first_last" -> ((s, dir) => {
      daily(s, dir).firstLast
        .select(col("first_key"), col("last_key"),
          round(col("first_value"), 4).as("first_value"),
          round(col("last_value"), 4).as("last_value"))
    }),

    // ---- multi-granularity rollup via GROUPING SETS — day, (type, day),
    //      ISO week and grand total in ONE pass (one shuffle with a
    //      grouping-id expand, not four scans); the report-cube shape ----
    "q242_grouping_sets" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("wk", weekofyear(col("ts")).cast("long"))
        .createOrReplaceTempView("graft_ev_gs")
      s.sql(
        """SELECT grouping_id(day, event_type, wk) AS gid,
          |  event_type, day, wk,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
          |FROM graft_ev_gs
          |GROUP BY GROUPING SETS ((day), (event_type, day), (wk), ())
          |ORDER BY gid, event_type, day, wk""".stripMargin)
    })
  )

  // ----------------------------------------------------------------------

  /** Shared by q250 (batch probe of the stored LSH index) and q252 (the
    * same probe as per-micro-batch streaming foreachBatch) — both must
    * equal the direct delta computation recomputed here from raw text. */
  // q262/q263 shared oracle: sampled-train IVF (training over the
  // md5-ranked 128-row sample, corpus-wide assignment + probe)
  /** Shared by q266 (default candidate generation) and q295 (the
    * hot-bucket cap pinned low but non-triggering): byte-identical results
    * certify the capped path is pure plan machinery when no bucket
    * exceeds the cap. */
  /** Shared by q111 (one-shot composed IVF+PQ) and q310 (the stored
    * publish+probe form): deterministic training over the same corpus makes
    * the two paths row-identical by construction. */
  private val ivfPqOracleSql: String =
    """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 8),
        |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
        |dist1 AS (SELECT f.vec_id, c0.c, sum((f.q - c0.cv)*(f.q - c0.cv)) AS dist
        |          FROM f JOIN cent0 c0 ON f.d = c0.d GROUP BY 1, 2),
        |asg1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist1) WHERE rn = 1),
        |upd1 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg1 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
        |dist2 AS (SELECT f.vec_id, c1.c, sum((f.q - c1.cv)*(f.q - c1.cv)) AS dist
        |          FROM f JOIN cent1 c1 ON f.d = c1.d GROUP BY 1, 2),
        |asg2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist2) WHERE rn = 1),
        |upd2 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg2 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
        |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
        |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
        |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
        |asg3 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist3) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c FROM (
        |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 2),
        |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |               FROM probes p JOIN asg3 a USING (c)
        |               WHERE a.vec_id <> p.query_id),
        |fj AS (SELECT vec_id, d, d // 8 AS j, q FROM f),
        |pids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |         FROM embeddings ORDER BY vec_id LIMIT 16),
        |cb0 AS (SELECT fj.j, pids.c, fj.d, fj.q AS cv FROM pids JOIN fj USING (vec_id)),
        |d1 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb0 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d1) WHERE rn = 1),
        |u1 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a1 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb1 AS (SELECT b0.j, b0.c, b0.d, coalesce(u.cv, b0.cv) AS cv
        |        FROM cb0 b0 LEFT JOIN u1 u ON b0.j = u.j AND b0.c = u.c AND b0.d = u.d),
        |d2 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb1 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a2 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d2) WHERE rn = 1),
        |u2 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a2 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb2 AS (SELECT b1.j, b1.c, b1.d, coalesce(u.cv, b1.cv) AS cv
        |        FROM cb1 b1 LEFT JOIN u2 u ON b1.j = u.j AND b1.c = u.c AND b1.d = u.d),
        |d3 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb2 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, j, c FROM (
        |        SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |        FROM d3) WHERE rn = 1),
        |adc AS (SELECT cd.query_id, cd.neighbor_id,
        |        CAST(sum((q.q - b.cv)*(q.q - b.cv)) AS BIGINT) AS dist
        |        FROM candidates cd
        |        JOIN fj q ON q.vec_id = cd.query_id
        |        JOIN enc e ON e.vec_id = cd.neighbor_id AND e.j = q.j
        |        JOIN cb2 b ON b.j = q.j AND b.c = e.c AND b.d = q.d
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin

  /** Shared by q311 (PQ index append) and q312 (append + compact): the
    * one-shot IVF+PQ ladder with every TRAINING input (coarse-centroid
    * seeds + Lloyd iterations, PQ codebook seeds + iterations) restricted
    * to the initially-published partial corpus (vec_id % 5 != 0) while the
    * FINAL assignment, encode, and probe stay corpus-wide — exactly what
    * append-under-stored-models computes (the q264 discipline, PQ form).
    * Compaction rewrites files, never rows, so q312 shares it verbatim. */
  private val ivfPqAppendOracleSql: String = Seq(
    // training-sample seeds draw only from the published partial corpus
    "FROM embeddings ORDER BY vec_id LIMIT 8" ->
      "FROM embeddings WHERE vec_id % 5 != 0 ORDER BY vec_id LIMIT 8",
    "FROM embeddings ORDER BY vec_id LIMIT 16" ->
      "FROM embeddings WHERE vec_id % 5 != 0 ORDER BY vec_id LIMIT 16",
    // A-restricted views of the quantized corpus for the training loops
    "AS q FROM embeddings)," ->
      "AS q FROM embeddings),\nfa AS (SELECT * FROM f WHERE vec_id % 5 != 0),",
    "AS j, q FROM f)," ->
      "AS j, q FROM f),\nfja AS (SELECT * FROM fj WHERE vec_id % 5 != 0),",
    // coarse Lloyd iterations train on A only (dist3 stays corpus-wide)
    "FROM f JOIN cent0 c0 ON f.d = c0.d" ->
      "FROM fa AS f JOIN cent0 c0 ON f.d = c0.d",
    "FROM f JOIN cent1 c1 ON f.d = c1.d" ->
      "FROM fa AS f JOIN cent1 c1 ON f.d = c1.d",
    "JOIN f USING (vec_id)" -> "JOIN fa AS f USING (vec_id)",
    // PQ codebook iterations train on A only (d3/enc stay corpus-wide)
    "FROM fj JOIN cb0 b" -> "FROM fja AS fj JOIN cb0 b",
    "FROM fj JOIN cb1 b" -> "FROM fja AS fj JOIN cb1 b",
    "JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j" ->
      "JOIN fja AS fj ON a.vec_id = fj.vec_id AND a.j = fj.j"
  ).foldLeft(ivfPqOracleSql) { case (sql, (pattern, replacement)) =>
    // each rewrite must take effect — a silent no-op here would revert
    // q311/q312's oracle to full-corpus training and surface as a
    // confusing downstream hash mismatch instead of a loud init failure
    require(sql.contains(pattern),
      s"ivfPqAppendOracleSql: base ivfPqOracleSql drifted — rewrite " +
        s"pattern no longer matches: '$pattern'")
    sql.replace(pattern, replacement)
  }

  private val containmentOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
      |        FROM w WHERE len(w) >= 3),
      |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
      |seeds AS (SELECT unnest(range(0, 16)) AS s),
      |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
      |       FROM sh, seeds GROUP BY 1, 2),
      |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
      |       FROM mh GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
      |         WHERE a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
      |sc AS (SELECT c.id_a, c.id_b,
      |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
      |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
      |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
      |                   JOIN sets b ON c.id_b = b.doc_id),
      |u AS (SELECT id_a AS contained_id, id_b AS container_id,
      |        inter * 1000000 // na AS containment_ppm FROM sc
      |      UNION ALL
      |      SELECT id_b, id_a, inter * 1000000 // nb FROM sc)
      |SELECT contained_id, container_id, containment_ppm
      |FROM u WHERE containment_ppm >= 800000""".stripMargin

  private val ivfSampledOracleSql: String =
    """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |smp AS (SELECT vec_id FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 128),
        |ft AS (SELECT f.* FROM f JOIN smp USING (vec_id)),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM smp ORDER BY vec_id LIMIT 8),
        |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
        |dist1 AS (SELECT ft.vec_id, c0.c, sum((ft.q - c0.cv)*(ft.q - c0.cv)) AS dist
        |          FROM ft JOIN cent0 c0 ON ft.d = c0.d GROUP BY 1, 2),
        |asg1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist1) WHERE rn = 1),
        |upd1 AS (SELECT a.c, ft.d, CAST(floor(sum(ft.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg1 a JOIN ft USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
        |dist2 AS (SELECT ft.vec_id, c1.c, sum((ft.q - c1.cv)*(ft.q - c1.cv)) AS dist
        |          FROM ft JOIN cent1 c1 ON ft.d = c1.d GROUP BY 1, 2),
        |asg2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist2) WHERE rn = 1),
        |upd2 AS (SELECT a.c, ft.d, CAST(floor(sum(ft.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg2 a JOIN ft USING (vec_id) GROUP BY 1, 2),
        |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
        |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
        |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
        |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
        |asg3 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist3) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c FROM (
        |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 2),
        |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |               FROM probes p JOIN asg3 a USING (c)
        |               WHERE a.vec_id <> p.query_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |sims AS (SELECT cd.query_id, cd.neighbor_id,
        |         sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cosine
        |         FROM candidates cd JOIN fl a ON a.vec_id = cd.query_id
        |                            JOIN fl b ON b.vec_id = cd.neighbor_id AND a.i = b.i
        |         GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM sims)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin

  // q97's contamination pairs — shared with q292's per-probe report
  // q45's fixed-point IVF replay (quantize → 2 Lloyd rounds → probe 3 of 16
  // lists → exact-cosine rank), sans final projection: `r` holds the ranked
  // candidates. Shared by q45 (top-k rows) and q306 (recall vs brute).
  private val ivfKnnOracleCtes: String =
    """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
      |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
      |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
      |        FROM embeddings ORDER BY vec_id LIMIT 16),
      |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
      |dist1 AS (SELECT f.vec_id, c0.c, sum((f.q - c0.cv)*(f.q - c0.cv)) AS dist
      |          FROM f JOIN cent0 c0 ON f.d = c0.d GROUP BY 1, 2),
      |asg1 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |         FROM dist1) WHERE rn = 1),
      |upd1 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
      |         FROM asg1 a JOIN f USING (vec_id) GROUP BY 1, 2),
      |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
      |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
      |dist2 AS (SELECT f.vec_id, c1.c, sum((f.q - c1.cv)*(f.q - c1.cv)) AS dist
      |          FROM f JOIN cent1 c1 ON f.d = c1.d GROUP BY 1, 2),
      |asg2 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |         FROM dist2) WHERE rn = 1),
      |upd2 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
      |         FROM asg2 a JOIN f USING (vec_id) GROUP BY 1, 2),
      |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
      |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
      |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
      |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
      |asg3 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |         FROM dist3) WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, c FROM (
      |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 3),
      |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |               FROM probes p JOIN asg3 a USING (c)
      |               WHERE a.vec_id <> p.query_id),
      |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
      |       FROM embeddings),
      |sims AS (SELECT cd.query_id, cd.neighbor_id,
      |         sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cosine
      |         FROM candidates cd JOIN fl a ON a.vec_id = cd.query_id
      |                            JOIN fl b ON b.vec_id = cd.neighbor_id AND a.i = b.i
      |         GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM sims)""".stripMargin

  private val decontamOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      |g AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(ws) < 3 THEN []
      |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
      |  END) AS sh
      |  FROM w),
      |pairs AS (
      |SELECT t.doc_id AS train_id, p.doc_id AS probe_id,
      |  len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) AS ov
      |FROM g t, g p
      |WHERE t.doc_id >= 10 AND p.doc_id < 10 AND len(t.sh) > 0 AND len(p.sh) > 0)
      |SELECT train_id, probe_id, round(ov, 6) AS overlap
      |FROM pairs WHERE ov >= 0.5""".stripMargin

  // q43's full simhash replay — shared with q288's radius census
  private val simhashOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |           FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
      |h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tok),
      |d AS (SELECT doc_id, p.p, strpos('0123456789abcdef', substr(hx, p.p + 1, 1)) - 1 AS dv
      |      FROM h, (SELECT unnest(range(0, 16)) AS p) p),
      |b AS (SELECT doc_id, d.p * 4 + j.j AS bit,
      |      CASE WHEN (dv >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS c
      |      FROM d, (SELECT unnest(range(0, 4)) AS j) j),
      |bits AS (SELECT doc_id, bit, CASE WHEN sum(c) > 0 THEN 1 ELSE 0 END AS v
      |         FROM b GROUP BY 1, 2),
      |fpd AS (SELECT doc_id, bit // 4 AS p,
      |        CAST(sum(CASE WHEN v = 1 THEN 1 << (bit % 4) ELSE 0 END) AS INT) AS digit
      |        FROM bits GROUP BY 1, 2),
      |fph AS (SELECT doc_id, string_agg(substr('0123456789abcdef', digit + 1, 1), '' ORDER BY p) AS fph
      |        FROM fpd GROUP BY 1),
      |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fph AS ha, b.fph AS hb
      |       FROM fph a, fph b WHERE a.doc_id < b.doc_id),
      |ham AS (SELECT id_a, id_b, CAST(sum(bit_count(
      |        xor(strpos('0123456789abcdef', substr(ha, p.p + 1, 1)) - 1,
      |            strpos('0123456789abcdef', substr(hb, p.p + 1, 1)) - 1))) AS BIGINT) AS hamming
      |        FROM pr, (SELECT unnest(range(0, 16)) AS p) p GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8""".stripMargin

  /** Shared replay for the IVF (q321) and PQ (q322) epoch censuses: both
    * families keep one assignment row per vector in `_assign`, so the
    * committed/orphan census is a pair of plain counts over the raw
    * embeddings table — family-independent by construction. */
  private val annCensusOracleSql: String =
    """SELECT 'assign' AS tbl,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 != 0) AS BIGINT) AS rows_committed,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0) AS BIGINT) AS rows_orphan,
      |  CAST(1 AS BIGINT) AS orphan_epochs,
      |  CAST(1 AS BIGINT) AS committed_epochs""".stripMargin

  private val lshProbeOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
      |        FROM w WHERE len(w) >= 3),
      |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
      |seeds AS (SELECT unnest(range(0, 16)) AS s),
      |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
      |       FROM sh, seeds GROUP BY 1, 2),
      |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
      |       FROM mh GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS incoming_id, b.doc_id AS corpus_id
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
      |         WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 != 0),
      |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl)
      |SELECT c.incoming_id, c.corpus_id,
      |round(len(list_intersect(a.tok, b.tok))::DOUBLE
      |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
      |FROM cand c JOIN sets a ON c.incoming_id = a.doc_id JOIN sets b ON c.corpus_id = b.doc_id
      |WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
      |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5""".stripMargin

  private val streamSessionsOracleSql: String =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |e AS (SELECT user_id, ts, value,
      |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM events),
      |s AS (SELECT user_id, ts, value,
      |      sum(CASE WHEN pts IS NULL
      |               OR epoch_us(ts) - epoch_us(pts) >= 43200000000
      |          THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM e),
      |agg AS (SELECT user_id, sid, epoch_us(min(ts)) AS sess_start,
      |        epoch_us(max(ts)) + 43200000000 AS sess_end,
      |        count(*) AS n, round(sum(value), 4) AS total
      |        FROM s GROUP BY 1, 2)
      |SELECT CAST(sess_start AS BIGINT) AS sess_start,
      |       CAST(sess_end AS BIGINT) AS sess_end, user_id, n, total
      |FROM agg, m WHERE sess_end <= epoch_us(mx) - 3600000000""".stripMargin

  def oracleSql: Map[String, String] = coreOracleSql ++ pipelineOracleSql ++ extendedOracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "q01_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity),4) AS sum_qty,
        |round(sum(l_extendedprice),4) AS sum_base_price,
        |round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        |round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),4) AS sum_charge,
        |round(avg(l_quantity),6) AS avg_qty,
        |round(avg(l_extendedprice),6) AS avg_price,
        |round(avg(l_discount),6) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |round(l_extendedprice*(1-l_discount),4) AS revenue
        |FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05""".stripMargin,

    "q03_sort_limit" ->
      """SELECT o_orderkey, round(o_totalprice,4) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q04_join_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q05_join_multi" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin,

    "q06_scan_agg" ->
      """SELECT round(sum(l_extendedprice*l_discount),4) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount >= 0.02 AND l_discount <= 0.08""".stripMargin,

    "q07_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |round(coalesce(sum(o_totalprice),0),4) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q08_zip_arith" ->
      """WITH a AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v
        |           FROM orders GROUP BY 1),
        |     b AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v
        |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
        |SELECT coalesce(a.k, b.k) AS k,
        |round(CASE WHEN a.v IS NOT NULL AND b.v IS NOT NULL THEN a.v + b.v END, 4) AS v
        |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin,

    "q09_append" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),4) AS sum_qty
        |FROM (SELECT * FROM lineitem WHERE l_returnflag = 'R'
        |      UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'A')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q10_group_stats" ->
      """SELECT l_returnflag,
        |round(stddev_samp(l_quantity),6) AS sdv,
        |round(var_samp(l_quantity),6) AS variance,
        |round(min(l_quantity),4) AS min_qty,
        |round(max(l_quantity),4) AS max_qty,
        |round(quantile_cont(l_quantity, 0.5),6) AS median_qty,
        |round(avg(l_quantity),6) AS mean_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q11_pivot" ->
      """SELECT l_returnflag,
        |round(sum(CASE WHEN l_linestatus='F' THEN l_quantity END),4) AS F,
        |round(sum(CASE WHEN l_linestatus='O' THEN l_quantity END),4) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q12_window_sliding" ->
      s"""$dailySql
         |SELECT k, round(avg(v) OVER (ORDER BY k ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS mavg
         |FROM daily""".stripMargin,

    "q13_diff" ->
      s"""$dailySql
         |SELECT k, round(v - lag(v,1) OVER (ORDER BY k),4) AS d FROM daily""".stripMargin,

    "q14_shift" ->
      s"""$dailySql
         |SELECT k, round(lag(v,1) OVER (ORDER BY k),4) AS prev_v FROM daily""".stripMargin,

    "q15_pairwise" ->
      s"""$dailySql, p AS (
         |SELECT k, lag(v,1) OVER (ORDER BY k) AS prev, v AS cur FROM daily)
         |SELECT k, round(prev,4) AS prev, round(cur,4) AS cur FROM p WHERE prev IS NOT NULL""".stripMargin,

    "q16_chunk" ->
      s"""$dailySql, o AS (
         |SELECT k, v, row_number() OVER (ORDER BY k) - 1 AS ord FROM daily)
         |SELECT min(k) AS k, round(sum(v),4) AS chunk_sum, count(*) AS n
         |FROM o GROUP BY CAST(floor(ord / 7.0) AS BIGINT) HAVING count(*) = 7""".stripMargin,

    "q17_window_dist" ->
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily)
         |SELECT k, round(sum(v) OVER (ORDER BY k RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS wsum
         |FROM e""".stripMargin,

    "q18_fill_forward" ->
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT k, round(last_value(v IGNORE NULLS) OVER (
         |  ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS filled
         |FROM re""".stripMargin,

    "q19_fill_const" ->
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT round(sum(coalesce(v,0)),4) AS sum_filled, count(*) AS n_total,
         |(SELECT count(v) FROM re) AS n_present FROM re""".stripMargin,

    "q20_asof_smaller" ->
      s"""$dailySql, grid AS (
         |SELECT unnest(generate_series(
         |  (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g)
         |SELECT g, round((SELECT v FROM daily d WHERE d.k <= g.g AND d.v IS NOT NULL
         |                 ORDER BY d.k DESC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin,

    "q21_asof_greater" ->
      s"""$dailySql, grid AS (
         |SELECT unnest(generate_series(
         |  (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g)
         |SELECT g, round((SELECT v FROM daily d WHERE d.k >= g.g AND d.v IS NOT NULL
         |                 ORDER BY d.k ASC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin,

    "q22_resample_month" ->
      s"""$dailySql
         |SELECT date_trunc('month', k)::DATE AS k, round(sum(v),4) AS total, count(v) AS n_days
         |FROM daily GROUP BY 1""".stripMargin,

    "q23_sample_time" ->
      """SELECT CAST(floor(epoch(date_trunc('second', ts))/3600)*3600 AS BIGINT) AS k,
        |count(*) AS n, round(sum(value),4) AS total
        |FROM events GROUP BY 1""".stripMargin,

    "q24_sessionize" ->
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
        |FROM sess GROUP BY user_id, sess_id""".stripMargin,

    "q25_frame_stats" ->
      """SELECT 'l_partkey' AS "column", round(avg(l_partkey),6) AS value FROM lineitem
        |UNION ALL SELECT 'l_suppkey', round(avg(l_suppkey),6) FROM lineitem
        |UNION ALL SELECT 'l_quantity', round(avg(l_quantity),6) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', round(avg(l_extendedprice),6) FROM lineitem
        |UNION ALL SELECT 'l_discount', round(avg(l_discount),6) FROM lineitem
        |UNION ALL SELECT 'l_tax', round(avg(l_tax),6) FROM lineitem""".stripMargin,

    "q26_topk_group" ->
      """WITH j AS (
        |SELECT c_mktsegment, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY c_mktsegment
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, rn, o_orderkey, round(o_totalprice,4) AS o_totalprice
        |FROM j WHERE rn <= 3""".stripMargin,

    "q27_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q28_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q29_slice_between" ->
      s"""$dailySql
         |SELECT k, round(v,4) AS v FROM daily
         |WHERE k >= DATE '1996-03-01' AND k <= DATE '1996-06-30'""".stripMargin,

    "q30_union_prefer" ->
      s"""$dailySql,
         |h1 AS (SELECT k, v*2.0 AS v FROM daily WHERE month(k) <= 6),
         |h2 AS (SELECT k, v FROM daily WHERE month(k) >= 4)
         |SELECT coalesce(h1.k, h2.k) AS k, round(coalesce(h1.v, h2.v),4) AS v
         |FROM h1 FULL OUTER JOIN h2 ON h1.k = h2.k""".stripMargin,

    "q31_realign" ->
      s"""$dailySql, grid AS (
         |SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 7 DAY))::DATE AS g)
         |SELECT g.g AS k, round(d.v,4) AS v FROM grid g LEFT JOIN daily d ON g.g = d.k""".stripMargin,

    "q32_frame_arith" ->
      """WITH f AS (SELECT l_returnflag, l_quantity*2.0 AS q2, l_discount*2.0 AS d2 FROM lineitem)
        |SELECT l_returnflag, round(sum(q2),4) AS sum_qty2, round(sum(d2),4) AS sum_disc2
        |FROM f GROUP BY l_returnflag""".stripMargin,

    "q33_multilevel" ->
      """SELECT o_orderstatus, date_trunc('month', o_orderdate)::DATE AS month,
        |count(*) AS n, round(sum(o_totalprice),4) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q34_resample_bounds" ->
      s"""$dailySql, bounds AS (
         |SELECT (DATE '1994-06-01' + INTERVAL (i*3) MONTH)::DATE AS b
         |FROM range(0,40) t(i)),
         |tagged AS (
         |SELECT d.k, d.v,
         |coalesce((SELECT max(b) FROM bounds WHERE b <= d.k), (SELECT min(b) FROM bounds)) AS bucket
         |FROM daily d),
         |agg AS (SELECT bucket, sum(v) AS total, count(v) AS n FROM tagged GROUP BY bucket)
         |SELECT b.b AS k, round(a.total,4) AS total, a.n AS n
         |FROM bounds b LEFT JOIN agg a ON b.b = a.bucket""".stripMargin,

    "q35_resample_uniform" ->
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE month(k) <> 2 AND month(k) <> 7),
         |bucketed AS (
         |SELECT date_trunc('month', k)::DATE AS b, sum(v) AS v FROM sparse GROUP BY 1),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(b) FROM bucketed), (SELECT max(b) FROM bucketed), INTERVAL 1 MONTH))::DATE AS b),
         |j AS (SELECT g.b, bk.v FROM grid g LEFT JOIN bucketed bk ON g.b = bk.b)
         |SELECT b AS k, round(last_value(v IGNORE NULLS) OVER (
         |  ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS v
         |FROM j""".stripMargin
  )

  private val tokSql =
    """toks AS (SELECT doc_id, trim(text) AS t,
      |CASE WHEN length(trim(text))=0 THEN 0
      |     ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS n_tok,
      |string_split(trim(text), ' ') AS ws
      |FROM documents)""".stripMargin

  def pipelineOracleSql: Map[String, String] = Map(
    "q36_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
        |min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "q37_text_stats" ->
      s"""WITH $tokSql
         |SELECT doc_id, n_tok,
         |len(list_distinct(ws)) AS n_distinct,
         |round(least(n_tok/50.0, 1.0)*0.4 +
         |  (CASE WHEN length(t)::DOUBLE/n_tok >= 3 AND length(t)::DOUBLE/n_tok <= 10
         |        THEN 1.0 ELSE 0.5 END)*0.3 +
         |  (len(list_distinct(ws))::DOUBLE/n_tok)*0.3, 6) AS quality
         |FROM toks""".stripMargin,

    "q38_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q39_lang_id" ->
      s"""WITH $tokSql, scores AS (
         |SELECT doc_id,
         |len(list_filter(ws, x -> x='the'))+len(list_filter(ws, x -> x='a'))
         |  +len(list_filter(ws, x -> x='of'))+len(list_filter(ws, x -> x='and'))
         |  +len(list_filter(ws, x -> x='is')) AS s_en,
         |len(list_filter(ws, x -> x='der'))+len(list_filter(ws, x -> x='die'))
         |  +len(list_filter(ws, x -> x='und'))+len(list_filter(ws, x -> x='ist'))
         |  +len(list_filter(ws, x -> x='das')) AS s_de,
         |len(list_filter(ws, x -> x='el'))+len(list_filter(ws, x -> x='la'))
         |  +len(list_filter(ws, x -> x='de'))+len(list_filter(ws, x -> x='y'))
         |  +len(list_filter(ws, x -> x='es')) AS s_es,
         |len(list_filter(ws, x -> x='le'))+len(list_filter(ws, x -> x='la'))
         |  +len(list_filter(ws, x -> x='et'))+len(list_filter(ws, x -> x='est'))
         |  +len(list_filter(ws, x -> x='les')) AS s_fr,
         |len(list_filter(ws, x -> x='的'))+len(list_filter(ws, x -> x='是'))
         |  +len(list_filter(ws, x -> x='了'))+len(list_filter(ws, x -> x='在'))
         |  +len(list_filter(ws, x -> x='和')) AS s_zh
         |FROM toks)
         |SELECT doc_id, CASE
         |  WHEN s_zh > greatest(s_en, s_de, s_es, s_fr) THEN 'zh'
         |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
         |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
         |  WHEN s_de > s_en THEN 'de'
         |  ELSE 'en' END AS lang_guess
         |FROM scores""".stripMargin,

    "q40_token_corpus" ->
      s"""WITH $tokSql
         |SELECT count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |round(avg(n_tok), 6) AS avg_tokens,
         |count(DISTINCT md5(regexp_replace(lower(t), '[^a-z0-9]', '', 'g'))) AS n_unique
         |FROM toks""".stripMargin,

    "q41_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(trim(text),' ')) AS tok
        |           FROM documents WHERE doc_id < 100)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |round(len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
        |FROM t a, t b
        |WHERE a.doc_id < b.doc_id
        |AND len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.9""".stripMargin,

    "q44_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |flat AS (SELECT query_id, neighbor_id, unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
        |         FROM q, c WHERE neighbor_id <> query_id),
        |sims AS (SELECT query_id, neighbor_id,
        |         sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS cosine
        |         FROM flat GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM sims)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin,

    "q46_embed_norm" ->
      """WITH flat AS (SELECT vec_id, label, len(embedding) AS dim,
        |              unnest(embedding)::DOUBLE AS x FROM embeddings)
        |SELECT vec_id, any_value(label) AS label, any_value(dim) AS dim,
        |round(sqrt(sum(x*x)), 6) AS l2, round(sum(x*x), 6) AS self_dot
        |FROM flat GROUP BY vec_id""".stripMargin,

    "q47_multimodal" ->
      """WITH b AS (SELECT doc_id, strlen(text) AS n,
        |  list_aggregate(list_transform(range(1, strlen(text)+1), i -> ord(text[i])), 'sum') AS checksum
        |  FROM documents)
        |SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |(n % 64 + 1)::INT AS width, (n % 48 + 1)::INT AS height,
        |n::BIGINT AS n_bytes, checksum::BIGINT AS checksum
        |FROM b""".stripMargin,

    "q48_session_window" ->
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
        |FROM sess GROUP BY user_id, sess_id""".stripMargin,

    "q49_stream_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS k, event_type,
        |count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    // q260: the SQL mirrors the Spark expression tree operand-for-operand
    // (double arithmetic determinism; the q119/q163 single-round ln
    // convention)
    "q260_distinctive_terms" ->
      """WITH tok AS (SELECT source AS g, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |sw AS (SELECT g, t, CAST(count(*) AS BIGINT) AS ysw FROM tok GROUP BY 1, 2),
        |w AS (SELECT t, CAST(sum(ysw) AS BIGINT) AS yw FROM sw GROUP BY 1),
        |ns AS (SELECT g, CAST(sum(ysw) AS BIGINT) AS nsv FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(sum(ysw) AS BIGINT) AS n FROM sw),
        |d AS (SELECT sw.g, sw.t,
        |  CAST(round((ln((sw.ysw + 1000.0 * w.yw / tot.n)
        |        / (ns.nsv + 1000.0 - sw.ysw - 1000.0 * w.yw / tot.n))
        |    - ln(((w.yw - sw.ysw) + 1000.0 * w.yw / tot.n)
        |        / ((tot.n - ns.nsv) + 1000.0 - (w.yw - sw.ysw) - 1000.0 * w.yw / tot.n)))
        |    * 1000000.0) AS BIGINT) AS delta_u
        |  FROM sw JOIN w USING (t) JOIN ns USING (g), tot),
        |r AS (SELECT g, t, delta_u,
        |      row_number() OVER (PARTITION BY g ORDER BY delta_u DESC, t) AS rk FROM d)
        |SELECT g AS source, CAST(rk AS BIGINT) AS rank, t AS term, delta_u
        |FROM r WHERE rk <= 5""".stripMargin,

    // q259 = q49's stream under the RocksDB provider — same rows
    "q259_stream_tumbling_rocksdb" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS k, event_type,
        |count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q50_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin,

    "q51_ordinal" ->
      s"""$dailySql, o AS (
         |SELECT row_number() OVER (ORDER BY k) - 1 AS ord, v FROM daily)
         |SELECT ord, round(v, 4) AS v FROM o WHERE ord < 50""".stripMargin,

    "q52_frame_zip" ->
      s"""WITH a AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS total
         |           FROM orders GROUP BY 1),
         |     f AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS total
         |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         |SELECT coalesce(a.k, f.k) AS k,
         |round(CASE WHEN a.total IS NOT NULL AND f.total IS NOT NULL THEN a.total - f.total
         |           ELSE coalesce(a.total, f.total) END, 4) AS total
         |FROM a FULL OUTER JOIN f ON a.k = f.k""".stripMargin,

    "q53_lookup" ->
      s"""$dailySql
         |SELECT k, round(v, 4) AS v FROM daily
         |WHERE k <= DATE '1997-06-15' AND v IS NOT NULL ORDER BY k DESC LIMIT 1""".stripMargin,

    "q54_chunk_while" ->
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
         |FROM rec GROUP BY chunk_id""".stripMargin
  )

  private def extendedOracleSql: Map[String, String] = Map(
    "q153_shard_assign" ->
      """WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |r AS (SELECT doc_id, k, row_number() OVER (ORDER BY k) - 1 AS pos,
        |        count(*) OVER () AS n FROM d)
        |SELECT doc_id, k, pos, (pos * 8) // n AS shard FROM r""".stripMargin,

    "q154_paragraph_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |p AS (SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS para
        |      FROM d, unnest(range(0, greatest(1, CAST(ceil(len(w) / 10.0) AS BIGINT))))
        |        AS t(i)),
        |k AS (SELECT doc_id, pos, para,
        |        CASE WHEN row_number() OVER (PARTITION BY md5(para)
        |                                     ORDER BY doc_id, pos) = 1
        |             THEN 1 ELSE 0 END AS keep
        |      FROM p)
        |SELECT doc_id,
        |  coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE keep = 1), '')
        |    AS clean_text,
        |  count(*) AS n_paras, CAST(sum(keep) AS BIGINT) AS n_kept
        |FROM k GROUP BY doc_id""".stripMargin,

    "q155_naive_bayes" ->
      """WITH tr AS (SELECT doc_id, source AS cls, string_split(trim(text), ' ') AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        |te AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |       FROM documents WHERE doc_id % 2 = 1),
        |cnt AS (SELECT cls, t, count(*) AS ct
        |        FROM (SELECT cls, unnest(w) AS t FROM tr) GROUP BY 1, 2),
        |tot AS (SELECT cls, CAST(sum(ct) AS BIGINT) AS tot_c FROM cnt GROUP BY 1),
        |voc AS (SELECT count(DISTINCT t) AS v FROM cnt),
        |ntr AS (SELECT count(DISTINCT doc_id) AS n_train FROM tr),
        |ncls AS (SELECT cls, count(DISTINCT doc_id) AS n_docs_c FROM tr GROUP BY 1),
        |cs AS (SELECT ncls.cls,
        |         CAST(round(ln(ncls.n_docs_c::DOUBLE / ntr.n_train) * 1000000)
        |           AS BIGINT) AS prior_u,
        |         CAST(round(ln(1.0 / (tot.tot_c + voc.v)) * 1000000)
        |           AS BIGINT) AS default_u,
        |         tot.tot_c, voc.v
        |       FROM ncls JOIN tot ON ncls.cls = tot.cls CROSS JOIN voc CROSS JOIN ntr),
        |m AS (SELECT cnt.cls, cnt.t,
        |        CAST(round(ln((cnt.ct + 1.0) / (cs.tot_c + cs.v)) * 1000000)
        |          AS BIGINT) AS lp_u
        |      FROM cnt JOIN cs ON cnt.cls = cs.cls),
        |dt AS (SELECT doc_id, t, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(w) AS t FROM te) GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cs.cls,
        |         CAST(sum(dt.tf * coalesce(m.lp_u, cs.default_u)) AS BIGINT)
        |           + max(cs.prior_u) AS score_u
        |       FROM dt CROSS JOIN cs
        |       LEFT JOIN m ON m.cls = cs.cls AND m.t = dt.t
        |       GROUP BY 1, 2)
        |SELECT doc_id, cls AS pred, score_u
        |FROM (SELECT doc_id, cls, score_u,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, cls)
        |          AS rn FROM sc)
        |WHERE rn = 1""".stripMargin,

    "q156_semantic_dedup" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS e
        |    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |      FROM q ORDER BY vec_id LIMIT 8),
        |tok AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM q),
        |ctok AS (SELECT cid, unnest(ce) AS cx, generate_subscripts(ce, 1) AS i FROM c),
        |dist AS (SELECT t.vec_id, c.cid,
        |           CAST(sum((t.x - c.cx) * (t.x - c.cx)) AS BIGINT) AS d
        |         FROM tok t JOIN ctok c ON t.i = c.i GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid AS cluster FROM
        |          (SELECT vec_id, cid,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |           FROM dist)
        |        WHERE rn = 1),
        |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nn FROM tok GROUP BY 1),
        |pr AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
        |       FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |dp AS (SELECT pr.cluster, pr.id_a, pr.id_b,
        |         CAST(sum(ta.x * tb.x) AS BIGINT) AS dotv
        |       FROM pr JOIN tok ta ON ta.vec_id = pr.id_a
        |                JOIN tok tb ON tb.vec_id = pr.id_b AND ta.i = tb.i
        |       GROUP BY 1, 2, 3)
        |SELECT dp.cluster, dp.id_a, dp.id_b, dp.dotv
        |FROM dp JOIN nrm na ON na.vec_id = dp.id_a
        |        JOIN nrm nb ON nb.vec_id = dp.id_b
        |WHERE dp.dotv > 0
        |  AND CAST(dp.dotv AS HUGEINT) * dp.dotv * 100
        |      >= CAST(na.nn AS HUGEINT) * nb.nn * 16""".stripMargin,

    "q160_delta_semantic" ->
      """WITH qa AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS e
        |    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |cor AS (SELECT * FROM qa WHERE vec_id % 2 = 0),
        |inc AS (SELECT * FROM qa WHERE vec_id % 2 = 1),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |      FROM cor ORDER BY vec_id LIMIT 8),
        |tok AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM qa),
        |ctok AS (SELECT cid, unnest(ce) AS cx, generate_subscripts(ce, 1) AS i FROM c),
        |dist AS (SELECT t.vec_id, c.cid,
        |           CAST(sum((t.x - c.cx) * (t.x - c.cx)) AS BIGINT) AS d
        |         FROM tok t JOIN ctok c ON t.i = c.i GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid AS cluster FROM
        |          (SELECT vec_id, cid,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |           FROM dist)
        |        WHERE rn = 1),
        |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nn FROM tok GROUP BY 1),
        |pr AS (SELECT a.cluster, a.vec_id AS inc_id, b.vec_id AS cor_id
        |       FROM asg a JOIN asg b ON a.cluster = b.cluster
        |       WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0),
        |dp AS (SELECT pr.cluster, pr.inc_id, pr.cor_id,
        |         CAST(sum(ta.x * tb.x) AS BIGINT) AS dotv
        |       FROM pr JOIN tok ta ON ta.vec_id = pr.inc_id
        |                JOIN tok tb ON tb.vec_id = pr.cor_id AND ta.i = tb.i
        |       GROUP BY 1, 2, 3)
        |SELECT dp.cluster, dp.inc_id, dp.cor_id, dp.dotv
        |FROM dp JOIN nrm na ON na.vec_id = dp.inc_id
        |        JOIN nrm nb ON nb.vec_id = dp.cor_id
        |WHERE dp.dotv > 0
        |  AND CAST(dp.dotv AS HUGEINT) * dp.dotv * 100
        |      >= CAST(na.nn AS HUGEINT) * nb.nn * 16""".stripMargin,

    "q174_orc_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region",

    "q187_xml_roundtrip" ->
      "SELECT doc_id, lang, text FROM documents WHERE doc_id < 200",

    "q188_binaryfile_ingest" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |md5(text) AS payload_md5
        |FROM documents WHERE doc_id < 200""".stripMargin,

    "q189_corrupt_ingest" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars_good
        |FROM documents WHERE doc_id < 190 GROUP BY 1
        |UNION ALL
        |SELECT '__corrupt', count(*), 0 FROM documents
        |WHERE doc_id >= 190 AND doc_id < 200""".stripMargin,

    "q190_group_ols" ->
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
        |  round((cxy * cxy) / (cxx * cyy), 6) AS r2 FROM c""".stripMargin,

    "q191_triangle_census" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(trim(text),' ')) AS tok
        |           FROM documents WHERE doc_id < 400),
        |e AS (SELECT a.doc_id AS ea, b.doc_id AS eb FROM t a, t b
        |      WHERE a.doc_id < b.doc_id
        |      AND len(list_intersect(a.tok, b.tok))::DOUBLE
        |        / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.9),
        |deg AS (SELECT v, count(*) AS d FROM
        |        (SELECT ea AS v FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
        |o AS (SELECT CASE WHEN (da.d, e.ea) < (db.d, e.eb) THEN e.ea ELSE e.eb END AS u,
        |             CASE WHEN (da.d, e.ea) < (db.d, e.eb) THEN e.eb ELSE e.ea END AS w
        |      FROM e JOIN deg da ON da.v = e.ea JOIN deg db ON db.v = e.eb),
        |tri AS (SELECT o1.u, o1.w AS v, o2.w FROM o o1
        |        JOIN o o2 ON o2.u = o1.w
        |        JOIN o o3 ON o3.u = o1.u AND o3.w = o2.w),
        |nodes AS (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |          UNION ALL SELECT w FROM tri)
        |SELECT node, count(*) AS n_tri FROM nodes GROUP BY 1""".stripMargin,

    "q192_fuzzy_entity" ->
      """WITH n AS (SELECT p_name AS v, count(*) AS c FROM part GROUP BY 1)
        |SELECT a.v AS name_a, b.v AS name_b,
        |  levenshtein(a.v, b.v) AS dist, a.c * b.c AS n_pairs
        |FROM n a, n b
        |WHERE a.v < b.v AND levenshtein(a.v, b.v) <= 2""".stripMargin,

    "q193_acf" ->
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
        |       * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6) AS r FROM a""".stripMargin,

    "q194_snapshot_diff" ->
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
        |SELECT status, count(*) AS n FROM j GROUP BY 1""".stripMargin,

    "q195_drawdown" ->
      """WITH s AS (SELECT event_type, epoch_us(ts) AS o, event_id,
        |  CAST(floor(value * 64) AS BIGINT) AS v FROM events),
        |r AS (SELECT event_type, v,
        |  max(v) OVER (PARTITION BY event_type ORDER BY o, event_id
        |               ROWS UNBOUNDED PRECEDING) AS hwm FROM s)
        |SELECT event_type, count(*) AS n,
        |  CAST(max(hwm - v) AS BIGINT) AS max_drawdown,
        |  CAST(sum(CASE WHEN hwm = v THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
        |  CAST(max(v) AS BIGINT) AS high_water
        |FROM r GROUP BY 1""".stripMargin,

    "q176_compacted_write" ->
      "SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice FROM orders",

    "q182_targeted_delete" ->
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
        |count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 100 != 7
        |GROUP BY 1""".stripMargin,

    "q186_hll_census" ->
      """WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
        |             FROM documents)
        |SELECT source, count(DISTINCT tok) AS n_distinct,
        |CAST(1 AS BIGINT) AS within
        |FROM tok GROUP BY 1""".stripMargin,

    "q185_partition_upsert" ->
      """WITH base AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date,
        |              value FROM events),
        |recent AS (SELECT * FROM base
        |           WHERE event_date < (SELECT min(event_date) + 5 FROM base)),
        |upd AS (SELECT event_id, event_date + 1 AS event_date,
        |        value + 1000 AS value FROM recent WHERE user_id % 100 = 7),
        |ins AS (SELECT event_id + 100000000 AS event_id, event_date, value
        |        FROM recent WHERE user_id % 100 = 13),
        |au AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |final AS (SELECT * FROM au
        |          UNION ALL
        |          SELECT event_id, event_date, value FROM base
        |          WHERE event_id NOT IN (SELECT event_id FROM au))
        |SELECT event_date, count(*) AS n,
        |CAST(sum(CAST(floor(value * 64) AS BIGINT)) AS BIGINT) AS v64
        |FROM final GROUP BY 1""".stripMargin,

    "q184_water_fill" ->
      s"""WITH $tokSql,
        |c AS (SELECT d.source, CAST(sum(t.n_tok) AS BIGINT) AS tokens
        |      FROM documents d JOIN toks t USING (doc_id) GROUP BY 1),
        |g AS (SELECT count(*) AS n, CAST(sum(tokens) AS BIGINT) AS tot,
        |      (CAST(sum(tokens) AS BIGINT) * 6) // 10 AS b FROM c),
        |r AS (SELECT c.*, row_number() OVER (ORDER BY tokens, source) AS pos,
        |      CAST(sum(tokens) OVER (ORDER BY tokens, source
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
        |f AS (SELECT r.*, g.n, g.b,
        |      (cum + (g.n - pos) * tokens <= g.b) AS fully FROM r CROSS JOIN g),
        |k AS (SELECT coalesce(max(CASE WHEN fully THEN pos END), 0) AS kk,
        |      CAST(coalesce(max(CASE WHEN fully THEN cum END), 0) AS BIGINT) AS pk FROM f)
        |SELECT source, tokens,
        |CAST(CASE WHEN pos <= kk THEN tokens
        |     ELSE (b - pk) // (n - kk)
        |          + (CASE WHEN pos - kk <= (b - pk) % (n - kk) THEN 1 ELSE 0 END)
        |END AS BIGINT) AS alloc
        |FROM f CROSS JOIN k""".stripMargin,

    "q183_leakage_split" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id)
        |SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS rep_id,
        |CASE WHEN substr(md5(CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 2) < '20'
        |     THEN 'eval' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin,

    "q180_skew_report" ->
      """WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM lineitem)
        |SELECT key, n, (n * 1000000) // t.tot AS share_ppm
        |FROM c CROSS JOIN t ORDER BY n DESC, key LIMIT 20""".stripMargin,

    "q181_column_stats" ->
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
        |  CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR) FROM lineitem""".stripMargin,

    "q179_multisignal_dedup" ->
      """WITH RECURSIVE wd AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |                     FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM wd WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |tp AS (SELECT c.id_a, c.id_b
        |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                   JOIN sets b ON c.id_b = b.doc_id
        |       WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |         / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5),
        |qv AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS e
        |    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |       FROM qv ORDER BY vec_id LIMIT 8),
        |tokv AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM qv),
        |ctokv AS (SELECT cid, unnest(ce) AS cx, generate_subscripts(ce, 1) AS i FROM cc),
        |dist AS (SELECT t.vec_id, c.cid,
        |           CAST(sum((t.x - c.cx) * (t.x - c.cx)) AS BIGINT) AS d
        |         FROM tokv t JOIN ctokv c ON t.i = c.i GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid AS cluster FROM
        |          (SELECT vec_id, cid,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |           FROM dist)
        |        WHERE rn = 1),
        |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nn FROM tokv GROUP BY 1),
        |prv AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |        FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |dpv AS (SELECT prv.id_a, prv.id_b, CAST(sum(ta.x * tb.x) AS BIGINT) AS dotv
        |        FROM prv JOIN tokv ta ON ta.vec_id = prv.id_a
        |                 JOIN tokv tb ON tb.vec_id = prv.id_b AND ta.i = tb.i
        |        GROUP BY 1, 2),
        |sp AS (SELECT dpv.id_a, dpv.id_b
        |       FROM dpv JOIN nrm na ON na.vec_id = dpv.id_a
        |                JOIN nrm nb ON nb.vec_id = dpv.id_b
        |       WHERE dpv.dotv > 0
        |         AND CAST(dpv.dotv AS HUGEINT) * dpv.dotv * 100
        |             >= CAST(na.nn AS HUGEINT) * nb.nn * 16),
        |up AS (SELECT id_a, id_b FROM tp UNION SELECT id_a, id_b FROM sp),
        |edges AS (SELECT id_a AS a, id_b AS b FROM up
        |          UNION SELECT id_b, id_a FROM up),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE cluster <> id)
        |SELECT d.lang, count(*) AS n_after FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
        |GROUP BY d.lang""".stripMargin,

    "q177_group_sequence_index" ->
      """WITH d AS (SELECT doc_id, source,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |r AS (SELECT doc_id, source, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR))
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d)
        |SELECT doc_id, source, n_tok, (cum - n_tok) // 128 AS seq_id,
        |  cum - n_tok - ((cum - n_tok) // 128) * 128 AS tok_start
        |FROM r""".stripMargin,

    "q178_histogram" ->
      """WITH b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents)
        |SELECT source, least(((n_chars - b.lo) * 10) // (b.hi - b.lo + 1), 9) AS bin,
        |       count(*) AS n
        |FROM documents CROSS JOIN b
        |GROUP BY 1, 2""".stripMargin,

    "q175_schema_merge" ->
      """SELECT n_nationkey, n_name,
        |CASE WHEN n_nationkey >= 13 THEN n_regionkey ELSE NULL END AS n_regionkey
        |FROM nation""".stripMargin,

    "q173_stream_ingest" ->
      """WITH inc AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT min(doc_id) AS keep_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM inc GROUP BY 2""".stripMargin,

    "q172_data_card" ->
      s"""WITH $tokSql,
         |q AS (SELECT doc_id, source, n_chars, CAST(t.n_tok AS BIGINT) AS n_tok,
         |  md5(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) AS fp,
         |  round(least(t.n_tok/50.0, 1.0)*0.4 +
         |    (CASE WHEN length(t.t)::DOUBLE/t.n_tok >= 3
         |           AND length(t.t)::DOUBLE/t.n_tok <= 10
         |          THEN 1.0 ELSE 0.5 END)*0.3 +
         |    (len(list_distinct(t.ws))::DOUBLE/t.n_tok)*0.3, 6) AS quality
         |  FROM toks t JOIN documents d USING (doc_id))
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  count(DISTINCT fp) AS n_unique,
         |  ((count(*) - count(DISTINCT fp)) * 1000000) // count(*) AS dup_ppm,
         |  round(avg(quality), 6) AS avg_quality,
         |  quantile_cont(n_chars, 0.5) AS p50_chars,
         |  quantile_cont(n_chars, 0.95) AS p95_chars
         |FROM q GROUP BY source""".stripMargin,

    "q171_sequence_delta" ->
      """WITH d AS (SELECT doc_id,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |tot AS (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS ct
        |        FROM d WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, n_tok, md5(CAST(doc_id AS VARCHAR)) AS k
        |      FROM d WHERE doc_id % 2 = 1),
        |r AS (SELECT doc_id, n_tok,
        |        CAST(sum(n_tok) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM b),
        |s AS (SELECT doc_id, n_tok, cum - n_tok + tot.ct AS st FROM r CROSS JOIN tot)
        |SELECT doc_id, n_tok, st // 128 AS seq_id,
        |  st - (st // 128) * 128 AS tok_start,
        |  st - (st // 128) * 128 + n_tok AS tok_end
        |FROM s""".stripMargin,

    "q169_budget_select" ->
      s"""WITH $tokSql,
         |q AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(round(round(least(n_tok/50.0, 1.0)*0.4 +
         |    (CASE WHEN length(t)::DOUBLE/n_tok >= 3 AND length(t)::DOUBLE/n_tok <= 10
         |          THEN 1.0 ELSE 0.5 END)*0.3 +
         |    (len(list_distinct(ws))::DOUBLE/n_tok)*0.3, 6) * 1000000) AS BIGINT) AS qu
         |  FROM toks WHERE n_tok > 0),
         |r AS (SELECT doc_id, qu, n_tok,
         |        CAST(sum(n_tok) OVER (ORDER BY qu DESC, md5(CAST(doc_id AS VARCHAR))
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM q)
         |SELECT doc_id, qu, n_tok, cum FROM r WHERE cum - n_tok < 6000""".stripMargin,

    "q170_decontam_attribution" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |tsh AS (SELECT doc_id, unnest(list_distinct(
        |          list_transform(range(1, len(ws) - 3),
        |            i -> array_to_string(ws[i:i+4], ' ')))) AS sh
        |        FROM d WHERE len(ws) >= 5),
        |pl AS (SELECT CASE WHEN doc_id < 10 THEN 'evalA' ELSE 'evalB' END AS label, ws
        |       FROM d WHERE doc_id < 20),
        |psh AS (SELECT DISTINCT label, unnest(list_distinct(
        |          list_transform(range(1, len(ws) - 3),
        |            i -> array_to_string(ws[i:i+4], ' ')))) AS sh
        |        FROM pl WHERE len(ws) >= 5),
        |hits AS (SELECT t.doc_id, p.label, count(*) AS h
        |         FROM tsh t JOIN psh p ON t.sh = p.sh
        |         GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT doc_id, string_agg(label, ',' ORDER BY label) AS sets,
        |       count(*) AS n_sets
        |FROM hits GROUP BY doc_id""".stripMargin,

    "q168_expanding_stats" ->
      s"""$dailySql
         |SELECT k,
         |  round(sum(v) OVER w / count(v) OVER w, 6) AS exp_mean,
         |  round(min(v) OVER w, 4) AS exp_min,
         |  round(max(v) OVER w, 4) AS exp_max
         |FROM daily
         |WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q167_textrank" ->
      """WITH w0 AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        |bg AS (SELECT array_to_string(ws[i:i+1], ' ') AS bg
        |       FROM w0, unnest(range(1, len(ws))) AS x(i) WHERE len(ws) >= 2),
        |bc AS (SELECT bg, count(*) AS w FROM bg GROUP BY 1),
        |bu AS (SELECT string_split(bg, ' ')[1] AS u, string_split(bg, ' ')[2] AS v, w
        |       FROM bc),
        |e AS (SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM
        |        (SELECT u, v, w FROM bu UNION ALL SELECT v, u, w FROM bu)
        |      GROUP BY 1, 2),
        |ow AS (SELECT u, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |p AS (SELECT 1000000000000 // count(*) AS base FROM ow),
        |r0 AS (SELECT u AS t, (SELECT base FROM p) AS r FROM ow),
        |c1 AS (SELECT e.v AS t, CAST(sum((r0.r * e.w) // ow.wout) AS BIGINT) AS cin
        |       FROM e JOIN ow ON e.u = ow.u JOIN r0 ON r0.t = e.u GROUP BY 1),
        |r1 AS (SELECT r0.t,
        |         ((SELECT base FROM p) * 15) // 100
        |           + (85 * coalesce(c1.cin, 0)) // 100 AS r
        |       FROM r0 LEFT JOIN c1 ON r0.t = c1.t),
        |c2 AS (SELECT e.v AS t, CAST(sum((r1.r * e.w) // ow.wout) AS BIGINT) AS cin
        |       FROM e JOIN ow ON e.u = ow.u JOIN r1 ON r1.t = e.u GROUP BY 1),
        |r2 AS (SELECT r1.t,
        |         ((SELECT base FROM p) * 15) // 100
        |           + (85 * coalesce(c2.cin, 0)) // 100 AS r
        |       FROM r1 LEFT JOIN c2 ON r1.t = c2.t)
        |SELECT t AS term, r AS rank_u FROM r2 ORDER BY r DESC, t LIMIT 20""".stripMargin,

    "q165_bpe_merge_pairs" ->
      """WITH words AS (SELECT w, count(*) AS wc FROM
        |    (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
        |      FROM words, unnest(range(1, length(w))) AS x(i)
        |      WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "q166_semantic_apply" ->
      """WITH RECURSIVE q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS e
        |    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |      FROM q ORDER BY vec_id LIMIT 8),
        |tok AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM q),
        |ctok AS (SELECT cid, unnest(ce) AS cx, generate_subscripts(ce, 1) AS i FROM c),
        |dist AS (SELECT t.vec_id, c.cid,
        |           CAST(sum((t.x - c.cx) * (t.x - c.cx)) AS BIGINT) AS d
        |         FROM tok t JOIN ctok c ON t.i = c.i GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid AS cluster FROM
        |          (SELECT vec_id, cid,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |           FROM dist)
        |        WHERE rn = 1),
        |nrm AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nn FROM tok GROUP BY 1),
        |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |       FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |dp AS (SELECT pr.id_a, pr.id_b, CAST(sum(ta.x * tb.x) AS BIGINT) AS dotv
        |       FROM pr JOIN tok ta ON ta.vec_id = pr.id_a
        |                JOIN tok tb ON tb.vec_id = pr.id_b AND ta.i = tb.i
        |       GROUP BY 1, 2),
        |pairs AS (SELECT dp.id_a, dp.id_b
        |          FROM dp JOIN nrm na ON na.vec_id = dp.id_a
        |                  JOIN nrm nb ON nb.vec_id = dp.id_b
        |          WHERE dp.dotv > 0
        |            AND CAST(dp.dotv AS HUGEINT) * dp.dotv * 100
        |                >= CAST(na.nn AS HUGEINT) * nb.nn * 16),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE cluster <> id)
        |SELECT e.label, count(*) AS n_after FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
        |GROUP BY e.label""".stripMargin,

    "q164_sequence_texts" ->
      """WITH d AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS k,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |d2 AS (SELECT * FROM d WHERE n_tok > 0),
        |r AS (SELECT doc_id, text, n_tok,
        |        CAST(sum(n_tok) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d2),
        |s AS (SELECT text, n_tok, (cum - n_tok) // 128 AS seq_id,
        |        cum - n_tok - ((cum - n_tok) // 128) * 128 AS tok_start
        |      FROM r)
        |SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  string_agg(text, ' <eos> ' ORDER BY tok_start, text) AS seq_text
        |FROM s GROUP BY seq_id""".stripMargin,

    "q161_epoch_mix" ->
      """SELECT e.epoch, d.source, count(*) AS n_docs
        |FROM documents d, unnest([0, 1, 2]) AS e(epoch)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)),
        |             1, 2) < '40'
        |GROUP BY 1, 2""".stripMargin,

    "q162_vocab_coverage" ->
      """WITH tokc AS (SELECT t, count(*) AS ct FROM
        |    (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM tokc),
        |r AS (SELECT t, ct, row_number() OVER (ORDER BY ct DESC, t) AS rank,
        |        CAST(sum(ct) OVER (ORDER BY ct DESC, t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM tokc)
        |SELECT rank, t AS term, ct, (cum * 1000000) // tot.n AS cov_ppm
        |FROM r CROSS JOIN tot WHERE rank <= 500""".stripMargin,

    "q163_pmi_bigrams" ->
      """WITH w AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        |toks AS (SELECT unnest(ws) AS t FROM w),
        |uni AS (SELECT t, count(*) AS c1 FROM toks GROUP BY 1),
        |n1 AS (SELECT count(*) AS n1 FROM toks),
        |bg AS (SELECT array_to_string(ws[i:i+1], ' ') AS bg
        |       FROM w, unnest(range(1, len(ws))) AS x(i) WHERE len(ws) >= 2),
        |bi AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM bi),
        |f AS (SELECT c2, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
        |      FROM bi WHERE c2 >= 5),
        |p AS (SELECT f.w1, f.w2, f.c2,
        |        CAST(round(ln((f.c2::DOUBLE / n2.n2) /
        |          ((ux.c1::DOUBLE / n1.n1) * (uy.c1::DOUBLE / n1.n1))) * 1000000)
        |          AS BIGINT) AS pmi_u
        |      FROM f JOIN uni ux ON f.w1 = ux.t JOIN uni uy ON f.w2 = uy.t
        |      CROSS JOIN n1 CROSS JOIN n2)
        |SELECT w1, w2, c2, pmi_u FROM p
        |ORDER BY pmi_u DESC, w1, w2 LIMIT 100""".stripMargin,

    "q158_sequence_index" ->
      """WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |        CAST(sum(n_tok) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d),
        |s AS (SELECT doc_id, n_tok, (cum - n_tok) // 128 AS seq_id,
        |        cum - n_tok - ((cum - n_tok) // 128) * 128 AS tok_start
        |      FROM r)
        |SELECT doc_id, n_tok, seq_id, tok_start, tok_start + n_tok AS tok_end
        |FROM s""".stripMargin,

    "q159_winsorize" ->
      """WITH q AS (SELECT source, quantile_cont(n_chars, 0.05) AS qlo,
        |           quantile_cont(n_chars, 0.95) AS qhi
        |           FROM documents GROUP BY 1)
        |SELECT d.source, count(*) AS n_docs,
        |  round(sum(least(greatest(n_chars::DOUBLE, qlo), qhi)), 4) AS sum_w,
        |  round(min(least(greatest(n_chars::DOUBLE, qlo), qhi)), 4) AS min_w,
        |  round(max(least(greatest(n_chars::DOUBLE, qlo), qhi)), 4) AS max_w
        |FROM documents d JOIN q ON d.source = q.source
        |GROUP BY d.source""".stripMargin,

    "q157_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
        |count(*) AS n_rows, round(min(l_extendedprice), 4) AS min_price,
        |round(max(l_extendedprice), 4) AS max_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q93_csv_culture" ->
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin,

    "q102_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  unnest(CASE WHEN len(ws) < 2 THEN []
        |    ELSE list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
        |  END) AS gram FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |r AS (SELECT doc_id, gram, c,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |  FROM c)
        |SELECT doc_id, gram AS top_gram, c AS n_rep FROM r WHERE rn = 1""".stripMargin,

    "q112_ewma_by_user" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |w(user_id, event_id, rn, y) AS (
        |  SELECT user_id, event_id, rn, value FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn, 0.2*e.value + 0.8*w.y
        |  FROM e JOIN w ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, round(y, 6) AS ewma FROM w""".stripMargin,

    // temperatureMix's driver-side weight math is pure closed-form over the
    // per-stratum counts, so the whole sampler replays in SQL: same
    // (n/N)^(1/T) weights, same min(1, ...) keep-fractions, same
    // round(frac*256) hex threshold (NB lower(to_hex(..)): DuckDB's to_hex
    // is UPPERCASE, which sorts below the lowercase md5 keyspace and
    // silently shrinks every stratum), same md5-prefix keyspace filter.
    "q100_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS t FROM c),
        |w AS (SELECT lang, n, pow(n / t, 1.0/3.0) AS wt FROM c, tot),
        |z AS (SELECT sum(wt) AS zz FROM w),
        |f AS (SELECT w.lang, w.n, least(1.0, 0.5 * tot.t * (w.wt / z.zz) / w.n) AS frac
        |      FROM w, z, tot),
        |th AS (SELECT lang, CASE WHEN round(frac * 256) >= 256 THEN 'zz'
        |       ELSE lpad(lower(to_hex(CAST(round(frac*256) AS BIGINT))), 2, '0') END AS thresh
        |       FROM f)
        |SELECT d.lang, count(*) AS n FROM documents d JOIN th ON d.lang = th.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < th.thresh
        |GROUP BY d.lang""".stripMargin,

    "q114_source_cap" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM r WHERE rn <= 10 GROUP BY source""".stripMargin,

    "q115_tfidf" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents WHERE doc_id < 100),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
        |s AS (SELECT tf.doc_id, tf.term,
        |      tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)) AS score
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, rank, term, round(score, 6) AS score FROM r WHERE rank <= 3""".stripMargin,

    "q116_rare_redact" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t, unnest(range(1, len(w)+1)) AS pos FROM w),
        |dfq AS (SELECT t, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY 1),
        |rare AS (SELECT t FROM dfq WHERE df <= 2),
        |red AS (SELECT doc_id, pos,
        |        CASE WHEN t IN (SELECT t FROM rare) THEN '<RARE>' ELSE t END AS t2,
        |        CASE WHEN t IN (SELECT t FROM rare) THEN 1 ELSE 0 END AS r
        |        FROM tok)
        |SELECT doc_id, CAST(sum(r) AS BIGINT) AS n_redacted,
        |md5(string_agg(t2, ' ' ORDER BY pos)) AS text_md5
        |FROM red GROUP BY doc_id""".stripMargin,

    "q117_source_len_filter" ->
      """WITH q AS (SELECT source, quantile_cont(n_chars, 0.05) AS qlo,
        |           quantile_cont(n_chars, 0.95) AS qhi
        |           FROM documents GROUP BY 1)
        |SELECT d.source, count(*) AS n_kept, round(avg(n_chars), 6) AS avg_chars
        |FROM documents d JOIN q ON d.source = q.source
        |WHERE n_chars >= qlo AND n_chars <= qhi
        |GROUP BY d.source""".stripMargin,

    "q127_weighted_sample" ->
      """WITH hx AS (SELECT doc_id, lang, n_chars, substr(md5(doc_id::VARCHAR), 1, 8) AS h8
        |            FROM documents WHERE n_chars > 0),
        |hv AS (SELECT doc_id, lang, n_chars,
        |       (SELECT sum((strpos('0123456789abcdef', substr(h8, i, 1)) - 1)
        |               * pow(16, 8 - i)::BIGINT)
        |        FROM unnest(range(1, 9)) AS t(i)) AS h
        |       FROM hx),
        |p AS (SELECT doc_id, lang, n_chars,
        |      pow((h + 1)::DOUBLE / 4294967296.0, 1.0 / n_chars) AS prio FROM hv),
        |top AS (SELECT * FROM p ORDER BY prio DESC, doc_id LIMIT 100)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS w_sum
        |FROM top GROUP BY lang""".stripMargin,

    "q136_window_forward_stitch" ->
      """WITH e AS (SELECT event_id AS k, CAST(floor(value * 1024) AS BIGINT) AS v FROM events),
        |w AS (SELECT k,
        |  sum(v) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS wsum,
        |  count(*) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS c
        |  FROM e)
        |SELECT k, CAST(wsum AS BIGINT) AS wsum FROM w WHERE c = 50""".stripMargin,

    "q135_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents)
        |SELECT term, count(*) AS n FROM t GROUP BY term HAVING count(*) >= 200""".stripMargin,

    "q134_string_key_scan" ->
      """WITH e AS (SELECT md5(doc_id::VARCHAR) AS k, n_chars::DOUBLE AS v FROM documents)
        |SELECT k, lag(v, 1) OVER (ORDER BY k) AS prev_chars FROM e""".stripMargin,

    "q133_stream_foreach_batch" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY event_type""".stripMargin,

    "q132_decontaminate_large" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(ws) < 3 THEN []
        |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
        |  END) AS sh
        |  FROM w),
        |pairs AS (
        |SELECT t.doc_id AS train_id, p.doc_id AS probe_id,
        |  len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) AS ov
        |FROM g t, g p
        |WHERE t.doc_id % 2 = 1 AND p.doc_id % 2 = 0 AND len(t.sh) > 0 AND len(p.sh) > 0)
        |SELECT train_id, probe_id, round(ov, 6) AS overlap
        |FROM pairs WHERE ov >= 0.5""".stripMargin,

    "q142_source_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY 1, 2),
        |corpus AS (SELECT t, sum(c_st) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT sum(c_st) AS n_tot FROM st)
        |SELECT st.source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |  CAST(sum(c_st * CAST(round(ln((c_st / n_s) / (c_t / n_tot)) * 1000000)
        |       AS BIGINT)) AS BIGINT) // CAST(max(n_s) AS BIGINT) AS kl_micro_per_tok
        |FROM st JOIN corpus USING (t) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY 1""".stripMargin,

    "q152_rolling_median" ->
      s"""$dailySql
         |SELECT k, round(quantile_cont(v, 0.5) OVER
         |  (ORDER BY k ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
         |FROM daily""".stripMargin,

    "q150_bm25_search" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(w[1:3])) AS term
        |       FROM d WHERE doc_id < 5),
        |s AS (SELECT qt.query_id, tf.doc_id,
        |      CAST(round((ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |        * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)))
        |        * 1000000) AS BIGINT) AS score_u
        |      FROM qt JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |      JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
        |g AS (SELECT query_id, doc_id, CAST(sum(score_u) AS BIGINT) AS score_u
        |      FROM s GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_u,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY score_u DESC, doc_id) AS rank
        |      FROM g)
        |SELECT query_id, rank, doc_id, score_u FROM r WHERE rank <= 5""".stripMargin,

    "q148_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents WHERE doc_id < 100),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |s AS (SELECT tf.doc_id, tf.term,
        |      ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |        * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS score
        |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st),
        |r AS (SELECT doc_id, term, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, rank, term, round(score, 6) AS score FROM r WHERE rank <= 3""".stripMargin,

    "q149_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        |             FROM documents),
        |dt AS (SELECT DISTINCT doc_id, term FROM tok)
        |SELECT term, count(*) AS df,
        |       array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM dt GROUP BY term HAVING count(*) >= 3""".stripMargin,

    "q147_delta_neardup" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS incoming_id, b.doc_id AS corpus_id
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl)
        |SELECT c.incoming_id, c.corpus_id,
        |round(len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
        |FROM cand c JOIN sets a ON c.incoming_id = a.doc_id JOIN sets b ON c.corpus_id = b.doc_id
        |WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5""".stripMargin,

    "q146_delta_dedup" ->
      """WITH inc0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 8 = 1
        |  UNION ALL SELECT doc_id + 40000, text FROM documents WHERE doc_id % 8 = 0),
        |fpb AS (SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
        |        min(doc_id) AS keep_id FROM inc0 GROUP BY 1),
        |cor AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |        FROM documents WHERE doc_id % 4 != 0)
        |SELECT keep_id, fp FROM fpb WHERE fp NOT IN (SELECT fp FROM cor)""".stripMargin,

    "q145_embed_covariance" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS e
        |    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |tok AS (SELECT vec_id, unnest(e) AS v, generate_subscripts(e, 1) - 1 AS i FROM q),
        |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sxy
        |      FROM tok a JOIN tok b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
        |s AS (SELECT i, CAST(sum(v) AS BIGINT) AS sx FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM q)
        |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, p.sxy,
        |       sa.sx AS sx_i, sb.sx AS sx_j, n.n
        |FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i CROSS JOIN n""".stripMargin,

    "q138_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |win AS (SELECT doc_id, md5(array_to_string(w[i:i+19], ' ')) AS h
        |        FROM d, unnest(range(1, len(w) - 18)) AS t(i)
        |        WHERE len(w) >= 20),
        |dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  (CAST(sum(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END) AS BIGINT)
        |   * 1000000) // count(*) AS dup_ppm
        |FROM win GROUP BY doc_id""".stripMargin,

    "q139_gopher_rules" ->
      """WITH d AS (SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |m AS (SELECT doc_id, len(w) AS n_words,
        |        ((length(t) - (len(w) - 1)) * 1000000) // len(w) AS mean_wlen_u,
        |        len(w) - len(list_filter(w, x -> x NOT IN ('value', 'table'))) AS stop_hits
        |      FROM d)
        |SELECT doc_id, n_words, mean_wlen_u, stop_hits,
        |  CASE WHEN n_words BETWEEN 50 AND 100000
        |        AND mean_wlen_u BETWEEN 3000000 AND 10000000
        |        AND stop_hits >= 2 THEN 1 ELSE 0 END AS pass
        |FROM m""".stripMargin,

    "q140_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |   trim(text) || ' contact user' || doc_id || '@example.com ip 10.'
        |   || (doc_id % 256) || '.0.1 call +1415' || (doc_id + 1000000) AS t
        |   FROM documents),
        |s AS (SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(t,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |     '\+\d{7,15}', '<PHONE>', 'g') AS red,
        |   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |   len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |   len(regexp_extract_all(t, '\+\d{7,15}')) AS n_phone
        |   FROM d)
        |SELECT doc_id, CAST(n_email AS BIGINT) AS n_email, CAST(n_ip AS BIGINT) AS n_ip,
        |       CAST(n_phone AS BIGINT) AS n_phone, md5(red) AS red_md5 FROM s""".stripMargin,

    "q141_decontaminate_bloom" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(ws) < 3 THEN []
        |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
        |  END) AS sh
        |  FROM w),
        |pairs AS (
        |SELECT t.doc_id AS train_id, p.doc_id AS probe_id,
        |  len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) AS ov
        |FROM g t, g p
        |WHERE t.doc_id % 2 = 1 AND p.doc_id % 2 = 0 AND len(t.sh) > 0 AND len(p.sh) > 0)
        |SELECT train_id, probe_id, round(ov, 6) AS overlap
        |FROM pairs WHERE ov >= 0.5""".stripMargin,

    "q131_quantile_family" ->
      """SELECT round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem""".stripMargin,

    "q128_window_stitch" ->
      """WITH e AS (SELECT event_id AS k, CAST(floor(value * 1024) AS BIGINT) AS v FROM events)
        |SELECT k, CAST(sum(v) OVER (ORDER BY k ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS wsum FROM e""".stripMargin,

    "q129_windowdist_stitch" ->
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS k,
        |           CAST(floor(value * 1024) AS BIGINT) AS v FROM events)
        |SELECT k, CAST(sum(v) OVER (ORDER BY k RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS wsum FROM e""".stripMargin,

    "q137_windowdist_fractional" ->
      """WITH e AS (SELECT floor(event_id / 4) + (event_id % 4) * 0.25 AS k,
        |           CAST(floor(value * 1024) AS BIGINT) AS v FROM events)
        |SELECT CAST(k * 4 AS BIGINT) AS k4,
        |       CAST(sum(v) OVER (ORDER BY CAST(floor(k) AS BIGINT)
        |            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS wsum
        |FROM e""".stripMargin,

    "q130_chunk_stitch" ->
      """WITH e AS (SELECT event_id AS k, CAST(floor(value * 1024) AS BIGINT) AS v FROM events),
        |o AS (SELECT k, v, row_number() OVER (ORDER BY k) - 1 AS ord FROM e)
        |SELECT min(k) AS k, CAST(sum(v) AS BIGINT) AS chunk_sum, count(*) AS n
        |FROM o GROUP BY CAST(floor(ord / 500.0) AS BIGINT) HAVING count(*) = 500""".stripMargin,

    "q126_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // q111: composed IVF+PQ — q124's integer-Lloyd routing (8 lists, 2
    // probes) gates q125's integer-ADC scan (m=8, 16 codes); candidates
    // come from probed buckets only, then exact integer ADC top-3
    "q111_knn_ivfpq" -> ivfPqOracleSql,
    // q310 = q111 through the STORED index (publish + probe): training is
    // deterministic over the same full corpus, so the stored-artifact path
    // must reproduce the one-shot composed scan byte-for-byte
    "q310_pq_index_probe" -> ivfPqOracleSql,
    // q311/q312: training restricted to the published partial corpus,
    // final assignment/encode/probe corpus-wide (see ivfPqAppendOracleSql)
    "q311_pq_index_append" -> ivfPqAppendOracleSql,
    "q312_pq_index_compact" -> ivfPqAppendOracleSql,
    // q315: torn PQ append + retry — probe-identical to q311 (see q314)
    "q315_pq_torn_append" -> ivfPqAppendOracleSql,
    // q313 = q310's probe per micro-batch; union over batches == one-shot
    "q313_stream_pq_probe" -> ivfPqOracleSql,

    // q104: q125's fixed-point PQ at the COARSE split — m=4 (16-dim
    // subvectors, j = d // 16), same 16-code books, top-3 by integer ADC
    "q104_knn_pq" ->
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |fj AS (SELECT vec_id, d, d // 16 AS j, q FROM f),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 16),
        |cb0 AS (SELECT fj.j, ids.c, fj.d, fj.q AS cv FROM ids JOIN fj USING (vec_id)),
        |d1 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb0 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d1) WHERE rn = 1),
        |u1 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a1 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb1 AS (SELECT b0.j, b0.c, b0.d, coalesce(u.cv, b0.cv) AS cv
        |        FROM cb0 b0 LEFT JOIN u1 u ON b0.j = u.j AND b0.c = u.c AND b0.d = u.d),
        |d2 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb1 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a2 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d2) WHERE rn = 1),
        |u2 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a2 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb2 AS (SELECT b1.j, b1.c, b1.d, coalesce(u.cv, b1.cv) AS cv
        |        FROM cb1 b1 LEFT JOIN u2 u ON b1.j = u.j AND b1.c = u.c AND b1.d = u.d),
        |d3 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb2 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, j, c FROM (
        |        SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |        FROM d3) WHERE rn = 1),
        |adc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        CAST(sum((q.q - b.cv)*(q.q - b.cv)) AS BIGINT) AS dist
        |        FROM fj q JOIN enc e ON e.vec_id <> q.vec_id AND e.j = q.j
        |                  JOIN cb2 b ON b.j = q.j AND b.c = e.c AND b.d = q.d
        |        WHERE q.vec_id < 5
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin,

    "q125_pq_portable" ->
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |fj AS (SELECT vec_id, d, d // 8 AS j, q FROM f),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 16),
        |cb0 AS (SELECT fj.j, ids.c, fj.d, fj.q AS cv FROM ids JOIN fj USING (vec_id)),
        |d1 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb0 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d1) WHERE rn = 1),
        |u1 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a1 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb1 AS (SELECT b0.j, b0.c, b0.d, coalesce(u.cv, b0.cv) AS cv
        |        FROM cb0 b0 LEFT JOIN u1 u ON b0.j = u.j AND b0.c = u.c AND b0.d = u.d),
        |d2 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb1 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a2 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d2) WHERE rn = 1),
        |u2 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a2 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb2 AS (SELECT b1.j, b1.c, b1.d, coalesce(u.cv, b1.cv) AS cv
        |        FROM cb1 b1 LEFT JOIN u2 u ON b1.j = u.j AND b1.c = u.c AND b1.d = u.d),
        |d3 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb2 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, j, c FROM (
        |        SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |        FROM d3) WHERE rn = 1),
        |adc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        CAST(sum((q.q - b.cv)*(q.q - b.cv)) AS BIGINT) AS dist
        |        FROM fj q JOIN enc e ON e.vec_id <> q.vec_id AND e.j = q.j
        |                  JOIN cb2 b ON b.j = q.j AND b.c = e.c AND b.d = q.d
        |        WHERE q.vec_id < 5
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin,

    // q45: q124's integer-Lloyd IVF at the WIDE corner — 16 lists, 3 probes
    "q45_knn_ivf" -> s"""$ivfKnnOracleCtes
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin,


    // q89: q124's integer-Lloyd IVF at the NARROW corner — 4 lists, 1 probe, top-5
    "q89_knn_ivf_kmeans" ->
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 4),
        |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
        |dist1 AS (SELECT f.vec_id, c0.c, sum((f.q - c0.cv)*(f.q - c0.cv)) AS dist
        |          FROM f JOIN cent0 c0 ON f.d = c0.d GROUP BY 1, 2),
        |asg1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist1) WHERE rn = 1),
        |upd1 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg1 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
        |dist2 AS (SELECT f.vec_id, c1.c, sum((f.q - c1.cv)*(f.q - c1.cv)) AS dist
        |          FROM f JOIN cent1 c1 ON f.d = c1.d GROUP BY 1, 2),
        |asg2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist2) WHERE rn = 1),
        |upd2 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg2 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
        |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
        |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
        |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
        |asg3 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist3) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c FROM (
        |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 1),
        |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |               FROM probes p JOIN asg3 a USING (c)
        |               WHERE a.vec_id <> p.query_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |sims AS (SELECT cd.query_id, cd.neighbor_id,
        |         sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cosine
        |         FROM candidates cd JOIN fl a ON a.vec_id = cd.query_id
        |                            JOIN fl b ON b.vec_id = cd.neighbor_id AND a.i = b.i
        |         GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM sims)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin,

    // q262: q124's ladder with the TRAINING rounds (dist1/upd1, dist2/upd2
    // and the centroid init) restricted to the md5-ranked 128-row sample;
    // the FINAL assignment (dist3/asg3) and the probe stay corpus-wide.
    // q263 (stored-index probe) shares it: publish+probe is a physical
    // re-form of the same semantics.
    "q262_ivf_sampled_train" -> ivfSampledOracleSql,
    "q263_ivf_index_probe" -> ivfSampledOracleSql,
    "q265_stream_ivf_probe" -> ivfSampledOracleSql,

    "q266_containment_neardup" -> containmentOracleSql,
    // q295 = q266 under a pinned (non-triggering) bucket cap — identical
    // results certify the capped candidate path end-to-end
    "q295_containment_capped" -> containmentOracleSql,
    // q309 = q266 with the cap pinned BELOW the corpus max bucket size:
    // the oracle replays the drop rule itself (a candidate pair needs a
    // shared bucket of size <= 2), certifying the TRIGGERED capped path
    "q309_containment_cap_hit" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |sz AS (SELECT band, bk, count(*) AS n FROM bk GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         JOIN sz s ON a.band = s.band AND a.bk = s.bk
        |         WHERE a.doc_id < b.doc_id AND s.n <= 2),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |sc AS (SELECT c.id_a, c.id_b,
        |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
        |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
        |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                   JOIN sets b ON c.id_b = b.doc_id),
        |u AS (SELECT id_a AS contained_id, id_b AS container_id,
        |        inter * 1000000 // na AS containment_ppm FROM sc
        |      UNION ALL
        |      SELECT id_b, id_a, inter * 1000000 // nb FROM sc)
        |SELECT contained_id, container_id, containment_ppm
        |FROM u WHERE containment_ppm >= 800000""".stripMargin,

    "q296_token_fertility" ->
      """WITH b AS (SELECT lang,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS nw,
        |  len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS np,
        |  length(trim(text)) AS nc
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |CAST(sum(nw) AS BIGINT) AS total_words,
        |CAST(sum(np) AS BIGINT) AS total_pieces,
        |CAST(sum(nc) AS BIGINT) AS total_chars,
        |CAST(sum(np) * 1000000 // NULLIF(sum(nw), 0) AS BIGINT) AS fertility_u,
        |CAST(sum(nc) * 1000000 // NULLIF(sum(np), 0) AS BIGINT) AS chars_per_piece_u
        |FROM b GROUP BY 1""".stripMargin,

    "q297_psi_length" ->
      """WITH gb AS (SELECT source, n_chars // 64 AS b, count(*) AS c_gb
        |            FROM documents GROUP BY 1, 2),
        |ng AS (SELECT source, sum(c_gb) AS n_g FROM gb GROUP BY 1),
        |cb AS (SELECT b, sum(c_gb) AS c_b FROM gb GROUP BY 1),
        |n AS (SELECT sum(c_gb) AS n_tot FROM gb)
        |SELECT source, CAST(max(n_g) AS BIGINT) AS n_docs,
        |CAST(sum(CAST(round((c_gb / n_g - c_b / n_tot)
        |  * ln((c_gb / n_g) / (c_b / n_tot)) * 1000000) AS BIGINT)) AS BIGINT) AS psi_u
        |FROM gb JOIN ng USING (source) JOIN cb USING (b) CROSS JOIN n
        |GROUP BY 1""".stripMargin,

    "q298_bigram_nll" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |bgl AS (SELECT doc_id, list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1]) AS gs
        |        FROM w WHERE len(ws) >= 2),
        |bg AS (SELECT doc_id, unnest(gs) AS g FROM bgl),
        |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY 1),
        |c2w AS (SELECT g, c2, string_split(g, ' ')[1] AS w1 FROM c2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2w GROUP BY 1),
        |s AS (SELECT doc_id, CAST(round(-ln(c2 / c1) * 1e6) AS BIGINT) AS nll
        |      FROM bg JOIN c2w USING (g) JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |round(sum(nll) / 1e6 / count(*), 4) AS avg_nll
        |FROM s GROUP BY doc_id""".stripMargin,

    "q299_langid_confusion" ->
      """WITH tk AS (SELECT lang, string_split(trim(text), ' ') AS ws FROM documents),
        |scores AS (SELECT lang,
        |len(list_filter(ws, x -> x='the'))+len(list_filter(ws, x -> x='a'))
        |  +len(list_filter(ws, x -> x='of'))+len(list_filter(ws, x -> x='and'))
        |  +len(list_filter(ws, x -> x='is')) AS s_en,
        |len(list_filter(ws, x -> x='der'))+len(list_filter(ws, x -> x='die'))
        |  +len(list_filter(ws, x -> x='und'))+len(list_filter(ws, x -> x='ist'))
        |  +len(list_filter(ws, x -> x='das')) AS s_de,
        |len(list_filter(ws, x -> x='el'))+len(list_filter(ws, x -> x='la'))
        |  +len(list_filter(ws, x -> x='de'))+len(list_filter(ws, x -> x='y'))
        |  +len(list_filter(ws, x -> x='es')) AS s_es,
        |len(list_filter(ws, x -> x='le'))+len(list_filter(ws, x -> x='la'))
        |  +len(list_filter(ws, x -> x='et'))+len(list_filter(ws, x -> x='est'))
        |  +len(list_filter(ws, x -> x='les')) AS s_fr,
        |len(list_filter(ws, x -> x='的'))+len(list_filter(ws, x -> x='是'))
        |  +len(list_filter(ws, x -> x='了'))+len(list_filter(ws, x -> x='在'))
        |  +len(list_filter(ws, x -> x='和')) AS s_zh
        |FROM tk),
        |g AS (SELECT lang, CASE
        |  WHEN s_zh > greatest(s_en, s_de, s_es, s_fr) THEN 'zh'
        |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
        |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
        |  WHEN s_de > s_en THEN 'de'
        |  ELSE 'en' END AS lang_guess
        |FROM scores),
        |c AS (SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY 1, 2)
        |SELECT lang, lang_guess, n_docs,
        |CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_u
        |FROM c""".stripMargin,

    "q300_pipeline_funnel" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id >= 10),
        |keep AS (SELECT min(doc_id) AS doc_id FROM train
        |         GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))),
        |d AS (SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
        |      FROM train),
        |q AS (SELECT doc_id, CASE WHEN len(w) BETWEEN 50 AND 100000
        |        AND ((length(t) - (len(w) - 1)) * 1000000) // len(w)
        |              BETWEEN 3000000 AND 10000000
        |        AND len(w) - len(list_filter(w, x -> x NOT IN ('value', 'table'))) >= 2
        |      THEN 1 ELSE 0 END AS pass FROM d),
        |w2 AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(ws) < 3 THEN []
        |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
        |  END) AS sh
        |  FROM w2),
        |contam AS (SELECT DISTINCT t.doc_id
        |  FROM g t, g p
        |  WHERE t.doc_id >= 10 AND p.doc_id < 10 AND len(t.sh) > 0 AND len(p.sh) > 0
        |    AND len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) >= 0.5),
        |base AS (SELECT tr.doc_id, tr.source,
        |  CAST(CASE WHEN length(trim(tr.text)) = 0 THEN 0
        |    ELSE length(trim(tr.text)) - length(replace(trim(tr.text),' ','')) + 1
        |  END AS BIGINT) AS n_tok,
        |  CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept,
        |  q.pass,
        |  CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS cont
        |  FROM train tr
        |  LEFT JOIN keep k USING (doc_id)
        |  JOIN q USING (doc_id)
        |  LEFT JOIN contam c USING (doc_id))
        |SELECT source, count(*)::BIGINT AS n_raw,
        |  CAST(sum(kept) AS BIGINT) AS n_dedup,
        |  CAST(sum(CASE WHEN kept = 1 AND pass = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality,
        |  CAST(sum(CASE WHEN kept = 1 AND pass = 1 AND cont = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN kept = 1 AND pass = 1 AND cont = 0 THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS tokens_clean
        |FROM base GROUP BY 1""".stripMargin,

    "q301_dup_ngram_rate" ->
      """WITH w AS (SELECT source, doc_id, string_split(trim(text), ' ') AS ws
        |           FROM documents),
        |g AS (SELECT source, doc_id,
        |        unnest(list_transform(range(1, len(ws) - 1),
        |          i -> array_to_string(ws[i:i+2], ' '))) AS g
        |      FROM w WHERE len(ws) >= 3),
        |p AS (SELECT source, doc_id, count(*) AS n3, count(DISTINCT g) AS d3
        |      FROM g GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |CAST(sum(n3) AS BIGINT) AS total_ngrams,
        |CAST(sum(n3 - d3) AS BIGINT) AS dup_ngrams,
        |CAST(sum(CASE WHEN (n3 - d3) * 1000000 >= n3 * 200000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_flagged,
        |CAST(sum(n3 - d3) * 1000000 // sum(n3) AS BIGINT) AS dup_rate_u
        |FROM p GROUP BY 1""".stripMargin,

    "q302_split_leakage" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'cc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
        |         THEN 'val' ELSE 'test' END AS split,
        |  string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |g AS (SELECT split, doc_id,
        |        unnest(list_distinct(list_transform(range(1, len(ws) - 6),
        |          i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |      FROM d WHERE len(ws) >= 8),
        |tg AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
        |ev AS (SELECT split, doc_id FROM d WHERE split <> 'train'),
        |evg AS (SELECT split, doc_id, g FROM g WHERE split <> 'train'),
        |lk AS (SELECT DISTINCT e.split, e.doc_id FROM evg e JOIN tg USING (g)),
        |wc AS (SELECT split, count(DISTINCT doc_id) AS n_with_shingles
        |       FROM evg GROUP BY 1),
        |tot AS (SELECT split, count(*) AS n_docs FROM ev GROUP BY 1),
        |lc AS (SELECT split, count(*) AS n_leaked FROM lk GROUP BY 1)
        |SELECT t.split, CAST(t.n_docs AS BIGINT) AS n_docs,
        |CAST(coalesce(w.n_with_shingles, 0) AS BIGINT) AS n_with_shingles,
        |CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
        |CAST(coalesce(l.n_leaked, 0) * 1000000 // t.n_docs AS BIGINT) AS leak_rate_u
        |FROM tot t LEFT JOIN wc w USING (split) LEFT JOIN lc l USING (split)""".stripMargin,

    "q303_bow_cluster_hist" ->
      """WITH c AS (SELECT
        |  md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp,
        |  count(*) AS n_dups FROM documents GROUP BY 1)
        |SELECT CAST(length(bin(n_dups)) AS BIGINT) AS bucket,
        |count(*)::BIGINT AS n_clusters,
        |CAST(sum(n_dups) AS BIGINT) AS n_docs,
        |CAST(sum(n_dups - 1) AS BIGINT) AS n_removable
        |FROM c GROUP BY 1""".stripMargin,

    "q304_source_dup_matrix" ->
      """WITH fs AS (SELECT
        |  md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp,
        |  source, count(*) AS c FROM documents GROUP BY 1, 2)
        |SELECT a.source AS src1, b.source AS src2,
        |CAST(sum(CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
        |              ELSE a.c * b.c END) AS BIGINT) AS dup_pairs,
        |count(*)::BIGINT AS shared_fps
        |FROM fs a JOIN fs b ON a.fp = b.fp AND a.source <= b.source
        |GROUP BY 1, 2
        |HAVING sum(CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
        |           ELSE a.c * b.c END) > 0""".stripMargin,

    "q305_embedding_health" ->
      """WITH v AS (SELECT label, len(embedding)::BIGINT AS dim,
        |  CAST(round(sqrt(list_aggregate(
        |    list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) * 1e6)
        |    AS BIGINT) AS nu
        |  FROM embeddings)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |count(DISTINCT dim)::BIGINT AS n_dims,
        |CAST(max(dim) AS BIGINT) AS dim,
        |CAST(sum(CASE WHEN nu < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
        |CAST(sum(nu) // count(*) AS BIGINT) AS mean_norm_u
        |FROM v GROUP BY 1""".stripMargin,

    "q306_ivf_recall" -> s"""$ivfKnnOracleCtes,
        |approx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |bc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |bflat AS (SELECT query_id, neighbor_id, unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
        |          FROM bq, bc WHERE neighbor_id <> query_id),
        |bsims AS (SELECT query_id, neighbor_id,
        |          sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS cosine
        |          FROM bflat GROUP BY 1, 2),
        |br AS (SELECT query_id, neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |       FROM bsims),
        |exact AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 3)
        |SELECT e.query_id, count(*)::BIGINT AS k,
        |CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |  // count(*) AS BIGINT) AS recall_u
        |FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,

    "q307_stream_neardup" ->
      """WITH inc AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' dup0' FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM inc),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |r AS (SELECT doc_id, row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rn
        |      FROM bk),
        |bad AS (SELECT DISTINCT doc_id FROM r WHERE rn > 1)
        |SELECT i.doc_id AS keep_id,
        |CAST(CASE WHEN i.doc_id < 250 THEN 0 WHEN i.doc_id < 10000 THEN 1 ELSE 2 END
        |  AS BIGINT) AS batch
        |FROM inc i LEFT JOIN bad b USING (doc_id) WHERE b.doc_id IS NULL""".stripMargin,

    // shared with q307: the keyed-state implementation must answer the
    // same global first-id-wins-per-cell replay exactly
    "q308_stream_neardup_keyed" ->
      """WITH inc AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' dup0' FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM inc),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |r AS (SELECT doc_id, row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rn
        |      FROM bk),
        |bad AS (SELECT DISTINCT doc_id FROM r WHERE rn > 1)
        |SELECT i.doc_id AS keep_id,
        |CAST(CASE WHEN i.doc_id < 250 THEN 0 WHEN i.doc_id < 10000 THEN 1 ELSE 2 END
        |  AS BIGINT) AS batch
        |FROM inc i LEFT JOIN bad b USING (doc_id) WHERE b.doc_id IS NULL""".stripMargin,

    "q275_containment_hubs" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |sc AS (SELECT c.id_a, c.id_b,
        |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
        |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
        |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                   JOIN sets b ON c.id_b = b.doc_id),
        |u AS (SELECT id_a AS contained_id, id_b AS container_id,
        |        inter * 1000000 // na AS containment_ppm FROM sc
        |      UNION ALL
        |      SELECT id_b, id_a, inter * 1000000 // nb FROM sc),
        |f AS (SELECT * FROM u WHERE containment_ppm >= 500000),
        |census AS (SELECT container_id, count(*) AS n_contained,
        |             CAST(sum(containment_ppm) // count(*) AS BIGINT) AS mean_containment_ppm
        |           FROM f GROUP BY 1),
        |r AS (SELECT container_id, n_contained, mean_containment_ppm,
        |        row_number() OVER (ORDER BY n_contained DESC, container_id ASC) AS rank
        |      FROM census)
        |SELECT rank, container_id, n_contained, mean_containment_ppm
        |FROM r WHERE rank <= 10""".stripMargin,

    "q274_length_histogram" ->
      """WITH d AS (SELECT source,
        |    greatest(len(list_filter(string_split(trim(text), ' '), g -> g <> '')), 0)::BIGINT AS n
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN n <= 0 THEN -1 ELSE length(bin(n)) - 1 END::BIGINT AS bucket_log2,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens
        |FROM d GROUP BY 1, 2""".stripMargin,

    "q273_dedup_impact" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |sc AS (SELECT c.id_a, c.id_b,
        |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
        |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
        |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                   JOIN sets b ON c.id_b = b.doc_id),
        |drops AS (SELECT id_a AS did FROM sc
        |          WHERE inter * 1000000 // na >= 800000
        |            AND (nb > na OR (nb = na AND id_b < id_a))
        |          UNION
        |          SELECT id_b FROM sc
        |          WHERE inter * 1000000 // nb >= 800000
        |            AND (na > nb OR (na = nb AND id_a < id_b))),
        |d AS (SELECT doc_id, source,
        |        len(list_filter(string_split(trim(text), ' '), g -> g <> ''))::BIGINT AS ntok,
        |        CASE WHEN doc_id IN (SELECT did FROM drops) THEN 0 ELSE 1 END AS kept
        |      FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CAST(sum(ntok) AS BIGINT) AS tokens_total,
        |  CAST(sum(ntok * kept) AS BIGINT) AS tokens_kept
        |FROM d GROUP BY 1""".stripMargin,

    "q272_containment_matrix" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |sc AS (SELECT c.id_a, c.id_b,
        |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
        |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
        |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                   JOIN sets b ON c.id_b = b.doc_id),
        |u AS (SELECT id_a AS contained_id, id_b AS container_id,
        |        inter * 1000000 // na AS containment_ppm FROM sc
        |      UNION ALL
        |      SELECT id_b, id_a, inter * 1000000 // nb FROM sc),
        |f AS (SELECT * FROM u WHERE containment_ppm >= 500000)
        |SELECT d1.source AS src_contained, d2.source AS src_container,
        |  count(*) AS n_pairs,
        |  CAST(sum(containment_ppm) // count(*) AS BIGINT) AS mean_containment_ppm
        |FROM f JOIN documents d1 ON f.contained_id = d1.doc_id
        |       JOIN documents d2 ON f.container_id = d2.doc_id
        |GROUP BY 1, 2""".stripMargin,

    "q271_containment_delta" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS incoming_id, b.doc_id AS corpus_id
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 != 0),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl)
        |SELECT c.incoming_id, c.corpus_id,
        |  len(list_intersect(i.tok, t.tok)) * 1000000 // len(i.tok) AS containment_ppm
        |FROM cand c JOIN sets i ON c.incoming_id = i.doc_id
        |            JOIN sets t ON c.corpus_id = t.doc_id
        |WHERE len(list_intersect(i.tok, t.tok)) * 1000000 // len(i.tok) >= 800000""".stripMargin,

    "q270_vocab_growth" ->
      """WITH r AS (SELECT source, doc_id,
        |       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |     FROM documents),
        |n AS (SELECT source, count(*)::BIGINT AS nd FROM documents GROUP BY 1),
        |tok AS (SELECT source, doc_id, unnest(string_split(trim(text), ' ')) AS g
        |        FROM documents),
        |fo AS (SELECT source, g, min(doc_id) AS fid FROM tok WHERE g <> '' GROUP BY 1, 2),
        |fr AS (SELECT fo.source, r.rk FROM fo
        |       JOIN r ON fo.source = r.source AND fo.fid = r.doc_id),
        |qs AS (SELECT unnest(range(1, 5)) AS q),
        |thr AS (SELECT n.source, qs.q, (n.nd * qs.q + 3) // 4 AS k FROM n, qs)
        |SELECT thr.source, thr.q AS quartile, thr.k AS docs_seen,
        |  count(*) AS vocab
        |FROM thr JOIN fr ON fr.source = thr.source AND fr.rk <= thr.k
        |GROUP BY 1, 2, 3""".stripMargin,

    "q269_minhash_calibration" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |est AS (SELECT c.id_a, c.id_b,
        |          count(*) FILTER (a.m = b.m)::BIGINT AS est_matches
        |        FROM cand c JOIN mh a ON a.doc_id = c.id_a
        |                    JOIN mh b ON b.doc_id = c.id_b AND a.s = b.s
        |        GROUP BY 1, 2),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |jac AS (SELECT e.id_a, e.id_b, e.est_matches,
        |          len(list_intersect(a.tok, b.tok)) * 1000000
        |            // (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) AS jac_ppm
        |        FROM est e JOIN sets a ON e.id_a = a.doc_id
        |                   JOIN sets b ON e.id_b = b.doc_id)
        |SELECT est_matches, count(*) AS n_pairs,
        |  CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_jaccard_ppm,
        |  min(jac_ppm) AS min_jaccard_ppm, max(jac_ppm) AS max_jaccard_ppm
        |FROM jac GROUP BY 1""".stripMargin,

    "q268_containment_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |sc AS (SELECT c.id_a, c.id_b,
        |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
        |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
        |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                   JOIN sets b ON c.id_b = b.doc_id),
        |drops AS (SELECT id_a AS did FROM sc
        |          WHERE inter * 1000000 // na >= 800000
        |            AND (nb > na OR (nb = na AND id_b < id_a))
        |          UNION
        |          SELECT id_b FROM sc
        |          WHERE inter * 1000000 // nb >= 800000
        |            AND (na > nb OR (na = nb AND id_a < id_b)))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT did FROM drops)""".stripMargin,

    "q267_distinct_ngram_diversity" ->
      """WITH u AS (SELECT source, unnest(string_split(trim(text), ' ')) AS g FROM documents),
        |uf AS (SELECT source, g FROM u WHERE g <> ''),
        |agg1 AS (SELECT source, count(*) AS n1_total, count(DISTINCT g) AS n1_distinct
        |         FROM uf GROUP BY 1),
        |w AS (SELECT source, string_split(trim(text), ' ') AS w FROM documents),
        |bl AS (SELECT source, list_transform(range(1, len(w)),
        |        i -> w[i] || ' ' || w[i+1]) AS bs FROM w WHERE len(w) >= 2),
        |b AS (SELECT source, unnest(bs) AS g FROM bl),
        |agg2 AS (SELECT source, count(*) AS n2_total, count(DISTINCT g) AS n2_distinct
        |         FROM b GROUP BY 1)
        |SELECT a.source, n1_total, n1_distinct,
        |  n1_distinct * 1000000 // n1_total AS distinct1_ppm,
        |  coalesce(n2_total, 0) AS n2_total, coalesce(n2_distinct, 0) AS n2_distinct,
        |  coalesce(n2_distinct * 1000000 // n2_total, -1) AS distinct2_ppm
        |FROM agg1 a LEFT JOIN agg2 USING (source)""".stripMargin,
    // q264: same ladder, but the TRAINING SAMPLE draws only from the
    // initially-published partial corpus (appended vectors are assigned
    // under the stored centroids, never trained on) — final assignment
    // and probe stay corpus-wide
    "q264_ivf_index_append" -> ivfSampledOracleSql.replace(
      "smp AS (SELECT vec_id FROM embeddings ORDER BY",
      "smp AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0 ORDER BY"),
    // q277: compaction rewrites files, never rows — probe-identical to q264
    "q277_ivf_index_compact" -> ivfSampledOracleSql.replace(
      "smp AS (SELECT vec_id FROM embeddings ORDER BY",
      "smp AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0 ORDER BY"),
    // q317: torn IVF append + retry — the orphaned epoch stays invisible,
    // so the healed index is probe-identical to q264's untorn append
    "q317_ivf_torn_append" -> ivfSampledOracleSql.replace(
      "smp AS (SELECT vec_id FROM embeddings ORDER BY",
      "smp AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0 ORDER BY"),

    // q278: micro-unit logs rounded once per term → order-free integer OLS
    // sums; the slope ratio is one double division (engine-exact)
    "q278_zipf_slope" ->
      """WITH tok AS (SELECT source AS g,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |tf AS (SELECT g, t, count(*)::BIGINT AS cf FROM tok GROUP BY 1, 2),
        |rk AS (SELECT g, t, cf,
        |    row_number() OVER (PARTITION BY g ORDER BY cf DESC, t ASC)::BIGINT AS r
        |  FROM tf),
        |xy AS (SELECT g, round(ln(r::DOUBLE) * 1e6)::BIGINT AS x,
        |    round(ln(cf::DOUBLE) * 1e6)::BIGINT AS y
        |  FROM rk WHERE r <= 100),
        |s AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT g AS source, n AS n_terms,
        |  round(((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) * 1e6)::BIGINT
        |    AS slope_u
        |FROM s ORDER BY source""".stripMargin,

    "q279_burstiness" ->
      """WITH tok AS (SELECT source AS g, doc_id AS id,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |st AS (SELECT g, t, count(*)::BIGINT AS cf,
        |    count(DISTINCT id)::BIGINT AS df FROM tok GROUP BY 1, 2),
        |rk AS (SELECT g, t, cf, df,
        |    row_number() OVER (PARTITION BY g ORDER BY cf DESC, t ASC)::BIGINT AS rank
        |  FROM st)
        |SELECT g AS source, rank, t AS term, cf, df,
        |  cf * 1000000 // df AS burst_ppm
        |FROM rk WHERE rank <= 20""".stripMargin,

    // q280: integer dot/norms; sqrt is IEEE-correctly-rounded on both
    // engines, so the single cosine division is engine-exact
    "q280_source_cosine" ->
      """WITH tok AS (SELECT source AS s,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |tf AS (SELECT s, t, count(*)::BIGINT AS cf FROM tok GROUP BY 1, 2),
        |nrm AS (SELECT s, sum(cf * cf)::BIGINT AS nrm2 FROM tf GROUP BY 1),
        |dots AS (SELECT a.s AS src1, b.s AS src2, sum(a.cf * b.cf)::BIGINT AS dot
        |  FROM tf a JOIN tf b ON a.t = b.t AND a.s < b.s GROUP BY 1, 2)
        |SELECT src1, src2, dot,
        |  round((dot::DOUBLE / (sqrt(n1.nrm2::DOUBLE) * sqrt(n2.nrm2::DOUBLE))) * 1e6)::BIGINT
        |    AS cosine_u
        |FROM dots JOIN nrm n1 ON n1.s = src1 JOIN nrm n2 ON n2.s = src2
        |ORDER BY src1, src2""".stripMargin,

    "q124_ivf_portable" ->
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 8),
        |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
        |dist1 AS (SELECT f.vec_id, c0.c, sum((f.q - c0.cv)*(f.q - c0.cv)) AS dist
        |          FROM f JOIN cent0 c0 ON f.d = c0.d GROUP BY 1, 2),
        |asg1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist1) WHERE rn = 1),
        |upd1 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg1 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
        |dist2 AS (SELECT f.vec_id, c1.c, sum((f.q - c1.cv)*(f.q - c1.cv)) AS dist
        |          FROM f JOIN cent1 c1 ON f.d = c1.d GROUP BY 1, 2),
        |asg2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist2) WHERE rn = 1),
        |upd2 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg2 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
        |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
        |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
        |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
        |asg3 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist3) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c FROM (
        |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 2),
        |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |               FROM probes p JOIN asg3 a USING (c)
        |               WHERE a.vec_id <> p.query_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |sims AS (SELECT cd.query_id, cd.neighbor_id,
        |         sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cosine
        |         FROM candidates cd JOIN fl a ON a.vec_id = cd.query_id
        |                            JOIN fl b ON b.vec_id = cd.neighbor_id AND a.i = b.i
        |         GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM sims)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin,

    // q76: replay the integer-vote embedding from the docs' ASCII bytes
    // (b = codepoint = byte here), then exact integer L2 top-3
    "q76_media_embed_knn" ->
      """WITH ch AS (SELECT doc_id, text, unnest(range(0, length(text))) AS i FROM documents),
        |cb AS (SELECT doc_id, i, ascii(substr(text, CAST(i + 1 AS INT), 1)) AS b FROM ch),
        |e0 AS (SELECT doc_id, (b * 31 + i) % 16 AS j, sum(b - 127) AS v
        |       FROM cb GROUP BY 1, 2),
        |dims AS (SELECT d.doc_id, j.j FROM documents d,
        |         (SELECT unnest(range(0, 16)) AS j) j),
        |emb AS (SELECT dims.doc_id, dims.j, coalesce(e0.v, 0) AS v
        |        FROM dims LEFT JOIN e0 ON dims.doc_id = e0.doc_id AND dims.j = e0.j),
        |d AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |      CAST(sum((q.v - c.v)*(q.v - c.v)) AS BIGINT) AS dist
        |      FROM emb q JOIN emb c ON q.j = c.j
        |      WHERE q.doc_id < 3 AND c.doc_id <> q.doc_id
        |      GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM d)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin,

    // q66: q123's md5-hyperplane RP-LSH at the DEEP code shape — 24
    // hyperplanes in 6 bands of 4 (same 4-bit band keys)
    "q66_embed_neardup_lsh" ->
      """WITH hp AS (
        |  SELECT h.h, d.d,
        |    4096*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 1, 1))-1)
        |  +  256*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 2, 1))-1)
        |  +   16*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 3, 1))-1)
        |  +      (strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 4, 1))-1)
        |  - 32768 AS r
        |  FROM (SELECT unnest(range(0, 24)) AS h) h, (SELECT unnest(range(0, 64)) AS d) d),
        |f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1048576) AS BIGINT) AS q FROM embeddings),
        |s AS (SELECT f.vec_id, hp.h, sum(f.q * hp.r) AS dot FROM f JOIN hp ON f.d = hp.d GROUP BY 1, 2),
        |buckets AS (SELECT vec_id, h // 4 AS band,
        |            CAST(sum(CASE WHEN dot > 0 THEN 1 << (h % 4) ELSE 0 END) AS BIGINT) AS bk
        |            FROM s GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.vec_id < b.vec_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |p AS (SELECT c.id_a, c.id_b,
        |      sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cos
        |      FROM cand c JOIN fl a ON a.vec_id = c.id_a JOIN fl b ON b.vec_id = c.id_b AND a.i = b.i
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4""".stripMargin,

    // q103: per-month EWMA of daily order counts, α=1/2 — every value is a
    // dyadic rational within double precision, so the recursive CTE's
    // doubles match the engine's bit-for-bit with NO rounding applied
    "q103_ewma" ->
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
        |SELECT m, k, y AS ewma FROM w""".stripMargin,

    "q123_rplsh_portable" ->
      """WITH hp AS (
        |  SELECT h.h, d.d,
        |    4096*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 1, 1))-1)
        |  +  256*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 2, 1))-1)
        |  +   16*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 3, 1))-1)
        |  +      (strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 4, 1))-1)
        |  - 32768 AS r
        |  FROM (SELECT unnest(range(0, 16)) AS h) h, (SELECT unnest(range(0, 64)) AS d) d),
        |f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1048576) AS BIGINT) AS q FROM embeddings),
        |s AS (SELECT f.vec_id, hp.h, sum(f.q * hp.r) AS dot FROM f JOIN hp ON f.d = hp.d GROUP BY 1, 2),
        |buckets AS (SELECT vec_id, h // 4 AS band,
        |            CAST(sum(CASE WHEN dot > 0 THEN 1 << (h % 4) ELSE 0 END) AS BIGINT) AS bk
        |            FROM s GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.vec_id < b.vec_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |p AS (SELECT c.id_a, c.id_b,
        |      sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cos
        |      FROM cand c JOIN fl a ON a.vec_id = c.id_a JOIN fl b ON b.vec_id = c.id_b AND a.i = b.i
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4""".stripMargin,

    // append-mode finalization rule: a window lands in the file sink iff
    // the final watermark (max event time - delay) passed its end
    "q151_stream_static_join" ->
      """WITH home AS (SELECT user_id, min(event_type) || '_' || (user_id % 5) AS home_type
        |              FROM events GROUP BY 1)
        |SELECT home_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM events JOIN home USING (user_id)
        |GROUP BY 1""".stripMargin,

    // shared by q143 (default in-memory state) and q258 (the same stream
    // with session-window state in RocksDB) — provider choice must never
    // change a row
    "q143_stream_sessions" -> streamSessionsOracleSql,
    "q258_stream_sessions_rocksdb" -> streamSessionsOracleSql,

    "q122_stream_file_sink" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |agg AS (SELECT date_trunc('hour', ts) AS w, event_type,
        |        count(*) AS n, round(sum(value), 4) AS total
        |        FROM events GROUP BY 1, 2)
        |SELECT CAST(epoch(w) AS BIGINT) AS k, event_type, n, total
        |FROM agg, m WHERE w + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR""".stripMargin,

    "q121_series_zipalign" ->
      """WITH a AS (SELECT o_orderdate AS k, sum(o_totalprice) AS v FROM orders GROUP BY 1),
        |b AS (SELECT date_trunc('month', o_orderdate)::DATE AS k, sum(o_totalprice) AS v
        |      FROM orders GROUP BY 1)
        |SELECT a.k, round(a.v / b.v, 6) AS v
        |FROM a ASOF JOIN b ON a.k >= b.k""".stripMargin,

    "q119_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |c AS (SELECT t, count(*) AS n_t FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM tok),
        |s AS (SELECT doc_id, CAST(round(-ln(c.n_t / n.n_total) * 1e6) AS BIGINT) AS nll
        |      FROM tok JOIN c USING (t) CROSS JOIN n)
        |SELECT doc_id, count(*) AS n_tok,
        |round(sum(nll) / 1e6 / count(*), 4) AS avg_nll
        |FROM s GROUP BY doc_id""".stripMargin,

    "q120_dedup_apply" ->
      s"""WITH RECURSIVE $tokSql,
        |shl AS (SELECT doc_id, list_transform(range(1, len(ws)-1),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shs
        |        FROM toks WHERE len(ws) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE cluster <> id)
        |SELECT d.lang, count(*) AS n_after, CAST(sum(t.n_tok) AS BIGINT) AS tokens_after
        |FROM documents d JOIN toks t USING (doc_id)
        |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
        |GROUP BY d.lang""".stripMargin,

    // q43: same md5 fingerprint + brute-force-all-pairs oracle as q118,
    // over the FULL corpus (no id filter) — certifies the pigeonhole
    // blocking's exact recall at the production table size
    "q43_simhash" -> simhashOracleSql,

    // q288: the same simhash machinery, aggregated into the radius census
    "q288_hamming_census" -> simhashOracleSql.replace(
      "SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8",
      "SELECT hamming, count(*) AS n_pairs FROM ham WHERE hamming <= 8 GROUP BY 1"),

    "q118_simhash_portable" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents WHERE doc_id < 300),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
        |h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tok),
        |d AS (SELECT doc_id, p.p, strpos('0123456789abcdef', substr(hx, p.p + 1, 1)) - 1 AS dv
        |      FROM h, (SELECT unnest(range(0, 16)) AS p) p),
        |b AS (SELECT doc_id, d.p * 4 + j.j AS bit,
        |      CASE WHEN (dv >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS c
        |      FROM d, (SELECT unnest(range(0, 4)) AS j) j),
        |bits AS (SELECT doc_id, bit, CASE WHEN sum(c) > 0 THEN 1 ELSE 0 END AS v
        |         FROM b GROUP BY 1, 2),
        |fpd AS (SELECT doc_id, bit // 4 AS p,
        |        CAST(sum(CASE WHEN v = 1 THEN 1 << (bit % 4) ELSE 0 END) AS INT) AS digit
        |        FROM bits GROUP BY 1, 2),
        |fph AS (SELECT doc_id, string_agg(substr('0123456789abcdef', digit + 1, 1), '' ORDER BY p) AS fph
        |        FROM fpd GROUP BY 1),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fph AS ha, b.fph AS hb
        |       FROM fph a, fph b WHERE a.doc_id < b.doc_id),
        |ham AS (SELECT id_a, id_b, CAST(sum(bit_count(
        |        xor(strpos('0123456789abcdef', substr(ha, p.p + 1, 1)) - 1,
        |            strpos('0123456789abcdef', substr(hb, p.p + 1, 1)) - 1))) AS BIGINT) AS hamming
        |        FROM pr, (SELECT unnest(range(0, 16)) AS p) p GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8""".stripMargin,

    // q42: q113's md5 MinHash pipeline at the production banding width —
    // 32 seeds in 8 bands of 4, Jaccard threshold 0.4
    "q42_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 32)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl)
        |SELECT c.id_a, c.id_b,
        |round(len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
        |FROM cand c JOIN sets a ON c.id_a = a.doc_id JOIN sets b ON c.id_b = b.doc_id
        |WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.4""".stripMargin,

    "q113_minhash_portable" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl)
        |SELECT c.id_a, c.id_b,
        |round(len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
        |FROM cand c JOIN sets a ON c.id_a = a.doc_id JOIN sets b ON c.id_b = b.doc_id
        |WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5""".stripMargin,

    "q110_chunk_docs" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n,
        |  CASE WHEN len(ws) <= 64 THEN 1
        |       ELSE 1 + CAST(ceil((len(ws) - 64)::DOUBLE / 48) AS BIGINT) END AS nch
        |  FROM w),
        |c AS (SELECT doc_id,
        |  unnest(range(0, nch)) AS chunk_idx,
        |  unnest(list_transform(range(0, nch),
        |    i -> array_to_string(ws[i*48+1 : least(i*48+64, n)], ' '))) AS txt
        |  FROM n)
        |SELECT doc_id, chunk_idx, md5(txt) AS chunk_md5 FROM c""".stripMargin,

    "q109_pipeline_e2e" ->
      s"""WITH $tokSql,
         |fp AS (SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f
         |  FROM documents) GROUP BY f),
         |d AS (SELECT t.doc_id, t.n_tok FROM toks t JOIN fp USING (doc_id)
         |      WHERE t.n_tok >= 20 AND t.doc_id >= 5),
         |g AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(ws) < 3 THEN []
         |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
         |  END) AS sh FROM toks),
         |bad AS (SELECT DISTINCT t.doc_id FROM g t, g p
         |  WHERE t.doc_id >= 5 AND p.doc_id < 5 AND len(t.sh) > 0 AND len(p.sh) > 0
         |  AND len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) >= 0.5),
         |clean AS (SELECT * FROM d
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
         |c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM clean)
         |SELECT CAST(floor((cum - n_tok) / 4096) AS BIGINT) AS bin,
         |count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY 1""".stripMargin,

    "q108_stream_join" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
        |  FROM events WHERE user_id < 20)
        |SELECT a.user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us > a.us AND b.us <= a.us + 3600000000
        |GROUP BY 1""".stripMargin,

    "q107_moments" ->
      """WITH mu AS (SELECT l_returnflag, avg(l_extendedprice) AS mu
        |            FROM lineitem GROUP BY 1),
        |c AS (SELECT l.l_returnflag, count(*) AS n,
        |  avg(pow(l_extendedprice - mu, 2)) AS m2,
        |  avg(pow(l_extendedprice - mu, 3)) AS m3,
        |  avg(pow(l_extendedprice - mu, 4)) AS m4
        |  FROM lineitem l JOIN mu USING (l_returnflag) GROUP BY 1)
        |SELECT l_returnflag, round(m3 / pow(m2, 1.5), 6) AS skew,
        |round(m4 / (m2*m2) - 3, 6) AS kurt, n
        |FROM c""".stripMargin,

    "q106_interval_join" ->
      """WITH e AS (SELECT event_id,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec, value FROM events),
        |b AS (SELECT min(sec) AS lo, max(sec) AS hi FROM e),
        |w AS (SELECT unnest(generate_series(lo, hi, 604800)) AS w_start FROM b),
        |j AS (SELECT w.w_start, e.value FROM w JOIN e
        |      ON e.sec >= w.w_start AND e.sec < w.w_start + 259200)
        |SELECT w_start, count(*) AS n, round(sum(value), 4) AS total
        |FROM j GROUP BY 1""".stripMargin,

    "q105_rolling_stats" ->
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
        |FROM d WINDOW w AS (ORDER BY day RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q101_dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(string_split(trim(text),' ')) AS tok
        |           FROM documents WHERE doc_id < 100),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b
        |  WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.tok, b.tok))::DOUBLE
        |    / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.9),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.id)
        |SELECT id AS doc_id, min(label) AS cluster FROM walk GROUP BY id""".stripMargin,

    "q98_stream_dedup" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM (SELECT DISTINCT user_id, event_type, value FROM events)
        |GROUP BY 1""".stripMargin,

    "q99_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin,

    "q95_stratified_sample" ->
      s"""WITH $tokSql
         |SELECT lang, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS toks
         |FROM toks JOIN documents USING (doc_id)
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
         |  CASE lang WHEN 'en' THEN '80' WHEN 'zh' THEN '40' ELSE '20' END
         |GROUP BY 1""".stripMargin,

    "q96_token_packing" ->
      s"""WITH $tokSql, c AS (
         |SELECT doc_id, n_tok,
         |sum(n_tok) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |FROM toks)
         |SELECT CAST(floor((cum - n_tok) / 4096) AS BIGINT) AS bin,
         |count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY 1""".stripMargin,

    "q97_decontaminate" -> decontamOracleSql,

    // q292: q97's pair machinery rolled up per eval probe (max is
    // order-free over the round-once overlaps)
    "q292_decontam_report" -> decontamOracleSql.replace(
      "SELECT train_id, probe_id, round(ov, 6) AS overlap\nFROM pairs WHERE ov >= 0.5",
      "SELECT probe_id, count(*)::BIGINT AS n_contaminated_train,\n" +
        "  round(max(round(ov, 6)) * 1e6)::BIGINT AS max_overlap_u\n" +
        "FROM pairs WHERE ov >= 0.5 GROUP BY 1"),

    "q94_series_ops" ->
      s"""$dailySql,
         |m AS (SELECT date_trunc('month', k)::DATE AS k,
         |             sum(coalesce(v,0)*2) AS total, count(v) AS n
         |      FROM daily GROUP BY 1)
         |SELECT m.k, round(m.total * f.factor, 4) AS adj_total,
         |CAST(m.n AS BIGINT) AS n
         |FROM m JOIN (VALUES (1, 1.05), (2, 0.95), (3, 1.10), (4, 1.20)) AS f(q, factor)
         |ON quarter(m.k) = f.q""".stripMargin,

    "q92_level3_slice" ->
      """SELECT year(o_orderdate) AS yr, o_orderstatus AS st,
        |count(*) AS n, round(sum(o_totalprice),4) AS total
        |FROM orders WHERE month(o_orderdate) = 6
        |GROUP BY 1, 2""".stripMargin,

    "q55_take_last" ->
      s"""$dailySql
         |SELECT k, round(v,4) AS v FROM daily ORDER BY k DESC LIMIT 15""".stripMargin,

    "q56_minby" ->
      s"""$dailySql
         |SELECT k, round(v,4) AS v FROM daily ORDER BY v ASC, k ASC LIMIT 1""".stripMargin,

    "q57_zip_inner" ->
      s"""$dailySql,
         |b AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v
         |      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         |SELECT daily.k AS k, round(daily.v,4) AS v1, round(b.v,4) AS v2
         |FROM daily JOIN b ON daily.k = b.k
         |WHERE daily.v IS NOT NULL AND b.v IS NOT NULL""".stripMargin,

    "q58_math_funcs" ->
      s"""$dailySql
         |SELECT k, round(ln(v),6) AS ln_v, round(sqrt(v),6) AS sqrt_v,
         |round(abs(v - 200000),4) AS abs_d,
         |sign(v - 200000)::DOUBLE AS sign_d
         |FROM daily""".stripMargin,

    "q59_frame_series_arith" ->
      s"""$dailySql
         |SELECT o_orderkey, round(o_totalprice / d.v, 6) AS share
         |FROM orders o JOIN daily d ON CAST(o.o_orderdate AS DATE) = d.k""".stripMargin,

    "q60_window_while" ->
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily)
         |SELECT e.k AS window_key,
         |(SELECT count(*) FROM e e2 WHERE e2.k >= e.k AND e2.k < e.k + 7) AS n,
         |(SELECT round(sum(v),4) FROM e e2 WHERE e2.k >= e.k AND e2.k < e.k + 7) AS total
         |FROM e""".stripMargin,

    "q61_transpose" ->
      """WITH a AS (SELECT l_returnflag AS f, round(sum(l_quantity),4) AS sum_qty,
        |round(avg(l_extendedprice),6) AS avg_price, count(*)::DOUBLE AS n
        |FROM lineitem GROUP BY 1)
        |SELECT 'sum_qty' AS "column",
        |  max(CASE WHEN f='A' THEN sum_qty END) AS A,
        |  max(CASE WHEN f='N' THEN sum_qty END) AS N,
        |  max(CASE WHEN f='R' THEN sum_qty END) AS R FROM a
        |UNION ALL SELECT 'avg_price',
        |  max(CASE WHEN f='A' THEN avg_price END),
        |  max(CASE WHEN f='N' THEN avg_price END),
        |  max(CASE WHEN f='R' THEN avg_price END) FROM a
        |UNION ALL SELECT 'n',
        |  max(CASE WHEN f='A' THEN n END),
        |  max(CASE WHEN f='N' THEN n END),
        |  max(CASE WHEN f='R' THEN n END) FROM a""".stripMargin,

    "q62_level_lookup" ->
      """SELECT date_trunc('month', o_orderdate)::DATE AS month,
        |round(sum(o_totalprice),4) AS total
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1""".stripMargin,

    "q63_resample_backward" ->
      s"""$dailySql, bounds AS (
         |SELECT (DATE '1994-06-01' + INTERVAL (i*3) MONTH)::DATE AS b
         |FROM range(0,40) t(i)),
         |tagged AS (
         |SELECT d.k, d.v,
         |coalesce((SELECT min(b) FROM bounds WHERE b >= d.k), (SELECT max(b) FROM bounds)) AS bucket
         |FROM daily d),
         |agg AS (SELECT bucket, sum(v) AS total, count(v) AS n FROM tagged GROUP BY bucket)
         |SELECT b.b AS k, round(a.total,4) AS total, a.n AS n
         |FROM bounds b LEFT JOIN agg a ON b.b = a.bucket""".stripMargin,

    "q64_lookup_time" ->
      """WITH m AS (
        |SELECT CAST(floor(epoch(date_trunc('second', ts))/60)*60 AS BIGINT) AS k,
        |sum(value) AS v FROM events GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(
        |  (SELECT min(k) FROM m), (SELECT max(k) FROM m), 97*60)) AS g)
        |SELECT g, round((SELECT v FROM m WHERE m.k <= g.g AND m.v IS NOT NULL
        |                 ORDER BY m.k DESC LIMIT 1),4) AS v
        |FROM grid g""".stripMargin,

    "q65_embed_neardup" ->
      """WITH f AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |           generate_subscripts(embedding,1) AS i FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS c
        |      FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
        |      GROUP BY 1,2)
        |SELECT id_a, id_b, round(c,6) AS cosine FROM p WHERE c >= 0.4""".stripMargin,

    "q67_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q68_custom_agg" ->
      """SELECT l_returnflag,
        |round(sum(l_extendedprice*l_quantity)/sum(l_quantity),4) AS wmean_price,
        |round(exp(avg(ln(l_quantity))),4) AS gmean_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q69_csv_tsv" ->
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin,

    "q70_unstack_stack" ->
      """SELECT date_trunc('month', o_orderdate)::DATE AS month, o_orderstatus,
        |round(sum(o_totalprice),4) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q71_scan_ffill" ->
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT k, round(last_value(v IGNORE NULLS) OVER (
         |  ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS filled
         |FROM re""".stripMargin,

    "q72_scan_cumsum" ->
      s"""$dailySql
         |SELECT k, round(sum(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS cum
         |FROM daily""".stripMargin,

    "q73_scan_rownum" ->
      s"""$dailySql
         |SELECT k, row_number() OVER (ORDER BY k) - 1 AS ord FROM daily""".stripMargin,

    "q74_media_resize" ->
      """WITH b AS (SELECT doc_id, strlen(text) AS n, text FROM documents)
        |SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |8 AS width, 6 AS height,
        |CASE WHEN n = 0 THEN 0 ELSE
        |  list_aggregate(list_transform(range(0, 48),
        |    i -> ord(text[((i*n)//48)+1])), 'sum') END::BIGINT AS checksum
        |FROM b""".stripMargin,

    "q75_frame_sample" ->
      """WITH b AS (SELECT doc_id, strlen(text) AS n, text FROM documents),
        |f AS (SELECT doc_id, n, text, unnest(range(0, (n+31)//32, 2)) AS frame_idx
        |      FROM b WHERE n > 0)
        |SELECT doc_id, frame_idx::INT AS frame_idx, ((n+31)//32)::INT AS n_frames,
        |(least(frame_idx*32+32, n) - frame_idx*32)::INT AS frame_bytes,
        |list_aggregate(list_transform(range(frame_idx*32, least(frame_idx*32+32, n)),
        |  i -> ord(text[i+1])), 'sum')::BIGINT AS checksum
        |FROM f""".stripMargin,

    "q77_stream_sliding" ->
      """WITH x AS (
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS k, value FROM events
        |UNION ALL
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 3600, value FROM events)
        |SELECT k, count(*) AS n, round(sum(value),4) AS total FROM x GROUP BY 1""".stripMargin,

    "q78_stream_stateful" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value),4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q79_frame_window" ->
      """WITH f AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS total,
        |           count(*) AS n FROM orders GROUP BY 1),
        |w AS (SELECT k,
        |round(avg(total) OVER win, 4) AS mavg_total,
        |round(avg(n) OVER win, 6) AS mavg_n,
        |count(*) OVER win AS wsize
        |FROM f WINDOW win AS (ORDER BY k ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT k, mavg_total, mavg_n FROM w WHERE wsize = 5""".stripMargin,

    "q80_missing_stats" ->
      s"""$dailySql, sparse AS (
         |SELECT * FROM daily WHERE day(k) % 3 = 0),
         |grid AS (SELECT unnest(generate_series(
         |  (SELECT min(k) FROM daily), (SELECT max(k) FROM daily), INTERVAL 1 DAY))::DATE AS k),
         |re AS (SELECT g.k, s.v, coalesce(s.v, 0) AS v2 FROM grid g LEFT JOIN sparse s ON g.k = s.k)
         |SELECT 'v' AS "column", count(*) - count(v) AS n_missing FROM re
         |UNION ALL SELECT 'v2', count(*) - count(v2) FROM re""".stripMargin,

    "q81_char_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, strlen(text)-1), i -> substr(text, i, 3))) AS tok
        |  FROM documents WHERE doc_id < 60 AND strlen(text) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |round(len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
        |FROM t a, t b
        |WHERE a.doc_id < b.doc_id
        |AND len(list_intersect(a.tok, b.tok))::DOUBLE
        |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5""".stripMargin,

    "q82_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q144_partition_prune" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
        |round(sum(value), 4) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-12'
        |GROUP BY 1, 2""".stripMargin,

    "q83_per_user_diff" ->
      """SELECT user_id, event_id,
        |round(value - lag(value) OVER w, 6) AS dv,
        |round(last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ffilled
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q84_pow_scalar" ->
      s"""$dailySql
         |SELECT k, round(pow(v/1000.0, 2), 6) AS v_sq, round(1000000.0/v, 6) AS inv
         |FROM daily""".stripMargin,

    "q85_asof_broadcast" ->
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily),
         |grid AS (
         |SELECT CAST(epoch(CAST(g AS TIMESTAMP))/86400 AS BIGINT) AS g FROM (
         |  SELECT unnest(generate_series(
         |    (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g))
         |SELECT g, round((SELECT v FROM e WHERE e.k <= g.g AND e.v IS NOT NULL
         |                 ORDER BY e.k DESC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin,

    "q86_asof_native" ->
      s"""$dailySql, e AS (
         |SELECT CAST(epoch(CAST(k AS TIMESTAMP))/86400 AS BIGINT) AS k, v FROM daily),
         |grid AS (
         |SELECT CAST(epoch(CAST(g AS TIMESTAMP))/86400 AS BIGINT) AS g FROM (
         |  SELECT unnest(generate_series(
         |    (SELECT min(k)+3 FROM daily), (SELECT max(k) FROM daily), INTERVAL 11 DAY))::DATE AS g))
         |SELECT g, round((SELECT v FROM e WHERE e.k >= g.g AND e.v IS NOT NULL
         |                 ORDER BY e.k ASC LIMIT 1),4) AS v_asof
         |FROM grid g""".stripMargin,

    "q87_json_extract" ->
      """SELECT event_type, count(pk) AS n, round(avg(pk),6) AS avg_k, max(pk) AS max_k
        |FROM (SELECT event_type, (props->>'k')::BIGINT AS pk FROM events)
        |GROUP BY event_type""".stripMargin,

    "q88_bpe_tokens" ->
      """WITH b AS (SELECT
        |  len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS np,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS nw
        |  FROM documents)
        |SELECT CAST(sum(np) AS BIGINT) AS total_pieces, round(avg(np),6) AS avg_pieces,
        |CAST(sum(nw) AS BIGINT) AS total_ws_tokens FROM b""".stripMargin,

    "q90_rank_family" ->
      s"""$dailySql, r AS (
         |SELECT k,
         |rank() OVER w AS rnk,
         |dense_rank() OVER w AS drnk,
         |ntile(4) OVER w AS quartile,
         |round(percent_rank() OVER w, 6) AS prank
         |FROM daily WINDOW w AS (ORDER BY v ASC, k ASC))
         |SELECT * FROM r WHERE rnk <= 20""".stripMargin,

    "q91_zip_align" ->
      """WITH df AS (
        |SELECT CAST(o_orderdate AS DATE) AS k,
        |sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS F,
        |sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS O
        |FROM orders GROUP BY 1),
        |mf AS (
        |SELECT date_trunc('month', o_orderdate)::DATE AS m,
        |avg(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS F,
        |avg(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS O
        |FROM orders GROUP BY 1)
        |SELECT k,
        |round(df.F / (SELECT mf.F FROM mf WHERE mf.m <= df.k AND mf.F IS NOT NULL
        |              ORDER BY mf.m DESC LIMIT 1), 6) AS F,
        |round(df.O / (SELECT mf.O FROM mf WHERE mf.m <= df.k AND mf.O IS NOT NULL
        |              ORDER BY mf.m DESC LIMIT 1), 6) AS O
        |FROM df""".stripMargin,

    "q196_funnel" ->
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
        |UNION ALL SELECT 3, 'purchase', c3, c3 * 1000000 // c1 FROM c""".stripMargin,

    "q197_cohort_retention" ->
      """WITH f AS (SELECT user_id,
        |  CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT f.cohort_week,
        |  CAST(a.wk - f.cohort_week AS BIGINT) // 7 AS week_offset,
        |  count(*) AS entities
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    "q198_ks_drift" ->
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
        |FROM c, t GROUP BY t.n1, t.n2""".stripMargin,

    "q199_containment" ->
      """WITH tok AS (SELECT doc_id,
        |  list_distinct(string_split(trim(text), ' ')) AS tok FROM documents),
        |tk AS (SELECT doc_id, tok FROM tok WHERE len(tok) > 0),
        |ex AS (SELECT doc_id, unnest(tok) AS t FROM tk),
        |rare AS (SELECT t FROM ex GROUP BY t HAVING count(*) BETWEEN 2 AND
        |  greatest(100, (SELECT count(*) FROM documents) // 5)),
        |re AS (SELECT ex.doc_id, ex.t FROM ex JOIN rare USING (t)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM re a JOIN re b USING (t) WHERE a.doc_id < b.doc_id),
        |p AS (SELECT id_a, id_b, ta.tok AS ta, tb.tok AS tb FROM cand
        |  JOIN tk ta ON ta.doc_id = cand.id_a
        |  JOIN tk tb ON tb.doc_id = cand.id_b),
        |m AS (SELECT id_a, id_b, CAST(len(ta) AS BIGINT) AS n_a,
        |  CAST(len(tb) AS BIGINT) AS n_b,
        |  CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter FROM p)
        |SELECT id_a, id_b, n_a, n_b, inter,
        |  inter * 1000000 // least(n_a, n_b) AS cont_ppm FROM m
        |WHERE inter * 1000000 // least(n_a, n_b) >= 600000""".stripMargin,

    "q200_markov" ->
      """WITH p AS (SELECT user_id, event_type, lag(event_type) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
        |c AS (SELECT prev AS prev_type, event_type AS next_type,
        |  count(*) AS transitions FROM p WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, transitions,
        |  transitions * 1000000 //
        |    CAST(sum(transitions) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_ppm
        |FROM c""".stripMargin,

    "q201_sorted_neighborhood" ->
      """WITH n AS (SELECT p_name AS v, count(*) AS c FROM part GROUP BY 1),
        |r AS (SELECT v, c, row_number() OVER (ORDER BY v) - 1 AS r FROM n)
        |SELECT a.v AS name_a, b.v AS name_b, levenshtein(a.v, b.v) AS dist,
        |  a.c * b.c AS n_pairs
        |FROM r a JOIN r b ON b.r > a.r AND b.r - a.r <= 10
        |WHERE levenshtein(a.v, b.v) <= 2""".stripMargin,

    "q202_attribution" ->
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
        |FROM a GROUP BY 1""".stripMargin,

    "q203_stream_funnel" ->
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
        |UNION ALL SELECT 3, 'purchase', c3, c3 * 1000000 // c1 FROM c""".stripMargin,

    "q204_benford" ->
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
        |FROM g, t, e WHERE e.digit = g.digit""".stripMargin,

    "q205_paths" ->
      """WITH r AS (SELECT user_id, event_type, row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n FROM p GROUP BY 1""".stripMargin,

    "q206_survival" ->
      """WITH l AS (SELECT user_id, CAST(max(CAST(ts AS DATE)) -
        |    min(CAST(ts AS DATE)) AS BIGINT) // 7 AS life
        |  FROM events GROUP BY 1),
        |e AS (SELECT unnest(generate_series(0, life)) AS week_offset FROM l),
        |t AS (SELECT count(*) AS total FROM l)
        |SELECT week_offset, count(*) AS survivors,
        |  count(*) * 1000000 // t.total AS survival_ppm
        |FROM e, t GROUP BY week_offset, t.total""".stripMargin,

    "q207_ab_lift" ->
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
        |FROM a""".stripMargin,

    "q208_gini" ->
      """WITH r AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |s AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS rk FROM r),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS total,
        |  sum(CAST(rk AS HUGEINT) * v) AS ws FROM s)
        |SELECT n, total,
        |  CAST((2 * ws - (CAST(n AS HUGEINT) + 1) * total) * 1000000
        |    // (CAST(n AS HUGEINT) * total) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin,

    "q209_cusum" ->
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
        |FROM c, m WHERE c.s = m.max_stat GROUP BY 1, 2, 4""".stripMargin,

    "q210_mad_outliers" ->
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
        |GROUP BY 1, 3, 4""".stripMargin,

    "q211_vocab_overlap" ->
      """WITH v AS (SELECT DISTINCT source AS s, t FROM (
        |    SELECT source, unnest(string_split(trim(text), ' ')) AS t
        |    FROM documents) WHERE t <> ''),
        |sz AS (SELECT s, CAST(count(*) AS BIGINT) AS sz FROM v GROUP BY 1),
        |i AS (SELECT a.s AS src1, b.s AS src2, CAST(count(*) AS BIGINT) AS inter
        |  FROM v a JOIN v b ON a.t = b.t AND a.s < b.s GROUP BY 1, 2)
        |SELECT i.src1, i.src2, i.inter, s1.sz AS sz1, s2.sz AS sz2,
        |  i.inter * 1000000 // (s1.sz + s2.sz - i.inter) AS jaccard_ppm
        |FROM i JOIN sz s1 ON i.src1 = s1.s JOIN sz s2 ON i.src2 = s2.s""".stripMargin,

    "q212_conversion_lag" ->
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
        |FROM d""".stripMargin,

    "q213_rolling_corr" ->
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
        |FROM w""".stripMargin,

    "q214_chi_square" ->
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
        |FROM a""".stripMargin,

    "q215_auc" ->
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
        |FROM a""".stripMargin,

    "q216_spearman" ->
      """WITH b AS (SELECT n_chars AS x,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
        |    END AS y FROM documents),
        |dx AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |mx AS (SELECT x, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    + cnt + 1 AS mrx FROM dx),
        |dy AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |my AS (SELECT y, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    + cnt + 1 AS mry FROM dy),
        |j AS (SELECT mx.mrx, my.mry FROM b
        |  JOIN mx ON b.x = mx.x JOIN my ON b.y = my.y),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(mrx AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(mry AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(mrx AS HUGEINT) * mry) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(mrx AS HUGEINT) * mrx) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(mry AS HUGEINT) * mry) AS HUGEINT) AS syy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS rho
        |FROM a""".stripMargin,

    "q217_rank_fusion" ->
      """WITH ra AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r FROM documents),
        |tk AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
        |    END AS n_tok FROM documents),
        |rb AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY n_tok DESC, doc_id) AS BIGINT) AS r FROM tk),
        |f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
        |    ra.r AS rank_a, rb.r AS rank_b,
        |    coalesce(1000000 // (60 + ra.r), 0)
        |      + coalesce(1000000 // (60 + rb.r), 0) AS rrf_u
        |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
        |SELECT doc_id, rank_a, rank_b, rrf_u FROM f
        |ORDER BY rrf_u DESC, doc_id LIMIT 20""".stripMargin,

    "q218_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |p AS (SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS para
        |      FROM d, unnest(range(0, greatest(1, CAST(ceil(len(w) / 10.0) AS BIGINT))))
        |        AS t(i)),
        |f AS (SELECT md5(para) AS h, count(DISTINCT doc_id) AS dfreq FROM p GROUP BY 1),
        |k AS (SELECT p.doc_id, p.pos, p.para,
        |        CASE WHEN f.dfreq <= 2 THEN 1 ELSE 0 END AS keep
        |      FROM p JOIN f ON md5(p.para) = f.h)
        |SELECT doc_id,
        |  coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE keep = 1), '')
        |    AS clean_text,
        |  count(*) AS n_lines, CAST(sum(keep) AS BIGINT) AS n_kept
        |FROM k GROUP BY doc_id""".stripMargin,

    "q219_k_anonymity" ->
      """WITH g AS (SELECT source, lang, n_chars // 100 AS lb,
        |    CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(sz) AS BIGINT) AS k_min,
        |  CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
        |  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k
        |FROM g""".stripMargin,

    // the bloom prune is transparent: the oracle is the PLAIN join
    "q220_bloom_join" ->
      """SELECT date_trunc('month', o.o_orderdate) AS month,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "q221_theta_intersect" ->
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
        |ORDER BY p.g1, p.g2""".stripMargin,

    "q222_kll_quantiles" ->
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
        |SELECT source, CAST(750 AS BIGINT), q75, CAST(1 AS BIGINT) FROM q""".stripMargin,

    // the z-order layout is semantics-free: the oracle queries the RAW table
    "q223_zorder_scan" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events
        |WHERE user_id BETWEEN 3 AND 11
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-16'
        |GROUP BY 1""".stripMargin,

    // 3 unrolled fixed-point power rounds; all arithmetic integer `//`
    "q224_pagerank" ->
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
        |ORDER BY p DESC, id LIMIT 15""".stripMargin,

    // incremental == full recompute (exact integer partials)
    "q225_incremental_agg" ->
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
        |FROM a""".stripMargin,

    "q226_kl_drift" ->
      """WITH tok AS (SELECT source AS s, unnest(string_split(trim(text), ' ')) AS t
        |  FROM documents),
        |cnts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c FROM tok
        |  WHERE t <> '' GROUP BY 1, 2),
        |sz AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM cnts),
        |pairs AS (SELECT a.s AS p, a.n AS np, b.s AS q, b.n AS nq, vv.v
        |  FROM sz a CROSS JOIN sz b CROSS JOIN vv WHERE a.s <> b.s),
        |ta AS (SELECT pr.p, pr.q, c.t, c.c AS ca FROM pairs pr
        |  JOIN cnts c ON c.s = pr.p),
        |tb AS (SELECT pr.p, pr.q, c.t, c.c AS cb FROM pairs pr
        |  JOIN cnts c ON c.s = pr.q),
        |u AS (SELECT coalesce(ta.p, tb.p) AS p, coalesce(ta.q, tb.q) AS q,
        |    coalesce(ta.ca, 0) AS ca, coalesce(tb.cb, 0) AS cb
        |  FROM ta FULL OUTER JOIN tb
        |    ON ta.p = tb.p AND ta.q = tb.q AND ta.t = tb.t),
        |terms AS (SELECT u.p, u.q,
        |    CAST(round(((u.ca + 1) / CAST(pr.np + pr.v AS DOUBLE))
        |      * ln(((u.ca + 1) / CAST(pr.np + pr.v AS DOUBLE))
        |          / ((u.cb + 1) / CAST(pr.nq + pr.v AS DOUBLE))) * 1e9)
        |      AS BIGINT) AS nano
        |  FROM u JOIN pairs pr ON u.p = pr.p AND u.q = pr.q),
        |agg AS (SELECT p, q, CAST(sum(nano) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS npresent
        |  FROM terms GROUP BY 1, 2)
        |SELECT a.p AS src_p, a.q AS src_q,
        |  a.s + (pr.v - a.npresent) *
        |    CAST(round((1.0 / (pr.np + pr.v))
        |      * ln((1.0 / (pr.np + pr.v)) / (1.0 / (pr.nq + pr.v))) * 1e9)
        |      AS BIGINT) AS kl_nano
        |FROM agg a JOIN pairs pr ON a.p = pr.p AND a.q = pr.q
        |ORDER BY src_p, src_q""".stripMargin,

    "q227_active_users" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // watermark cutoff: unmatched purchases emit only once the final
    // watermark (ms-truncated min-of-inputs max ts − 1 h) passes them
    "q228_stream_left_outer" ->
      """WITH p AS (SELECT user_id AS u, event_id AS eid, ts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS u, event_id AS eid, ts FROM events
        |  WHERE event_type = 'view'),
        |cut AS (SELECT to_timestamp(least(
        |    (SELECT floor(epoch_ms(max(ts)) / 1000.0) FROM p),
        |    (SELECT floor(epoch_ms(max(ts)) / 1000.0) FROM v)) - 3600)
        |  AS c),
        |m AS (SELECT p.u, p.eid, CAST(count(*) AS BIGINT) AS nm
        |  FROM p JOIN v ON p.u = v.u
        |    AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |  GROUP BY 1, 2),
        |rows_ AS (
        |  SELECT p.u, coalesce(m.nm, 0) AS nm,
        |    CASE WHEN m.eid IS NULL AND p.ts < (SELECT c FROM cut)
        |      THEN 1 ELSE 0 END AS unm
        |  FROM p LEFT JOIN m ON p.u = m.u AND p.eid = m.eid
        |  WHERE m.eid IS NOT NULL OR p.ts < (SELECT c FROM cut))
        |SELECT u AS user_id, CAST(sum(nm) AS BIGINT) AS n_matched,
        |  CAST(sum(unm) AS BIGINT) AS n_unmatched
        |FROM rows_ GROUP BY 1""".stripMargin,

    "q229_weighted_median" ->
      """WITH b AS (SELECT lang, n_chars AS v,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
        |    END AS w FROM documents),
        |d AS (SELECT lang, v, CAST(sum(w) AS BIGINT) AS w FROM b
        |  WHERE w > 0 GROUP BY 1, 2),
        |c AS (SELECT lang, v, w,
        |    CAST(sum(w) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum
        |  FROM d),
        |t AS (SELECT lang, CAST(sum(w) AS BIGINT) AS w_total FROM d GROUP BY 1)
        |SELECT c.lang, CAST(min(c.v) AS BIGINT) AS w_median, t.w_total
        |FROM c JOIN t ON c.lang = t.lang
        |WHERE c.cum * 2 >= t.w_total
        |GROUP BY c.lang, t.w_total""".stripMargin,

    "q230_token_entropy" ->
      """WITH cnts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT source AS s, unnest(string_split(trim(text), ' ')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |sz AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY 1)
        |SELECT cnts.s AS source, CAST(max(sz.n) AS BIGINT) AS n_tok,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CAST(round(-(cnts.c / CAST(sz.n AS DOUBLE))
        |    * ln(cnts.c / CAST(sz.n AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
        |    AS h_nano
        |FROM cnts JOIN sz ON cnts.s = sz.s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q231_linkage_scores" ->
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS b0, c_mktsegment AS b1,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS f0,
        |    substr(c_name, -2, 2) AS f1,
        |    c_acctbal >= 0 AS f2
        |  FROM customer)
        |SELECT (CASE WHEN l.f0 IS NOT DISTINCT FROM r.f0
        |          THEN 2197225 ELSE -2197225 END
        |      + CASE WHEN l.f1 IS NOT DISTINCT FROM r.f1
        |          THEN 4553877 ELSE -2985682 END
        |      + CASE WHEN l.f2 IS NOT DISTINCT FROM r.f2
        |          THEN 672944 ELSE -3218876 END) AS score_micro,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM c l JOIN c r ON l.b0 IS NOT DISTINCT FROM r.b0
        |  AND l.b1 IS NOT DISTINCT FROM r.b1 AND l.id < r.id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q232_equidepth_hist" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the stream deduplicates the redelivered copies → plain totals
    "q233_stream_alo_dedup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY 1""".stripMargin,

    "q234_fk_audit" ->
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
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) ORDER BY fk""".stripMargin,

    "q235_pr_calibration" ->
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
        |FROM s JOIN p ON s.v = p.v GROUP BY 1 ORDER BY 1""".stripMargin,

    "q236_assoc_rules" ->
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
        |ORDER BY ante, cons""".stripMargin,

    "q237_twap" ->
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
        |FROM a WHERE tsum > 0 ORDER BY 1, 2""".stripMargin,

    "q238_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name AS name,
        |    split_part(p_name, ' ', 2) AS noun FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw6
        |FROM n a JOIN n b ON a.noun = b.noun AND a.name < b.name
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    // byte-exact round-trip: every doc must come back intact
    "q239_packfile_shards" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_intact
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q241_cov_matrix" ->
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
        |ORDER BY col_i, col_j""".stripMargin,

    "q242_grouping_sets" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(weekofyear(ts) AS BIGINT) AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events)
        |SELECT CAST(grouping(day, event_type, wk) AS BIGINT) AS gid,
        |  event_type, day, wk,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS v_cents
        |FROM b
        |GROUP BY GROUPING SETS ((day), (event_type, day), (wk), ())
        |ORDER BY gid, event_type, day, wk""".stripMargin,

    "q249_stream_rocksdb" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value),4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    // q250: the stored-index probe equals the direct delta computation —
    // the oracle recomputes both sides' band buckets from raw text.
    // q252 is the STREAMING probe of the same index: micro-batches
    // partition the incoming set and flag rows are per-doc independent,
    // so the streamed union equals the same one-shot SQL.
    "q252_stream_lsh_probe" -> lshProbeOracleSql,
    "q250_lsh_index_probe" -> lshProbeOracleSql,
    // q261: append(publish(A), B) must be indistinguishable from
    // publish(A∪B) at probe time — same oracle as the one-shot probe
    "q261_lsh_index_append" -> lshProbeOracleSql,
    // q276: compaction rewrites files, never rows — probe-identical to q261
    "q276_lsh_index_compact" -> lshProbeOracleSql,
    // q314: a torn (staged-crash) append retried under a fresh epoch is
    // probe-identical to q261's untorn append — same oracle verbatim
    "q314_lsh_torn_append" -> lshProbeOracleSql,
    // q318: a compaction killed mid-swap (live table renamed aside, staged
    // copy not yet in) then retried is probe-identical too — the heal
    // restores a complete copy and the rewrite never changes rows
    "q318_lsh_torn_compact" -> lshProbeOracleSql,
    // q319: recovery after a LOST CATALOG (JVM restart under the in-memory
    // catalog: directories survive, entries don't) re-adopts the same
    // bucketed tables — the recovered index probes q261's oracle verbatim
    "q319_lsh_index_recover" -> lshProbeOracleSql,
    // q320: the maintenance census after a torn append — committed rows =
    // the shingleable published subset (docs with ≥3 words), orphans = the
    // torn batch, band rows = 4 bands × doc rows by construction
    "q320_lsh_epoch_census" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id FROM w WHERE len(w) >= 3),
        |pub AS (SELECT count(*) AS n FROM sh WHERE doc_id % 7 != 0 AND doc_id % 5 != 0),
        |orp AS (SELECT count(*) AS n FROM sh WHERE doc_id % 7 != 0 AND doc_id % 5 = 0)
        |SELECT 'buckets' AS tbl,
        |  CAST(4 * pub.n AS BIGINT) AS rows_committed,
        |  CAST(4 * orp.n AS BIGINT) AS rows_orphan,
        |  CAST(1 AS BIGINT) AS orphan_epochs,
        |  CAST(1 AS BIGINT) AS committed_epochs
        |FROM pub, orp
        |UNION ALL
        |SELECT 'docs', CAST(pub.n AS BIGINT), CAST(orp.n AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM pub, orp""".stripMargin,
    // q321/q322: the ANN census twins — IVF and PQ inverted lists both
    // carry exactly one assignment row per vector, so committed = the
    // published subset's count and orphan = the torn batch's count, as
    // plain counts (same replay for both families)
    "q321_ivf_epoch_census" -> annCensusOracleSql,
    "q322_pq_epoch_census" -> annCensusOracleSql,
    // q316: a torn append that is never retried leaves the index exactly
    // at its published state (compaction GCs the orphans) — the probe
    // oracle with the corpus side restricted to the published subset
    "q316_lsh_torn_gc" -> {
      val pattern = "AND b.doc_id % 7 != 0"
      require(lshProbeOracleSql.contains(pattern),
        "q316 oracle: lshProbeOracleSql drifted — corpus predicate not found")
      lshProbeOracleSql.replace(pattern,
        "AND b.doc_id % 7 != 0 AND b.doc_id % 5 != 0")
    },

    "q256_cluster_sizes" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |cs AS (SELECT cluster, count(*) AS sz FROM comp GROUP BY 1)
        |SELECT sz, count(*) AS n_clusters, CAST(sz * count(*) AS BIGINT) AS docs_in
        |FROM cs GROUP BY 1""".stripMargin,

    "q294_split_manifest" ->
      """WITH d AS (SELECT source,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS BIGINT) AS n_tok,
        |  substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) AS sp
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN sp < 'cc' THEN 'train' WHEN sp < 'e6' THEN 'val' ELSE 'test' END AS split,
        |  count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM d GROUP BY 1, 2""".stripMargin,

    // q293: q169's quality CTE with source carried through, decile-bucketed
    "q293_quality_deciles" ->
      """WITH toks AS (SELECT doc_id, source, trim(text) AS t,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS n_tok,
        |  string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |q AS (SELECT source, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(round(round(least(n_tok/50.0, 1.0)*0.4 +
        |    (CASE WHEN length(t)::DOUBLE/n_tok >= 3 AND length(t)::DOUBLE/n_tok <= 10
        |          THEN 1.0 ELSE 0.5 END)*0.3 +
        |    (len(list_distinct(ws))::DOUBLE/n_tok)*0.3, 6) * 1000000) AS BIGINT) AS qu
        |  FROM toks WHERE n_tok > 0)
        |SELECT source, least(qu * 10 // 1000000, 9) AS decile,
        |  count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM q GROUP BY 1, 2""".stripMargin,

    // q290: per-row norms rounded once to micro-units → integer mean
    "q290_label_profile" ->
      """WITH n AS (SELECT vec_id, label,
        |    round(sqrt((SELECT sum(x * x) FROM unnest(embedding::DOUBLE[]) AS u(x))) * 1e6)::BIGINT AS nu
        |  FROM embeddings),
        |tot AS (SELECT count(*)::BIGINT AS t FROM n)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |  count(*) * 1000000 // any_value(tot.t) AS share_ppm,
        |  CAST(sum(nu) AS BIGINT) // count(*) AS mean_norm_u
        |FROM n CROSS JOIN tot GROUP BY label""".stripMargin,

    "q291_hourly_heatmap" ->
      """SELECT event_type,
        |  (CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) % 86400) // 3600 AS hour,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q289_robust_stats" ->
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  round(any_value(m.med), 6) AS median_qty,
        |  round(quantile_cont(abs(l.l_quantity - m.med), 0.5), 6) AS mad,
        |  round(quantile_cont(l.l_quantity, 0.75) - quantile_cont(l.l_quantity, 0.25), 6) AS iqr
        |FROM lineitem l JOIN m USING (l_returnflag) GROUP BY 1""".stripMargin,

    // q287: md5-prefix pseudo-chunks; bigrams via the q267 list_transform
    "q287_novelty_curve" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |bl AS (SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS chunk,
        |         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bs
        |       FROM w WHERE len(w) >= 2),
        |bg AS (SELECT chunk, unnest(bs) AS g FROM bl),
        |pc AS (SELECT chunk, count(DISTINCT g)::BIGINT AS distinct_in_chunk
        |       FROM bg GROUP BY 1),
        |fs AS (SELECT g, min(chunk) AS chunk FROM bg GROUP BY 1),
        |nw AS (SELECT chunk, count(*)::BIGINT AS new_ngrams FROM fs GROUP BY 1)
        |SELECT pc.chunk, pc.distinct_in_chunk,
        |  coalesce(nw.new_ngrams, 0)::BIGINT AS new_ngrams,
        |  coalesce(nw.new_ngrams, 0) * 1000000 // pc.distinct_in_chunk AS novelty_ppm
        |FROM pc LEFT JOIN nw ON pc.chunk = nw.chunk""".stripMargin,

    // q286: q140's regex patterns, conditional fixture, per-source census
    "q286_pii_census" ->
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      trim(text) || ' contact user' || doc_id || '@example.com ip 10.'
        |      || (doc_id % 256) || '.0.1 call +1415' || (doc_id + 1000000)
        |    ELSE trim(text) END AS t
        |  FROM documents),
        |p AS (SELECT doc_id, source,
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
        |    len(regexp_extract_all(t, '\+\d{7,15}'))::BIGINT AS n_phone
        |  FROM d)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |  CAST(sum(n_email) AS BIGINT) AS emails,
        |  CAST(sum(n_ip) AS BIGINT) AS ips,
        |  CAST(sum(n_phone) AS BIGINT) AS phones,
        |  CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS pii_doc_ppm
        |FROM p GROUP BY 1""".stripMargin,

    // q285: the q256 banding CTEs aggregated into a per-band size census
    "q285_lsh_bucket_census" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cs AS (SELECT band, bk, count(*)::BIGINT AS sz FROM bk GROUP BY 1, 2)
        |SELECT band, sz, count(*)::BIGINT AS n_buckets FROM cs GROUP BY 1, 2""".stripMargin,

    "q283_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) // 604800 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    "q284_event_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // q282: the md5-stream prefix sums of the distributed sequence index,
    // aggregated per sequence — all-integer
    "q282_sequence_stats" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (SELECT * FROM d WHERE n_tok > 0),
        |r AS (SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM f),
        |x AS (SELECT (cum - n_tok) // 2048 AS seq_id, n_tok,
        |    cum - n_tok - ((cum - n_tok) // 2048) * 2048 + n_tok AS tok_end
        |  FROM r)
        |SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS toks_started,
        |  CAST(sum(CASE WHEN tok_end > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_split
        |FROM x GROUP BY 1""".stripMargin,

    // q281: q256's component machinery + per-pair ppm (round once, then
    // integer sums) — mean intra-cluster Jaccard per cluster
    "q281_cluster_cohesion" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b,
        |            round(round(len(list_intersect(a.tok, b.tok))::DOUBLE
        |              / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6)
        |              * 1e6)::BIGINT AS ppm
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |cs AS (SELECT cluster, count(*)::BIGINT AS n_docs FROM comp GROUP BY 1),
        |coh AS (SELECT c.cluster, count(*)::BIGINT AS n_pairs,
        |          sum(p.ppm)::BIGINT AS sum_ppm
        |        FROM pairs p JOIN comp c ON p.id_a = c.id
        |        GROUP BY 1)
        |SELECT cs.cluster, cs.n_docs, coh.n_pairs,
        |  coh.sum_ppm // coh.n_pairs AS mean_jaccard_ppm
        |FROM cs JOIN coh ON cs.cluster = coh.cluster""".stripMargin,

    "q257_cross_source_dups" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS MATERIALIZED (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5)
        |SELECT least(da.source, db.source) AS src_lo,
        |  greatest(da.source, db.source) AS src_hi,
        |  count(*) AS n_pairs
        |FROM pairs p JOIN documents da ON p.id_a = da.doc_id
        |             JOIN documents db ON p.id_b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // q255: clusters from the full-graph walk; representative rank =
    // row_number over md5 — the SAME total order the rowNumber stitch
    // produces, so fold assignment is engine-exact
    "q255_group_kfold" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |rep AS (SELECT d.doc_id, d.n_chars, coalesce(c.cluster, d.doc_id) AS rep_id
        |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |rk AS (SELECT rep_id, row_number() OVER (ORDER BY md5(rep_id::VARCHAR)) - 1 AS r
        |       FROM (SELECT DISTINCT rep_id FROM rep)),
        |f AS (SELECT rep.doc_id, rep.n_chars, rep.rep_id, rk.r % 5 AS fold
        |      FROM rep JOIN rk USING (rep_id))
        |SELECT fold, count(*) AS n_docs, count(DISTINCT rep_id) AS n_groups,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM f GROUP BY 1""".stripMargin,

    // q254: the peel is replayed as 5 unrolled rounds — measured
    // convergence is 2 rounds at every SF (1 peel + 1 confirm) and the
    // peel is idempotent at the fixed point, so the spare rounds are no-ops
    "q254_kcore" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS MATERIALIZED (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS MATERIALIZED (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS MATERIALIZED (SELECT unnest(range(0, 16)) AS s),
        |mh AS MATERIALIZED (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS MATERIALIZED (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS MATERIALIZED (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS MATERIALIZED (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5),
        |e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
        |       UNION SELECT id_b, id_a FROM pairs),
        |k1 AS MATERIALIZED (SELECT a FROM e0 GROUP BY a HAVING count(*) >= 2),
        |e1 AS MATERIALIZED (SELECT e.a, e.b FROM e0 e JOIN k1 x ON e.a = x.a JOIN k1 y ON e.b = y.a),
        |k2 AS MATERIALIZED (SELECT a FROM e1 GROUP BY a HAVING count(*) >= 2),
        |e2 AS MATERIALIZED (SELECT e.a, e.b FROM e1 e JOIN k2 x ON e.a = x.a JOIN k2 y ON e.b = y.a),
        |k3 AS MATERIALIZED (SELECT a FROM e2 GROUP BY a HAVING count(*) >= 2),
        |e3 AS MATERIALIZED (SELECT e.a, e.b FROM e2 e JOIN k3 x ON e.a = x.a JOIN k3 y ON e.b = y.a),
        |k4 AS MATERIALIZED (SELECT a FROM e3 GROUP BY a HAVING count(*) >= 2),
        |e4 AS MATERIALIZED (SELECT e.a, e.b FROM e3 e JOIN k4 x ON e.a = x.a JOIN k4 y ON e.b = y.a),
        |k5 AS MATERIALIZED (SELECT a FROM e4 GROUP BY a HAVING count(*) >= 2),
        |e5 AS MATERIALIZED (SELECT e.a, e.b FROM e4 e JOIN k5 x ON e.a = x.a JOIN k5 y ON e.b = y.a)
        |SELECT a AS doc_id, count(*) AS core_degree FROM e5 GROUP BY 1""".stripMargin,

    "q253_interval_coverage" ->
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
        |FROM g GROUP BY 1""".stripMargin,

    // q251: warm-start == full recompute — the oracle walks the COMPLETE
    // pair graph (old-self ∪ new-self ∪ cross = all full-corpus pairs,
    // since banding is per-doc deterministic)
    "q251_incremental_components" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |dropped AS (SELECT id FROM comp WHERE cluster <> id)
        |SELECT d.lang, count(*) AS n_after, CAST(sum(d.n_chars) AS BIGINT) AS chars_after
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
        |GROUP BY d.lang""".stripMargin,

    "q248_from_series" ->
      """WITH a AS (SELECT CAST(o_orderdate AS DATE) AS k, round(sum(o_totalprice), 4) AS f_total
        |           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |b AS (SELECT CAST(o_orderdate AS DATE) AS k, round(sum(o_totalprice), 4) AS o_total
        |      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |c AS (SELECT CAST(o_orderdate AS DATE) AS k, round(avg(o_totalprice), 6) AS avg_all
        |      FROM orders GROUP BY 1)
        |SELECT coalesce(a.k, b.k, c.k) AS k, a.f_total, b.o_total, c.avg_all
        |FROM a FULL JOIN b ON a.k = b.k
        |       FULL JOIN c ON coalesce(a.k, b.k) = c.k""".stripMargin,

    "q247_first_last" ->
      (dailySql +
        """
          |SELECT min(k) AS first_key, max(k) AS last_key,
          |  round(arg_min(v, k), 4) AS first_value,
          |  round(arg_max(v, k), 4) AS last_value
          |FROM daily""".stripMargin),

    "q246_trimmed_mean" ->
      """WITH b AS (SELECT source, n_chars AS v FROM documents),
        |e AS (SELECT source,
        |    CAST(quantile_cont(v * 4, 0.25) AS BIGINT) AS e10,
        |    CAST(quantile_cont(v * 4, 0.75) AS BIGINT) AS e90
        |  FROM b GROUP BY 1),
        |k AS (SELECT b.source, b.v FROM b JOIN e ON b.source = e.source
        |  WHERE b.v * 4 >= e.e10 AND b.v * 4 <= e.e90)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(v) // count(*) AS BIGINT) AS trimmed_mean
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q245_label_centroids" ->
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings),
        |c AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq FROM e GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(sum(CAST(a.sq AS HUGEINT) * b.sq) AS HUGEINT) AS dot,
        |    CAST(sum(CAST(a.sq AS HUGEINT) * a.sq) AS HUGEINT) AS na,
        |    CAST(sum(CAST(b.sq AS HUGEINT) * b.sq) AS HUGEINT) AS nb
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE (CASE WHEN dot < 0 THEN -1 ELSE 1 END)
        |      * CAST((dot * dot * 1000000) // (na * nb) AS BIGINT)
        |  END AS cos2_ppm
        |FROM p ORDER BY 1, 2""".stripMargin,

    "q244_hll_state" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
        |  CAST(1 AS BIGINT) AS within
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q243_bitmap_retention" ->
      """WITH dom AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u
        |  FROM events WHERE user_id IS NOT NULL),
        |cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM dom GROUP BY 1),
        |x AS (SELECT a.d AS da, b.d AS db, CAST(count(*) AS BIGINT) AS nb
        |  FROM dom a JOIN dom b ON a.u = b.u AND a.d < b.d GROUP BY 1, 2)
        |SELECT x.da AS day_a, x.db AS day_b, ca.c AS n_a, cb.c AS n_b,
        |  x.nb AS n_both
        |FROM x JOIN cnt ca ON x.da = ca.d JOIN cnt cb ON x.db = cb.d
        |ORDER BY 1, 2""".stripMargin,

    "q240_bounce_rates" ->
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
        |FROM agg ORDER BY 1""".stripMargin
  )
}
