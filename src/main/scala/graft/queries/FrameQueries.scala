package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.queries.QueryKit._
import graft.sources.{Bucketing, Csv, Partitioned}

/** Frame surface: filter/project, sort, joins, grouping and pivots,
  * hierarchical keys, frame arithmetic, file sources and sinks (CSV, JSONL,
  * ORC, XML, binary layouts) and table layouts (bucketing, partitioning,
  * targeted deletes and upserts). */
object FrameQueries extends QueryFamily {

  // ---- §2.5 aggregation: groupBy + missing-skipping aggregates ----
  Q("q01_group_agg", oracle =
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity),4) AS sum_qty,
        |round(sum(l_extendedprice),4) AS sum_base_price,
        |round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        |round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),4) AS sum_charge,
        |round(avg(l_quantity),6) AS avg_qty,
        |round(avg(l_extendedprice),6) AS avg_price,
        |round(avg(l_discount),6) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.2 filter + projection (Where/Select; pushdown-friendly) ----
  Q("q02_filter_project", oracle =
      """SELECT l_orderkey, l_linenumber,
        |round(l_extendedprice*(1-l_discount),4) AS revenue
        |FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_quantity") > 30 && col("l_discount") < 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
  }

  // ---- §2.3 sort + limit (takeLast/maxRowBy family) ----
  Q("q03_sort_limit", oracle =
      """SELECT o_orderkey, round(o_totalprice,4) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  // ---- §2.4 inner equi-join (frame.Join Inner) ----
  Q("q04_join_inner", oracle =
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("total"))
  }

  // ---- §2.4 multi-join with broadcast dims ----
  Q("q05_join_multi", oracle =
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.2 scan-level predicate pushdown (TPC-H Q6 shape) ----
  Q("q06_scan_agg", oracle =
      """SELECT round(sum(l_extendedprice*l_discount),4) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount >= 0.02 AND l_discount <= 0.08""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_quantity") < 24 && col("l_discount") >= 0.02 && col("l_discount") <= 0.08)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
  }

  // ---- §2.4 left join keeping unmatched (JoinKind.Left) ----
  Q("q07_join_left", oracle =
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |round(coalesce(sum(o_totalprice),0),4) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 4).as("total"))
  }

  // ---- §2.4 Append (disjoint concatenation) ----
  Q("q09_append", oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),4) AS sum_qty
        |FROM (SELECT * FROM lineitem WHERE l_returnflag = 'R'
        |      UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'A')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val fa = KFrame(li.where(col("l_returnflag") === "R"), Seq("l_orderkey"))
      val fb = KFrame(li.where(col("l_returnflag") === "A"), Seq("l_orderkey"))
      fa.append(fb).df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
  }

  // ---- §2.5 grouped stats incl. sample sdv + exact median ----
  Q("q10_group_stats", oracle =
      """SELECT l_returnflag,
        |round(stddev_samp(l_quantity),6) AS sdv,
        |round(var_samp(l_quantity),6) AS variance,
        |round(min(l_quantity),4) AS min_qty,
        |round(max(l_quantity),4) AS max_qty,
        |round(quantile_cont(l_quantity, 0.5),6) AS median_qty,
        |round(avg(l_quantity),6) AS mean_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sdv"),
          round(var_samp(col("l_quantity")), 6).as("variance"),
          round(min(col("l_quantity")), 4).as("min_qty"),
          round(max(col("l_quantity")), 4).as("max_qty"),
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("median_qty"),
          round(avg(col("l_quantity")), 6).as("mean_qty"))
  }

  // ---- §2.1 FromValues / pivot ----
  Q("q11_pivot", oracle =
      """SELECT l_returnflag,
        |round(sum(CASE WHEN l_linestatus='F' THEN l_quantity END),4) AS F,
        |round(sum(CASE WHEN l_linestatus='O' THEN l_quantity END),4) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 4))
        .select(col("l_returnflag"), col("F"), col("O"))
  }

  // ---- §2.5 frame-level per-column stats melted to a series ----
  Q("q25_frame_stats", oracle =
      """SELECT 'l_partkey' AS "column", round(avg(l_partkey),6) AS value FROM lineitem
        |UNION ALL SELECT 'l_suppkey', round(avg(l_suppkey),6) FROM lineitem
        |UNION ALL SELECT 'l_quantity', round(avg(l_quantity),6) FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', round(avg(l_extendedprice),6) FROM lineitem
        |UNION ALL SELECT 'l_discount', round(avg(l_discount),6) FROM lineitem
        |UNION ALL SELECT 'l_tax', round(avg(l_tax),6) FROM lineitem""".stripMargin) { (s, dir) =>
      KFrame(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .colStats(c => avg(col(c)))
        .select(col("column"), round(col("value"), 6).as("value"))
  }

  // ---- §2.3 maxRowBy per group (arg-max) ----
  Q("q26_topk_group", oracle =
      """WITH j AS (
        |SELECT c_mktsegment, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY c_mktsegment
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, rn, o_orderkey, round(o_totalprice,4) AS o_totalprice
        |FROM j WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      j.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  // ---- additive: rollup (absent in reference; free in Spark, §2.5) ----
  Q("q27_rollup", oracle =
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
  }

  // ---- additive: distinct (dropDuplicates) ----
  Q("q28_distinct", oracle =
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
  }

  // ---- §2.9 frame⊙scalar arithmetic: numeric cols only ----
  Q("q32_frame_arith", oracle =
      """WITH f AS (SELECT l_returnflag, l_quantity*2.0 AS q2, l_discount*2.0 AS d2 FROM lineitem)
        |SELECT l_returnflag, round(sum(q2),4) AS sum_qty2, round(sum(d2),4) AS sum_disc2
        |FROM f GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val f = KFrame(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
      (f * 2.0).df
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty2"),
          round(sum(col("l_discount")), 4).as("sum_disc2"))
  }

  // ---- §2.8 GroupRowsBy: 2-level key hierarchical aggregation ----
  Q("q33_multilevel", oracle =
      """SELECT o_orderstatus, date_trunc('month', o_orderdate)::DATE AS month,
        |count(*) AS n, round(sum(o_totalprice),4) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), trunc(col("o_orderdate"), "month").cast("date").as("month"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
  }

  // ---- §2.1 CSV source/sink round-trip (ReadCsv/SaveCsv) ----
  Q("q50_csv_roundtrip", oracle =
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = s"/tmp/graft_csv_${java.util.UUID.randomUUID().toString.take(8)}"
      t(s, dir, "customer").write.mode("overwrite")
        .option("header", "true").csv(tmp)
      s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
  }

  // ---- operations at scale: TARGETED DELETE (right-to-be-forgotten) —
  //      purge one user cohort from a Hive-partitioned layout; only
  //      partitions containing matches rewrite (dynamic overwrite),
  //      the rest stay byte-identical; census of the survivors ----
  Q("q182_targeted_delete", oracle =
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
        |count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 100 != 7
        |GROUP BY 1""".stripMargin) { (s, dir) =>
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
  }

  // ---- operations at scale: targeted MERGE/upsert over a partitioned
  //      layout — the incremental-corpus refresh: value updates, key
  //      MOVES across partitions (date+1) and brand-new inserts in one
  //      batch; only touched partitions rewrite; census verified
  //      against the SQL merge semantics (fixed-point value sums) ----
  Q("q185_partition_upsert", oracle =
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
        |FROM final GROUP BY 1""".stripMargin) { (s, dir) =>
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
  }

  // ---- sources: COMPACTED write — the small-files answer: the orders
  //      slice rewrites as exactly ceil(rows/5000) range-partitioned
  //      files (contiguous key ranges → footer-stat file skipping);
  //      read-back hash-checked, file-count law in CompactionSpec ----
  Q("q176_compacted_write", oracle =
      "SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice FROM orders") { (s, dir) =>
      val out = s"/tmp/graft_warehouse/compact_rt_${math.abs(dir.hashCode)}"
      val slice = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
      graft.sources.Compaction.writeRowBounded(slice, out, "o_orderkey", 5000L)
      s.read.schema(slice.schema).parquet(out)
  }

  // ---- sources: ORC round-trip — write the dimension slice as ORC
  //      (Spark's second columnar format, zlib-compressed), read it back
  //      with an explicit schema; hash-checked against the parquet
  //      oracle, certifying the format round-trip preserves values ----
  Q("q174_orc_roundtrip", oracle =
      "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
      val out = s"/tmp/graft_warehouse/orc_rt_${math.abs(dir.hashCode)}"
      val slice = t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      slice.write.mode("overwrite").orc(out)
      s.read.schema(slice.schema).orc(out)
  }

  // ---- sources: CORRUPT-TOLERANT JSONL ingestion — crawl feeds carry
  //      malformed lines; PERMISSIVE mode + columnNameOfCorruptRecord
  //      must neither die NOR silently drop them. Fixture: docs < 190
  //      serialize cleanly, docs 190-199 become truncated JSON; the
  //      per-lang census counts good vs quarantined rows and the good
  //      rows' checksum proves no cross-contamination ----
  Q("q189_corrupt_ingest", oracle =
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars_good
        |FROM documents WHERE doc_id < 190 GROUP BY 1
        |UNION ALL
        |SELECT '__corrupt', count(*), 0 FROM documents
        |WHERE doc_id >= 190 AND doc_id < 200""".stripMargin) { (s, dir) =>
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
  }

  // ---- sources: XML round-trip (native in Spark 4 — spark-xml merged
  //      upstream): free-text through writer escaping (&, <, quotes) and
  //      back; the oracle hash-compares the TEXT column raw, so any
  //      escaping corruption flips the hash. XML cannot represent an
  //      empty element distinctly from null — canonicalize back to ''
  //      on read (the one documented lossy corner of the format) ----
  Q("q187_xml_roundtrip", oracle =
      "SELECT doc_id, lang, text FROM documents WHERE doc_id < 200") { (s, dir) =>
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
  }

  // ---- sources: SCHEMA EVOLUTION — two parquet batches with different
  //      schemas (a column added mid-stream, the crawl-ingest reality)
  //      read back as one frame via mergeSchema; early rows surface the
  //      missing column as NULL ----
  Q("q175_schema_merge", oracle =
      """SELECT n_nationkey, n_name,
        |CASE WHEN n_nationkey >= 13 THEN n_regionkey ELSE NULL END AS n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.8 transpose (melt + pivot) ----
  Q("q61_transpose", oracle =
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
        |  max(CASE WHEN f='R' THEN n END) FROM a""".stripMargin) { (s, dir) =>
      val agg = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"),
          count(lit(1)).cast("double").as("n"))
      KFrame(agg, Seq("l_returnflag")).transpose(Seq("A", "N", "R")).df
  }

  // ---- §2.8 hierarchical key level lookup (GetByLevel / Lookup1Of2) ----
  Q("q62_level_lookup", oracle =
      """SELECT date_trunc('month', o_orderdate)::DATE AS month,
        |round(sum(o_totalprice),4) AS total
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1""".stripMargin) { (s, dir) =>
      // 2-level row key (status, month); fix level 1 = 'F', aggregate level 2
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"),
          trunc(col("o_orderdate"), "month").cast("date").as("month"))
        .agg(sum(col("o_totalprice")).as("total"))
        .where(col("o_orderstatus") === "F")
        .select(col("month"), round(col("total"), 4).as("total"))
  }

  // ---- additive: cube (absent in reference; free in Spark) ----
  Q("q67_cube", oracle =
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
  }

  // ---- §2.1 CSV with custom separator + explicit schema override ----
  Q("q69_csv_tsv", oracle =
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = s"/tmp/graft_tsv_${java.util.UUID.randomUUID().toString.take(8)}"
      t(s, dir, "customer").write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(tmp)
      val schema = t(s, dir, "customer").schema // explicit schema, no inference
      s.read.option("header", "true").option("sep", "\t").schema(schema).csv(tmp)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
  }

  // ---- §2.6 Frame.window: sliding windows of whole rows (all columns) ----
  Q("q79_frame_window", oracle =
      """WITH f AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS total,
        |           count(*) AS n FROM orders GROUP BY 1),
        |w AS (SELECT k,
        |round(avg(total) OVER win, 4) AS mavg_total,
        |round(avg(n) OVER win, 6) AS mavg_n,
        |count(*) OVER win AS wsize
        |FROM f WINDOW win AS (ORDER BY k ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT k, mavg_total, mavg_n FROM w WHERE wsize = 5""".stripMargin) { (s, dir) =>
      val f = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("k")).rowsBetween(-4, 0)
      f.select(col("k"),
        round(avg(col("total")).over(w), 4).as("mavg_total"),
        round(avg(col("n")).over(w), 6).as("mavg_n"),
        count(lit(1)).over(w).as("wsize"))
        .where(col("wsize") === 5).drop("wsize")
  }

  // ---- additive: Hive-partitioned layout + partition pruning — a
  //      date-ranged query over the partitionBy(event_date) layout lists
  //      only the 3 matching day-directories (PartitionFilters on the
  //      scan; the other 27 days' files are never opened) ----
  Q("q144_partition_prune", oracle =
      """SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
        |round(sum(value), 4) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-12'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val path = partitionedEventsPath(s, dir)
      Partitioned.ensurePartitionedDir(
        t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        path, "event_date")
      s.read.parquet(path)
        .where(col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
  }

  // ---- additive: bucketed co-located join (no exchange on either side) ----
  Q("q82_bucketed_join", oracle =
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
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
  }

  // ---- semi-structured: JSON metadata extraction (events.props) ----
  Q("q87_json_extract", oracle =
      """SELECT event_type, count(pk) AS n, round(avg(pk),6) AS avg_k, max(pk) AS max_k
        |FROM (SELECT event_type, (props->>'k')::BIGINT AS pk FROM events)
        |GROUP BY event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("pk"))
        .groupBy(col("event_type"))
        .agg(count(col("pk")).as("n"),
          round(avg(col("pk")), 6).as("avg_k"),
          max(col("pk")).as("max_k"))
  }

  // ---- §2.4 Frame.zipAlign: daily totals ÷ monthly average, as-of ----
  Q("q91_zip_align", oracle =
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
        |FROM df""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.1 additive JSONL source (the lingua franca of training-data
  //      interchange): write-read round-trip with explicit schema ----
  Q("q99_jsonl_roundtrip", oracle =
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.1 CSV culture round-trip: de-DE comma decimals + ';' separator
  //      (reference FrameExtensions.fs:45-78; its test Frame.fs:32-49 is
  //      exactly this custom-separator-plus-culture loop) ----
  Q("q93_csv_culture", oracle =
      """SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.8 3-level hierarchical key: stacked groupRowsBy + SimpleLookup
  //      level slice + getRowLevel (reference MultiKey.fs:10-175) ----
  Q("q92_level3_slice", oracle =
      """SELECT year(o_orderdate) AS yr, o_orderstatus AS st,
        |count(*) AS n, round(sum(o_totalprice),4) AS total
        |FROM orders WHERE month(o_orderdate) = 6
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
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
  }

  // ---- §2.5 unstack (split by key level = pivot) + stack back ----
  Q("q70_unstack_stack", oracle =
      """SELECT date_trunc('month', o_orderdate)::DATE AS month, o_orderstatus,
        |round(sum(o_totalprice),4) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin) { (s, dir) =>
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
  }

  // ---- plans: NATIVE jaro_winkler Catalyst expression (doGenCode →
  //      one static call inside whole-stage codegen; third member of
  //      the dot_f32/norm2_f32 family) — fuzzy part-name pairs within
  //      noun blocks on the DISTINCT-name domain, hash-checked against
  //      DuckDB's jaro_winkler_similarity at 6 dp ----
  Q("q238_jaro_winkler", oracle =
      """WITH n AS (SELECT DISTINCT p_name AS name,
        |    split_part(p_name, ' ', 2) AS noun FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw6
        |FROM n a JOIN n b ON a.noun = b.noun AND a.name < b.name
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.5
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
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
  }

  // ---- multi-granularity rollup via GROUPING SETS — day, (type, day),
  //      ISO week and grand total in ONE pass (one shuffle with a
  //      grouping-id expand, not four scans); the report-cube shape ----
  Q("q242_grouping_sets", oracle =
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
        |ORDER BY gid, event_type, day, wk""".stripMargin) { (s, dir) =>
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
  }
}
