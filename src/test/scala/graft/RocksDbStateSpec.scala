package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** `spark.graft.streaming.stateStore=rocksdb` must route streaming state to
  * the embedded RocksDB provider (the 100 TB answer to unbounded-key on-heap
  * state) without changing ANY result: same rows, same watermark semantics,
  * for both the built-in stateful operators (dropDuplicates, streaming agg)
  * and arbitrary state (mapGroupsWithState). */
class RocksDbStateSpec extends SparkSpecBase {

  import spark.implicits._

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val toggleKey = "spark.graft.streaming.stateStore"

  private def withToggle[A](value: Option[String])(body: => A): A = {
    val before = spark.conf.getOption(toggleKey)
    value match {
      case Some(v) => spark.conf.set(toggleKey, v)
      case None => spark.conf.unset(toggleKey)
    }
    try body
    finally before match {
      case Some(v) => spark.conf.set(toggleKey, v)
      case None => spark.conf.unset(toggleKey)
    }
  }

  private def stageEvents(rows: Seq[(java.sql.Timestamp, String, Double, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rocksdb_spec").toString
    val events = rows.toDF("ts", "event_type", "value", "user_id")
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/_out")
    val part = new java.io.File(s"$dir/_out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("toggle wires the RocksDB provider class into the child session only") {
    withToggle(Some("rocksdb")) {
      val child = Streams.isolatedStreamSession(spark)
      assert(child.conf.get(providerKey) === rocksProvider)
      assert(child.conf.get(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "true")
      // the CALLER's session must keep the default (in-memory) provider —
      // the toggle is for the verification streams, not a global mutation
      assert(spark.conf.getOption(providerKey).forall(_ != rocksProvider))
    }
    withToggle(None) {
      val child = Streams.isolatedStreamSession(spark)
      assert(child.conf.getOption(providerKey).forall(_ != rocksProvider))
    }
  }

  test("mapGroupsWithState totals identical under RocksDB state store") {
    val base = 1700000000000L
    val rows = (0 until 300).map { i =>
      (new java.sql.Timestamp(base + i * 61000L), "e", (i % 11).toDouble, i.toLong % 7)
    }
    val dir = stageEvents(rows)
    def run(): Set[(Long, Long, Double)] =
      Streams.statefulUserTotals(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = withToggle(None)(run())
    val rocks = withToggle(Some("rocksdb"))(run())
    assert(rocks === mem)
    assert(rocks.nonEmpty)
    // and against the batch oracle, not just each other
    val batch = rows.groupBy(_._4).map { case (u, rs) =>
      (u, rs.size.toLong,
        math.round(rs.map(_._3).sum * 10000.0) / 10000.0)
    }.toSet
    assert(rocks === batch)
  }

  test("streaming dedup + windowed agg identical under RocksDB state store") {
    val base = 1700000000000L
    // duplicated event ids via repeated (ts, type, value, user) rows — the
    // at-least-once shape dropDuplicates state guards against
    val rows = (0 until 200).flatMap { i =>
      val r = (new java.sql.Timestamp(base + i * 61000L),
        if (i % 3 == 0) "click" else "view", (i % 5).toDouble, i.toLong % 4)
      if (i % 10 == 0) Seq(r, r) else Seq(r)
    }
    val dir = stageEvents(rows)
    def run(): Set[(String, Long, Double)] =
      Streams.dedupedTypeTotals(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = withToggle(None)(run())
    val rocks = withToggle(Some("rocksdb"))(run())
    assert(rocks === mem)
    assert(rocks.nonEmpty)
  }

  test("RocksDB-forced ops return frames rooted in the caller's session") {
    val base = 1700000000000L
    val rows = (0 until 120).map { i =>
      (new java.sql.Timestamp(base + i * 61000L), "e", (i % 7).toDouble, i.toLong % 3)
    }
    val dir = stageEvents(rows)
    val frames = Seq(
      Streams.statefulUserTotalsRocksDb(spark, dir),
      Streams.sessionCountsRocksDb(spark, dir, "30 minutes"),
      Streams.tumblingByTypeRocksDb(spark, dir, "1 hour"))
    frames.foreach(df => assert(df.sparkSession eq spark))
    assert(frames.head.count() === 3L)
  }
}
