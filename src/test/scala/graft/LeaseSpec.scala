package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dedup
import graft.sources.MaintenanceLease

/** Advisory maintenance lease (r15 verdict #5): append/compact on a
  * published index WAIT for the current writer instead of aborting into
  * the staged-commit guards; a crashed holder's lease expires and the
  * next writer takes over. The guards remain the correctness backstop
  * (StagedAppendSpec drives them with the lease bypassed). */
class LeaseSpec extends SparkSpecBase {

  private def leaseFile(table: String) =
    new java.io.File(s"/tmp/graft_warehouse/${table.toLowerCase}__lease")

  private def writeLease(table: String, owner: String, expiryMs: Long): Unit = {
    val f = leaseFile(table)
    val w = new java.io.FileOutputStream(f)
    try w.write(s"$owner|$expiryMs".getBytes("UTF-8")) finally w.close()
  }

  private def lshDocs: DataFrame = {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy cat tonight",
      "pack my box with five dozen liquor jugs right now",
      "sphinx of black quartz judge my vow completely today",
      "how vexingly quick daft zebras jump over fences")
    spark.createDataFrame(
      java.util.Arrays.asList((0L until 20L).map(i =>
        Row(i, texts((i % texts.size).toInt) + s" tail${i % 7}")): _*),
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
  }

  private def dropAll(prefix: String): Unit = dropIndex(prefix)

  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.lease.waitMs")
    spark.conf.unset("spark.graft.lease.ttlMs")
    super.afterAll()
  }

  test("withLease: sequential acquire/release; body failure releases; nesting on distinct tables") {
    leaseFile("graft_ls_t1").delete()
    var ran = 0
    MaintenanceLease.withLease(spark, "graft_ls_t1") { ran += 1 }
    assert(!leaseFile("graft_ls_t1").exists(), "lease not released after body")
    MaintenanceLease.withLease(spark, "graft_ls_t1") { ran += 1 }
    assert(ran === 2)
    intercept[RuntimeException] {
      MaintenanceLease.withLease(spark, "graft_ls_t1") { throw new RuntimeException("boom") }
    }
    assert(!leaseFile("graft_ls_t1").exists(), "lease leaked after a failed body")
  }

  test("a held, unexpired lease makes the second writer wait; bounded wait fails LOUDLY naming the holder") {
    leaseFile("graft_ls_t2").delete()
    writeLease("graft_ls_t2", "other-writer", System.currentTimeMillis() + 3600000L)
    spark.conf.set("spark.graft.lease.waitMs", "400")
    val e = intercept[IllegalStateException] {
      MaintenanceLease.withLease(spark, "graft_ls_t2") { fail("body must not run") }
    }
    assert(e.getMessage.contains("other-writer"), s"holder not named: ${e.getMessage}")
    assert(e.getMessage.contains("single-writer"))
    // the foreign lease is left intact — we never steal an unexpired lease
    assert(leaseFile("graft_ls_t2").exists())
    leaseFile("graft_ls_t2").delete()
    spark.conf.unset("spark.graft.lease.waitMs")
  }

  test("a held lease is WAITED OUT: release mid-wait lets the second writer proceed") {
    leaseFile("graft_ls_t3").delete()
    writeLease("graft_ls_t3", "other-writer", System.currentTimeMillis() + 3600000L)
    spark.conf.set("spark.graft.lease.waitMs", "10000")
    // release the foreign lease shortly after the waiter starts polling
    val releaser = new Thread(() => { Thread.sleep(600); leaseFile("graft_ls_t3").delete() })
    releaser.start()
    var ran = false
    MaintenanceLease.withLease(spark, "graft_ls_t3") { ran = true }
    releaser.join()
    assert(ran, "waiter did not proceed after the holder released")
    spark.conf.unset("spark.graft.lease.waitMs")
  }

  test("TTL overrun: a holder whose body outlives the TTL never deletes the successor's lease (r16 verdict #3 done-criterion)") {
    leaseFile("graft_ls_t4").delete()
    spark.conf.set("spark.graft.lease.ttlMs", "1")
    try {
      MaintenanceLease.withLease(spark, "graft_ls_t4") {
        // our 1 ms lease expires immediately; a successor legally takes
        // over mid-body (the documented body>TTL guard-only degradation)
        Thread.sleep(10)
        writeLease("graft_ls_t4", "successor-writer",
          System.currentTimeMillis() + 3600000L)
      }
    } finally spark.conf.unset("spark.graft.lease.ttlMs")
    // the stale holder's release must leave the successor's unexpired,
    // foreign lease intact — a bare owner-read-then-delete would race it
    val f = leaseFile("graft_ls_t4")
    assert(f.exists(), "stale holder deleted the successor's lease on release")
    val content = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(content.startsWith("successor-writer|"),
      s"successor's lease was replaced: $content")
    f.delete()
  }

  test("TTL overrun without a successor: the expired own-lease is left for takeover and never blocks the next writer") {
    leaseFile("graft_ls_t5").delete()
    spark.conf.set("spark.graft.lease.ttlMs", "1")
    try MaintenanceLease.withLease(spark, "graft_ls_t5") { Thread.sleep(10) }
    finally spark.conf.unset("spark.graft.lease.ttlMs")
    // ours-but-expired is NOT deleted (a successor's takeover may be
    // in flight between our read and our delete) — left for TTL takeover
    assert(leaseFile("graft_ls_t5").exists(),
      "expired own-lease should be left for the next writer's takeover")
    var ran = false
    MaintenanceLease.withLease(spark, "graft_ls_t5") { ran = true }
    assert(ran, "expired leftover blocked the next writer")
    assert(!leaseFile("graft_ls_t5").exists())
  }

  test("bounded wait fires even when the lease file is unreadable on every poll (r16 advice: unconditional deadline)") {
    // a DIRECTORY at the lease path makes create-exclusive fail AND
    // readLease return None forever — the exact branch the old
    // branch-gated deadline never reached (it would spin past waitMs)
    val f = leaseFile("graft_ls_t6")
    f.delete(); assert(f.mkdir(), "fixture dir not created")
    spark.conf.set("spark.graft.lease.waitMs", "400")
    try {
      val t0 = System.currentTimeMillis()
      val e = intercept[IllegalStateException] {
        MaintenanceLease.withLease(spark, "graft_ls_t6") { fail("body must not run") }
      }
      assert(System.currentTimeMillis() - t0 >= 400,
        "deadline fired before waitMs elapsed")
      assert(e.getMessage.contains("waited"), s"wrong failure: ${e.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.lease.waitMs")
      f.delete()
    }
  }

  test("expired-lease TAKEOVER: two sequential appends succeed across a dead writer's stale lease (r15 verdict #5 done-criterion)") {
    val docs = lshDocs
    dropAll("graft_ls_idx"); dropAll("graft_ls_ctl")
    Dedup.publishLshIndex(docs.where(col("doc_id") % 4 === 1), "doc_id", "text",
      "graft_ls_idx", buckets = 2, corpusFp = "A")
    // a writer that DIED mid-maintenance leaves its lease file behind;
    // the TTL makes it stale and the next append takes over silently
    writeLease("graft_ls_idx", "dead-writer", System.currentTimeMillis() - 1L)
    Dedup.appendLshIndex(docs.where(col("doc_id") % 4 === 2), "doc_id", "text",
      "graft_ls_idx", "AB")
    assert(!leaseFile("graft_ls_idx").exists(), "takeover lease not released")
    // and the lease cycle is re-entrant: a second append right after
    Dedup.appendLshIndex(docs.where(col("doc_id") % 4 === 3), "doc_id", "text",
      "graft_ls_idx", "ABC")
    Dedup.assertLshIndexConsistent(spark, "graft_ls_idx", strict = true)
    // the leased appends commit exactly what an unleased sequence would
    Dedup.publishLshIndex(docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text",
      "graft_ls_ctl", buckets = 2, corpusFp = "ABC")
    val incoming = docs.where(col("doc_id") < 4)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(tbl: String, fp: String) =
      Dedup.probeLshIndex(spark, incoming, "doc_id", "text", tbl,
        threshold = 0.3, corpusFp = fp).collect().map(_.toSeq).toSet
    assert(probe("graft_ls_idx", "ABC") === probe("graft_ls_ctl", "ABC"))
    dropAll("graft_ls_idx"); dropAll("graft_ls_ctl")
  }
}
