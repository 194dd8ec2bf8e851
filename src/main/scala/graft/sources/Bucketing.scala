package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side crash points for the staged-commit index seams: a spec sets
  * `failAt` to a named point and the next maintenance call dies EXACTLY
  * there, so the crash-ordering contract (uncommitted epochs are invisible
  * to probes) is provable without killing the JVM. Never set in
  * production; the points cost one volatile read each. */
object Faults {
  @volatile var failAt: String = null
  /** Run `action` ONCE when execution reaches crash point `actAt` — the
    * deterministic-interleaving hook: a spec simulates a CONCURRENT writer
    * by scheduling its maintenance call at a named point inside the victim
    * writer's own sequence (e.g. a racing allocator firing between the
    * victim's ALLOCATE and its stage writes). Cleared before running so the
    * simulated writer's own crash points never recurse. */
  @volatile var actAt: String = null
  @volatile var action: Runnable = null
  def point(name: String): Unit = {
    if (actAt == name) {
      actAt = null
      val a = action
      action = null
      if (a != null) a.run()
    }
    if (failAt == name)
      throw new RuntimeException(s"injected fault at crash point '$name'")
  }

  /** Run `body` with crash point `name` armed (always disarmed after) and
    * require that the fault fired — the torn-maintenance step of the
    * fault-injection oracle queries. */
  def tearAt(name: String)(body: => Unit): Unit = {
    failAt = name
    val torn =
      try { body; false }
      catch { case e: RuntimeException if e.getMessage.contains("injected") => true }
      finally failAt = null
    require(torn, s"the crash injection at '$name' did not fire")
  }
}

/** Advisory maintenance LEASE for append/compact on published indexes
  * (r15 verdict #5): the staged-commit guards (allocator collision,
  * pre-commit re-read) are correct but force the LOSER of a race to abort
  * and retry manually; a lease lets a second writer WAIT for the window
  * instead. One tiny file per index under the warehouse dir
  * (`<table>__lease`, contents `owner|expiryMs`), acquired with
  * create-exclusive (atomic on HDFS; best-effort on object stores — which
  * is why this is ADVISORY and the in-protocol guards remain the
  * correctness backstop; a lease failure can delay maintenance, never
  * corrupt it). A crashed holder's lease expires after
  * `spark.graft.lease.ttlMs` (default 10 min) and the next writer takes
  * over by deleting the stale file. Bounded wait
  * (`spark.graft.lease.waitMs`, default 60 s) then a LOUD failure naming
  * the holder. `spark.graft.lease.enabled=false` bypasses the lease
  * entirely — a TEST hook so the race specs can still drive two writers
  * into the guards; leave it on in production.
  *
  * TTL-OVERRUN HAZARD (document, don't mask): the lease is NOT renewed
  * while `body` runs, so a maintenance job longer than `ttlMs` silently
  * loses exclusivity mid-run — a TTL takeover hands the window to the
  * next writer and the overrunning job degrades to guard-only mode (the
  * staged-commit guards abort any actual overlap loudly; nothing
  * corrupts, but the job may lose the race it thought it owned). Size
  * `spark.graft.lease.ttlMs` to comfortably exceed the longest
  * append/compact on the index (default 10 min). On release the holder
  * deletes the file only when it is provably still its OWN and UNEXPIRED
  * — a stale holder returning after a takeover must not delete the
  * successor's fresh lease; an expired own-lease is simply left for the
  * next writer's TTL takeover. */
object MaintenanceLease {
  private def leasePath(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + table.toLowerCase + "__lease")

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[(String, Long)] =
    try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val Array(owner, exp) = s.split('|')
      Some((owner, exp.toLong))
    } catch { case _: Exception => None } // vanished or torn mid-write: retry

  private def tryCreate(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, owner: String, ttlMs: Long): Boolean =
    try {
      val out = fs.create(p, false) // create-exclusive: the acquire point
      try out.write(s"$owner|${System.currentTimeMillis() + ttlMs}".getBytes("UTF-8"))
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  /** Drop any lease on `table` unconditionally — for PUBLISH paths only:
    * publishing drops and recreates the index's tables, which already
    * asserts ownership of the index name, and clearing a dead writer's
    * stale (still-unexpired) lease there keeps a republish from stalling
    * behind a JVM that was hard-killed mid-maintenance. Never call this
    * from append/compact — they must respect a live holder. */
  def clear(spark: SparkSession, table: String): Unit = {
    val p = leasePath(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Run `body` holding `table`'s maintenance lease (blocking, bounded). */
  def withLease[T](spark: SparkSession, table: String)(body: => T): T = {
    if (!spark.conf.get("spark.graft.lease.enabled", "true").toBoolean)
      return body
    val ttlMs = spark.conf.get("spark.graft.lease.ttlMs", "600000").toLong
    val waitMs = spark.conf.get("spark.graft.lease.waitMs", "60000").toLong
    val owner = java.util.UUID.randomUUID().toString
    val p = leasePath(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.currentTimeMillis() + waitMs
    val t0 = System.currentTimeMillis()
    var acquired = tryCreate(fs, p, owner, ttlMs)
    if (!acquired)
      System.err.println(s"[lease-wait] '$table' contended at acquire")
    while (!acquired) {
      // the deadline fires UNCONDITIONALLY (r16 advice): under churn the
      // lease file can vanish/expire on every read (readLease None, or a
      // chain of expired holders) and a branch-gated check would loop past
      // waitMs forever without the promised loud failure
      if (System.currentTimeMillis() > deadline) {
        val holder = readLease(fs, p)
          .map { case (h, exp) => s"held by $h until $exp" }
          .getOrElse("contended (holder unreadable — churning or torn)")
        throw new IllegalStateException(
          s"maintenance lease on '$table' is $holder — " +
            "index maintenance is single-writer; waited " +
            s"${waitMs}ms (spark.graft.lease.waitMs), retry after the " +
            "holder commits or its lease expires")
      }
      readLease(fs, p) match {
        case Some((_, exp)) if exp < System.currentTimeMillis() =>
          // expired: takeover (losers of the delete race just fail the
          // next create-exclusive and loop)
          fs.delete(p, false)
        case _ => Thread.sleep(200)
      }
      acquired = tryCreate(fs, p, owner, ttlMs)
    }
    locally {
      val waited = System.currentTimeMillis() - t0
      if (waited > 500)
        System.err.println(s"[lease-wait] '$table' acquired after ${waited}ms")
    }
    try body
    finally {
      // release only a lease that is provably still OURS and UNEXPIRED: a
      // body that outran the TTL may have been taken over, and deleting on
      // a bare owner-match races the successor's create (read our file,
      // successor swaps in, we delete THEIRS). An unexpired own-lease
      // cannot be legally taken over between the read and the delete; an
      // expired one is left for the next writer's TTL takeover.
      readLease(fs, p) match {
        case Some((o, exp)) if o == owner && exp > System.currentTimeMillis() =>
          fs.delete(p, false)
        case _ => // replaced by a successor, or ours-but-expired: leave it
      }
    }
  }
}

/** Bucketed tables: pre-shuffle co-location so repeated joins/aggregations
  * on the same key run with NO exchange — the standard way to amortize the
  * big-fact-join shuffle at 100 TB (write once bucketed by the join key;
  * every later join on that key is exchange-free).
  *
  * The reference has no storage layer at all (in-memory arrays); this is
  * part of the additive Spark-native surface, SURVEY §2.1.
  */
object Bucketing {

  private[sources] def managedDir(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + table.toLowerCase)

  private[sources] def hadoopFs(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Save `df` as a bucketed managed table (overwriting), bucketed+sorted by
    * `keyCol` into `buckets` files per partition. */
  def saveBucketed(df: DataFrame, table: String, keyCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // the in-memory catalog is per-session but the managed location isn't:
    // drop both the entry and any orphaned directory from a prior session,
    // which would collide with `saveAsTable`
    spark.sql(s"DROP TABLE IF EXISTS $table")
    hadoopFs(spark).delete(managedDir(spark, table), true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet") // managed: lives under spark.sql.warehouse.dir
      .saveAsTable(table)
  }

  /** [[saveBucketed]] only if `table` is not already in the session catalog
    * — lets a benchmark (or any repeated pipeline) pay the bucketing write
    * once and time only the exchange-free join. */
  def ensureBucketed(df: DataFrame, table: String, keyCol: String, buckets: Int): Unit =
    if (!df.sparkSession.catalog.tableExists(table))
      saveBucketed(df, table, keyCol, buckets)

  /** Join two bucketed tables on their bucket key — planner sees matching
    * output partitionings and elides both exchanges. */
  def bucketedJoin(
      spark: SparkSession, leftTable: String, rightTable: String,
      keyCol: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(keyCol))

  /** Erase a table's in-memory catalog entry while keeping its warehouse
    * directory byte-identical — the state a JVM restart leaves behind
    * (directories survive; the in-memory catalog does not). The dance:
    * move the directory aside so DROP TABLE (which deletes a managed
    * table's location) has nothing to delete, drop the entry, move the
    * data back. A directory with no catalog entry (a stored index's data
    * and meta directories) comes back unchanged. */
  private def eraseEntryKeepDir(spark: SparkSession, table: String): Unit = {
    val fs = hadoopFs(spark)
    val live = managedDir(spark, table)
    val aside = managedDir(spark, s"${table}__lost")
    require(fs.rename(live, aside), s"eraseEntryKeepDir: rename-aside of $live failed")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    require(fs.rename(aside, live), s"eraseEntryKeepDir: rename-back to $live failed")
  }

  /** TEST/ORACLE ONLY — [[eraseEntryKeepDir]] under its testing name:
    * reproduces the restart state per-table so the recovery oracle queries
    * certify the recover→probe path inside the single Verify session; the
    * GENUINE restart (stop the SparkContext, build a fresh session over
    * the same warehouse) is proven by RecoverySpec. */
  def simulateCatalogLoss(spark: SparkSession, table: String): Unit =
    eraseEntryKeepDir(spark, table)
}

/** Hive-style directory partitioning: the OTHER half of the 100 TB layout
  * story (Bucketing co-locates joins; partitioning prunes scans). A fact
  * table written `partitionBy(date)` turns every date-ranged query into a
  * directory listing of just the matching partitions — the scan never
  * opens the other days' files at all (visible as `PartitionFilters` on
  * the FileSourceScan, a stronger guarantee than row-group pushdown). */
object Partitioned {

  /** Write `df` Hive-partitioned by `partCol` under `path`, once
    * (`_SUCCESS` marks a completed prior write — repeated pipelines and
    * the bench pay the layout cost one time). REBALANCE by the partition
    * column before the write (guide §6): without it every writer task
    * holding rows of k partition values emits k files (tasks × values
    * small files at scale, and at test SF a single-task scan writes every
    * partition serially); the AQE rebalance clusters each value's rows —
    * one file per value per ~advisory-size chunk, written in parallel —
    * and SPLITS a skewed value across tasks instead of pinning it to one. */
  def ensurePartitionedDir(df: DataFrame, path: String, partCol: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      df.hint("rebalance", partCol)
        .write.mode("overwrite").partitionBy(partCol).parquet(path)
  }

  /** Distinct partition values of `df.partCol` as strings, sorted. NULL
    * partition values are refused loudly: Hive's
    * `__HIVE_DEFAULT_PARTITION__` escape is not modeled here and a null
    * would otherwise NPE in the sort (or miss its directory on delete). */
  private def partValues(
      df: DataFrame, partCol: String, what: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val vs = df.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    require(!vs.contains(null),
      s"$what contains a NULL $partCol partition value — null partitions " +
        "(__HIVE_DEFAULT_PARTITION__) are not supported by targeted rewrites")
    vs.sorted.toSeq
  }

  /** Shared rewrite tail of [[targetedDelete]]/[[targetedUpsert]]: dynamic-
    * overwrite `out` into `path`, then remove affected partitions that kept
    * no rows (dynamic overwrite never writes an empty partition). `out`
    * must already be materialized (localCheckpoint) — the write re-reads
    * the directories it replaces. */
  private def overwriteAndPrune(
      spark: SparkSession,
      path: String,
      partCol: String,
      out: DataFrame,
      affected: Seq[String]): Unit = {
    // the surviving-partition census reads the MATERIALIZED `out`
    // checkpoint, not the directories the write replaces — it is
    // independent of the write, so overlap its collect with the write's
    // job + commit (r18, §2.6); the prune itself still runs strictly
    // after both (it deletes directories the write may be committing)
    val (surviving, _) = graft.functions.Par.both(
      partValues(out, partCol, "rewrite output").toSet,
      // rebalance by the partition column (same §6 rationale as
      // [[ensurePartitionedDir]]): without it each of the checkpoint's
      // tasks emits one file per partition value it holds — tasks × values
      // near-empty files whose per-file commit cost dominates the rewrite
      out.hint("rebalance", partCol)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(surviving).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$partCol=$v"), true)
    }
  }

  /** TARGETED DELETE over a Hive-partitioned layout — the
    * right-to-be-forgotten rewrite: only partitions that actually CONTAIN
    * matching rows are rewritten (dynamic partition overwrite); untouched
    * partitions keep their files byte-identical, so at 100 TB a
    * single-user purge rewrites that user's few partitions, not the
    * table. Partitions whose every row matches produce no output under
    * dynamic overwrite and are removed explicitly. Returns the affected
    * partition values (model-sized — one value per partition). */
  def targetedDelete(
      spark: SparkSession,
      path: String,
      partCol: String,
      deletePred: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet(path)
    val affected = partValues(all.where(deletePred), partCol, "delete match set")
    if (affected.nonEmpty) {
      val survivors = all
        .where(col(partCol).cast("string").isin(affected: _*) && !deletePred)
        .localCheckpoint(true) // read must not observe the dirs mid-rewrite
      overwriteAndPrune(spark, path, partCol, survivors, affected)
    }
    affected
  }

  /** TARGETED UPSERT (MERGE) over a Hive-partitioned layout — the
    * incremental-corpus refresh: final state = updates ∪ (existing minus
    * updated keys), but only partitions that RECEIVE an update row or
    * currently HOLD an updated key are rewritten (dynamic partition
    * overwrite) — including key MOVES, where an update changes a row's
    * partition value and both the old and new partition rewrite. Untouched
    * partitions keep their files byte-identical, so a daily refresh over a
    * date-partitioned 100 TB corpus rewrites the touched days, not the
    * table. A source partition left empty by moves is removed explicitly
    * (dynamic overwrite never writes there). `updates` must carry the
    * layout's full schema including `partCol`; `idCol` is the merge key.
    * Returns the affected partition values (model-sized). */
  def targetedUpsert(
      spark: SparkSession,
      path: String,
      partCol: String,
      idCol: String,
      updates: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val all = spark.read.parquet(path)
    val updKeys = updates.select(col(idCol)).distinct().localCheckpoint(true)
    val destParts = updates.select(col(partCol).cast("string"))
    val srcParts = all.join(updKeys, Seq(idCol)).select(col(partCol).cast("string"))
    val affected = partValues(destParts.union(srcParts).toDF(partCol),
      partCol, "update batch / moved-key set")
    if (affected.nonEmpty) {
      val survivors = all
        .where(col(partCol).cast("string").isin(affected: _*))
        .join(updKeys, Seq(idCol), "left_anti")
      // partition column reads back LAST — align the update batch by name,
      // and materialize before the write so no input is read mid-rewrite
      val merged = survivors.select(all.columns.map(col): _*)
        .unionByName(updates.select(all.columns.map(col): _*))
        .localCheckpoint(true)
      overwriteAndPrune(spark, path, partCol, merged, affected)
    }
    affected
  }
}
