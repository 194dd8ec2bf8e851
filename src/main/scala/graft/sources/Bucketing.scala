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

  /** Delete `table`'s managed warehouse directory if it exists on disk —
    * the in-memory catalog is per-session but the managed location isn't,
    * so a prior session's directory survives as an orphan that collides
    * with both `saveAsTable` and `ALTER TABLE ... RENAME` into the name. */
  private def deleteManagedDir(spark: SparkSession, table: String): Unit = {
    val loc = managedDir(spark, table)
    val fs = hadoopFs(spark)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Save `df` as a bucketed managed table (overwriting), bucketed+sorted by
    * `keyCol` into `buckets` files per partition. */
  def saveBucketed(df: DataFrame, table: String, keyCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // the in-memory catalog is per-session but the managed location isn't:
    // drop both the entry and any orphaned directory from a prior session
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteManagedDir(spark, table)
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet") // managed: lives under spark.sql.warehouse.dir
      .saveAsTable(table)
  }

  /** OVERWRITE a bucketed table ATOMICALLY with respect to crashes: stage
    * the new contents as `<table>__compact`, then catalog-swap them in via
    * the same rename-aside sequence as [[compactBucketed]]. [[saveBucketed]]
    * alone has a destroy window — it DROPs the live table and deletes its
    * directory BEFORE re-creating, so a crash inside leaves NO copy. Here at
    * every point at least one COMPLETE catalog-registered copy exists
    * (either the old contents or the new), and [[repairCompacted]] /
    * [[healIfTorn]] restores the live name from whichever copy survived —
    * the write either fully happened or fully didn't. This is the required
    * path for every data table whose loss is not a cheap rebuild (the index
    * compactions go through it). The index `_meta` no longer does: it is a
    * file swapped by the same rename-aside sequence on the filesystem, with
    * no Spark job ([[IndexStore]]).
    *
    * `faultTag`, when non-null, arms three named crash points inside the
    * swap (`<tag>.staged` after the stage write, `<tag>.aside` after the
    * live table is renamed away, `<tag>.renamed` after the staged table is
    * renamed in) so specs/oracle queries can kill the writer INSIDE each
    * window and prove the old-or-new guarantee. */
  def saveBucketedAtomic(df: DataFrame, table: String, keyCol: String,
      buckets: Int, faultTag: String = null): Unit = {
    val spark = df.sparkSession
    val tmp = s"${table}__compact"
    val old = s"${table}__old"
    // heal any half-finished previous swap first — also clears stale
    // `__old`/`__compact` leftovers that would collide with the renames
    repairCompacted(spark, table)
    saveBucketed(df, tmp, keyCol, buckets)
    if (faultTag != null) Faults.point(s"$faultTag.staged")
    if (spark.catalog.tableExists(table)) {
      spark.sql(s"ALTER TABLE $table RENAME TO $old")
      if (faultTag != null) Faults.point(s"$faultTag.aside")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      if (faultTag != null) Faults.point(s"$faultTag.renamed")
      spark.sql(s"DROP TABLE $old")
    } else {
      // first write in THIS session: nothing to put aside — but a PRIOR
      // session's orphaned directory may sit at the target location (the
      // in-memory catalog died with that JVM, the warehouse didn't), and
      // RENAME refuses to adopt an existing location. The orphan carries no
      // catalog entry, so deleting it loses nothing this session can read —
      // the same contract saveBucketed has always applied on overwrite.
      deleteManagedDir(spark, table)
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    }
  }

  /** Heal a torn [[saveBucketedAtomic]]/[[compactBucketed]] swap, if (and
    * only if) the LIVE table is actually missing — on the clean path this
    * is one in-memory catalog lookup, so READERS of swap-maintained tables
    * (index probes opening their data tables) call it per-open and a crash
    * inside a swap is self-healing at the next read, not just at the next
    * maintenance call.
    *
    * NON-DESTRUCTIVE by design (r15 advice): `__old`/`__compact` entries
    * legitimately exist WHILE a concurrent writer is mid-swap (probes are
    * unrestricted readers throughout maintenance), so a read-path heal
    * must never touch them when the live table is present — it would drop
    * the in-flight writer's staged copy or collide with its renames. When
    * the live table exists, leftovers are either an in-flight swap (leave
    * them alone) or stale crash debris, which the next maintenance entry
    * point clears ([[saveBucketedAtomic]]/[[compactBucketed]] both run
    * [[repairCompacted]] first, under the single-writer contract). The one
    * residual read/write race is the writer's instant between rename-aside
    * and rename-in: a reader healing inside it restores `__old` to the
    * live name and the writer's rename-in then fails LOUDLY with
    * TABLE_ALREADY_EXISTS — an abort that leaves the table at its old
    * committed contents (the staged copy is cleaned up and re-staged on
    * retry), never corruption or silent loss. */
  def healIfTorn(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table))
      repairCompacted(spark, table)

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

  /** COMPACT a bucketed table in place: every `mode("append")` write adds
    * its own file-set per bucket, so an append-maintained table (an LSH/IVF
    * index) accumulates small files that tax listing and open cost at
    * scale. Rewrite at the SAME bucket spec, repartitioned by the bucket
    * hash so each task holds exactly one bucket → one file per bucket;
    * rows, bucketing, and every downstream plan are unchanged.
    *
    * CRASH-SAFE rename-aside swap: stage as `<table>__compact`, rename the
    * live table aside to `<table>__old`, rename the staged table in, then
    * drop `__old`. At every point in the sequence at least one COMPLETE
    * catalog-registered copy of the data exists, and [[repairCompacted]]
    * (run automatically at the start of every compaction) restores the
    * live name from whichever complete copy survived a mid-swap crash —
    * no step ever deletes the only copy. The swap window is still not
    * concurrency-transparent: a probe racing it fails loudly with
    * TABLE_OR_VIEW_NOT_FOUND (never reads half-state) — schedule
    * compaction in the maintenance window that owns the index. (With the
    * default in-memory catalog a JVM crash also loses the catalog entries
    * themselves; the directories survive, and [[recoverBucketedTable]]
    * re-adopts them in a fresh session — including a copy stranded mid-swap
    * at `__old`/`__compact`. Against a persistent metastore
    * [[repairCompacted]] recovers automatically.) */
  def compactBucketed(spark: SparkSession, table: String, keyCol: String,
      buckets: Int, transform: DataFrame => DataFrame = identity,
      faultTag: String = null): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    // heal any half-finished previous swap first, so the live name resolves
    repairCompacted(spark, table)
    // co-locate each WRITER bucket (pmod(murmur3(key), n)) into one task:
    // the bucketed writer emits one file per (task, bucket), so any
    // partitioning that keeps a bucket's rows together yields exactly
    // `buckets` files. Repartitioning by the raw key does NOT guarantee
    // this (task id and bucket id are different functions of the key);
    // repartitioning BY the bucket-id expression does.
    // `transform` lets the index compactions GC orphaned (uncommitted)
    // epochs and normalize the committed ones during the rewrite they
    // already pay for — identity for plain tables. The stage + swap (and
    // its `faultTag` crash points) are [[saveBucketedAtomic]]'s.
    saveBucketedAtomic(
      transform(spark.table(table))
        .repartition(buckets, pmod(hash(col(keyCol)), lit(buckets))),
      table, keyCol, buckets, faultTag)
  }

  /** REPAIR a [[compactBucketed]] swap that died mid-sequence. Idempotent;
    * safe to call any time. Rules, in order:
    *  - live table missing, `__old` present → the crash hit between
    *    rename-aside and rename-in: restore the ORIGINAL (`__old` → live;
    *    the staged copy, if complete, is merely a lost optimization);
    *  - live table missing, only `__compact` present → promote the staged
    *    copy (it was complete before the rename-aside began);
    *  - live table present → drop stale `__old`/`__compact` catalog
    *    entries and orphaned managed directories from older crashes (a
    *    leftover would collide with the next compaction's renames).
    * Never deletes a directory unless the live table is in the catalog. */
  def repairCompacted(spark: SparkSession, table: String): Unit = {
    val tmp = s"${table}__compact"
    val old = s"${table}__old"
    if (!spark.catalog.tableExists(table)) {
      if (spark.catalog.tableExists(old)) spark.sql(s"ALTER TABLE $old RENAME TO $table")
      else if (spark.catalog.tableExists(tmp)) spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    }
    if (spark.catalog.tableExists(table)) {
      Seq(old, tmp).foreach { t =>
        if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
        deleteManagedDir(spark, t)
      }
    }
  }

  /** CROSS-SESSION RECOVERY — re-adopt a bucketed managed table whose
    * catalog entry died with a prior JVM. With the default in-memory
    * catalog the ENTRY is per-process but the warehouse DIRECTORY is not:
    * after a restart the parquet files (including the bucket-id suffix in
    * each file name, which is where Spark's bucketed reader gets bucket
    * membership from) survive intact under `<warehouse>/<table>`, carrying
    * everything needed to re-register the table except the bucket spec,
    * which callers pass back in (the index families store theirs in the
    * `_meta` file so the whole index is self-describing — see
    * [[IndexStore.recover]]).
    *
    * Two phases, both driver-side filesystem METADATA ops (nothing is
    * rewritten — recovering a 100 TB index costs two renames + a CREATE):
    *
    *  1. DIRECTORY-LEVEL HEAL: the prior JVM may have died mid-swap, so
    *     the surviving complete copy may sit at `__old` (preferred — the
    *     original, same precedence as [[repairCompacted]]), at `__compact`
    *     (complete before any rename began), or at `__adopt` (a recovery
    *     retry's own aside). "Has data" = contains part- files; the empty
    *     directory a torn recovery's CREATE left behind never shadows the
    *     aside copy.
    *  2. ADOPT: Spark refuses to CREATE a managed table over a non-empty
    *     location (LOCATION_ALREADY_EXISTS), so the surviving directory is
    *     renamed aside to `<table>__adopt`, the managed table is created
    *     EMPTY with the original `CLUSTERED BY (keyCol) SORTED BY (keyCol)
    *     INTO buckets BUCKETS` spec (schema read from the parquet footers),
    *     and the data directory is swapped back underneath it.
    *
    * The result is a genuinely MANAGED bucketed table — `Bucketed: true`
    * scans, exchange-free co-located joins, and every later append/compact/
    * atomic-swap behaves exactly as before the restart (managed RENAME
    * moves the directory, which the swap protocol relies on). Idempotent
    * and crash-retryable: every kill window leaves the complete copy at
    * either the live path or `__adopt`, and a retry picks it up. Recovery
    * is MAINTENANCE — single-writer, like append/compact. Returns false
    * when no data directory survives (nothing to recover; republish). */
  def recoverBucketedTable(spark: SparkSession, table: String, keyCol: String,
      buckets: Int, faultTag: String = null): Boolean = {
    val fs = hadoopFs(spark)
    def hasData(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(p) && fs.listStatus(p).exists(s =>
        s.isFile && s.getPath.getName.startsWith("part-"))
    val live = managedDir(spark, table)
    val adopt = managedDir(spark, s"${table}__adopt")
    // heal a swap torn in THIS session by RENAME before anything else
    // (r16 advice, medium): after such a tear the only complete copies can
    // sit REGISTERED at `__old`/`__compact`, and DROP TABLE on a managed
    // entry deletes its directory — dropping those entries here would
    // destroy both copies and then find no survivor. repairCompacted (via
    // healIfTorn) restores the live name non-destructively and only clears
    // asides once the live table exists.
    healIfTorn(spark, table)
    if (spark.catalog.tableExists(table)) {
      // already registered THIS session — unless a torn same-session
      // recovery left an empty shell entry with the data still aside
      if (!hasData(adopt)) return true
      spark.sql(s"DROP TABLE $table") // empty shell; its dir is deleted too
    }
    // residual stale catalog entries over the aside names would collide
    // with the renames below. Erase the ENTRY the way a restart would —
    // directory kept — whenever the directory still holds data (it may be
    // the only surviving copy); only a dataless entry is dropped outright.
    Seq(s"${table}__old", s"${table}__compact").foreach { t =>
      if (spark.catalog.tableExists(t)) {
        if (hasData(managedDir(spark, t))) eraseEntryKeepDir(spark, t)
        else spark.sql(s"DROP TABLE $t")
      }
    }
    val survivors = Seq(live, managedDir(spark, s"${table}__old"),
      managedDir(spark, s"${table}__compact"), adopt)
    survivors.find(hasData) match {
      case None => false
      case Some(src) =>
        if (src != adopt) {
          if (fs.exists(adopt)) fs.delete(adopt, true)
          require(fs.rename(src, adopt),
            s"recoverBucketedTable: rename $src -> $adopt failed")
        }
        if (faultTag != null) Faults.point(s"$faultTag.aside")
        // clear the losing copies/debris so the CREATE location is free
        survivors.filterNot(_ == adopt)
          .foreach(p => if (fs.exists(p)) fs.delete(p, true))
        if (faultTag != null) Faults.point(s"$faultTag.cleared")
        val schema = spark.read.parquet(adopt.toString).schema
        require(schema.fieldNames.contains(keyCol),
          s"recoverBucketedTable: surviving data for '$table' has no column " +
            s"'$keyCol' (schema ${schema.simpleString}) — wrong bucket spec?")
        spark.sql(s"CREATE TABLE $table (${schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $buckets BUCKETS")
        if (faultTag != null) Faults.point(s"$faultTag.created")
        fs.delete(live, true) // the empty dir CREATE just made
        if (faultTag != null) Faults.point(s"$faultTag.freed")
        require(fs.rename(adopt, live),
          s"recoverBucketedTable: rename $adopt -> $live failed")
        true
    }
  }

  /** Erase a table's in-memory catalog entry while keeping its warehouse
    * directory byte-identical — the state a JVM restart leaves behind
    * (directories survive; the in-memory catalog does not). The dance:
    * move the directory aside so DROP TABLE (which deletes a managed
    * table's location) has nothing to delete, drop the entry, move the
    * data back. Production use: [[recoverBucketedTable]] clearing a stale
    * aside ENTRY whose directory may hold the only surviving copy. */
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

  /** MAINTENANCE REPORT over epoch-gated bucketed tables (the staged-commit
    * index layout: every data row carries an `ep`, `eps` is the committed
    * list from the index's `_meta`): one row per table with committed vs
    * ORPHAN row counts (epochs staged by a crashed append — invisible to
    * probes, GC'd by compaction), the orphan epoch count, and the data-file
    * count (every append adds a file-set per bucket; a file count far above
    * `buckets` says "compact me"). Self-serve operations: answers "does
    * this index need maintenance, and how much dead weight is it carrying"
    * without reading protocol internals. Stale `__old`/`__compact` swap
    * leftovers are healed on open (the report never shows them — by the
    * time it reads, [[healIfTorn]] has resolved the swap). Driver-side
    * file-count lookups are per-table metadata calls; the row counts are
    * one aggregation per table over the `ep` column. */
  def epochReport(spark: SparkSession, tables: Seq[String], eps: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, countDistinct, lit, sum, when}
    tables.map { t =>
      healIfTorn(spark, t)
      val committed = col("ep").isin(eps: _*)
      spark.table(t).agg(
          sum(when(committed, 1L).otherwise(0L)).as("__rc"),
          sum(when(!committed, 1L).otherwise(0L)).as("__ro"),
          countDistinct(when(!committed, col("ep"))).as("__oe"))
        .select(
          lit(t).as("table"),
          coalesce(col("__rc"), lit(0L)).as("rows_committed"),
          coalesce(col("__ro"), lit(0L)).as("rows_orphan"),
          col("__oe").as("orphan_epochs"),
          lit(eps.size.toLong).as("committed_epochs"),
          lit(dataFileCount(spark, t).toLong).as("files"))
    }.reduce(_ unionByName _).orderBy(col("table"))
  }

  /** Files currently backing a managed table's directory (specs assert
    * compaction actually shrank the count). */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0
    else fs.listStatus(loc).count(s => s.isFile && s.getPath.getName.startsWith("part-"))
  }
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
