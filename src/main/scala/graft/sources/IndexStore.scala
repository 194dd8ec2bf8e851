package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{IntNode, LongNode, TextNode}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, GraftShim, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, count, hash, lit, pmod, when}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructType}

import graft.functions.Par

/** The `_meta` fields every stored-index family shares: the data tables'
  * bucket count, the caller-declared corpus fingerprint, the committed
  * epochs and the epoch allocator. */
trait IndexMeta[M] {
  def buckets: Int
  def corpusFp: String
  def eps: Seq[Long]
  def nextEp: Long
  /** This meta with its fingerprint and epoch state replaced. */
  def withEpochs(corpusFp: String, eps: Seq[Long], nextEp: Long): M
}

/** ONE lifecycle for the stored indexes (LSH in [[graft.operators.Dedup]],
  * IVF and IVF+PQ in [[graft.operators.Similarity]]): publish, append,
  * compact, cross-session recover, ensure, describe, and the one reader
  * every probe, audit and duplicate check goes through ([[rowsAt]]).
  * A family declares its tables, its typed `_meta` case class and a few
  * hooks (audit, parameter identity, the append's `prepare`, optional staged
  * check); the order of every step, its overlaps ([[graft.functions.Par]]),
  * guards and crash points live here once.
  *
  * STORAGE. An index `t` is its meta plus one directory per declared table,
  * with no session-catalog entry anywhere. The meta is ONE small JSON file,
  * `<warehouse>/t_meta/meta.json`, written and read through the Hadoop
  * `FileSystem` the [[MaintenanceLease]] uses — no Spark job, no SQL
  * execution. It is one object keyed by column name (camelCase field
  * `corpusFp` is key `corpus_fp`) in field order, followed by `layout` and
  * `schema`; it is decoded by key and JSON type, and a missing or mistyped
  * key fails loudly naming it. `layout` is the index's own bucket spec,
  * `<suffix>:<key>:<buckets>` per table, derived from the declaration;
  * `schema` holds each table's Spark schema. Table `<suffix>` lives under
  * `<warehouse>/t_<suffix>/` as epoch directories `ep-<n>/`, each one
  * bucketed parquet write (bucketed and sorted by the table's key). Publish
  * writes epoch 0 of every table; epoch-gated tables hold the corpus rows,
  * bucketed `buckets` ways; the others are model tables written once at
  * publish into one bucket. A row's epoch is its directory, not a column.
  * A reader builds one bucketed relation over the directories of the epochs
  * it asks for, under the meta it decoded — the meta, not a catalog, says
  * which rows exist, so a surviving warehouse is self-describing after a
  * restart.
  *
  * STAGED COMMIT. Only epochs listed in `_meta.eps` are visible to probes,
  * audits and duplicate checks. An append reads the stored meta inside the
  * lease and hands it to the family's `prepare: M => Batch[M]`, which
  * readies the batch (IVF and PQ collect their stored models there beside
  * the batch quantization; LSH leaves its shingling to the duplicate
  * check), then runs three ordered writes:
  *   - ALLOCATE: `_meta` bumps `next_ep` only (a crash after it wastes one
  *     epoch number, nothing else); the committed-rows duplicate check runs
  *     after it;
  *   - STAGE: the batch rows land as the fresh epoch's directory of every
  *     epoch-gated table — a crash during, between or after these writes
  *     leaves probes returning exactly the pre-append results, and the
  *     retry is the repair (it stages under a new epoch);
  *   - COMMIT: `_meta` lands last with the epoch added to `eps` and the new
  *     fingerprint — the single visibility flip. Every meta write is a
  *     crash-atomic file swap: write `meta.json.tmp`, rename the live file
  *     to `meta.json.old`, rename the tmp file in, delete `.old`. A kill
  *     inside it leaves old-or-new meta fully readable: while the live file
  *     is missing a read takes `.old`, else `.tmp`, and reads never rename
  *     or delete (a writer may be mid-swap); the next meta write, under the
  *     single-writer contract, restores the live file the same way and
  *     clears the leftovers. The meta files carry no Hadoop `.crc` side
  *     file: the decode by key and type is their integrity check.
  * COMPACTION is the same flip: it allocates a fresh epoch, rewrites the
  * committed rows of every gated table once into that epoch's directory at
  * the stored bucket spec (one file per bucket), guards like the append's
  * pre-commit guard, commits `eps` = [that epoch], then deletes every other
  * epoch directory of the gated tables — the superseded epochs and the
  * orphans of torn appends. A probe at any point before the flip reads the
  * old epochs, after it the new one; rows are identical either way. A probe
  * that read the old meta and lists or scans after the sweep fails loudly:
  * on the missing files, or naming the concurrent compaction — retry it.
  *
  * SINGLE WRITER. Maintenance (append, compact, recover) assumes one writer
  * at a time: the allocator is read-bump-write. Append and compact run
  * under the advisory [[MaintenanceLease]], so a second writer waits for
  * the window; publish owns the index name and clears a dead writer's
  * lease. The lease is best-effort, so detection stays armed behind it: an
  * append re-reads `_meta` after ALLOCATE (allocator-collision guard) and
  * before COMMIT (pre-commit guard), a compaction before COMMIT, and a
  * loser that slipped past the lease aborts loudly with the index exactly
  * as the winner committed it. Probes are unrestricted readers throughout.
  *
  * CRASH POINTS ([[Faults]], `<family>` = lsh | ivf | pq):
  * `<family>.append.allocated` and `<family>.append.staged` between the
  * append's writes; `<family>.append.commit.{staged,aside,renamed}` inside
  * the append's commit swap; `<family>.compact.commit.{staged,aside,renamed}`
  * inside the compaction's commit swap (the rewritten epoch is complete
  * before `staged`, the sweep runs after `renamed`).
  *
  * A family names its crash points with `family`, its entry points in
  * messages with `title` (`appendLshIndex`), and the duplicate check's
  * table and id column with `idTable` and `idCol`. */
abstract class IndexStore[M <: Product with IndexMeta[M]](
    family: String,
    title: String,
    tables: Seq[IndexStore.Table],
    idTable: String,
    idCol: String)(implicit enc: Encoder[M]) {
  import IndexStore._

  /** The strict audit proves the family's full invariant; the cheap one is
    * what a caller can afford outside a maintenance window. Both read only
    * the committed rows of `s.m.eps`. */
  def audit(spark: SparkSession, table: String, s: Stored[M], strict: Boolean): Unit

  /** The stored parameters a caller must match to reuse the index. */
  def params(m: M): Product
  def paramNames: String

  /** Extra completeness check on epoch `ep`'s staged rows, run before the
    * commit's pre-commit guard read. */
  def stagedCheck(spark: SparkSession, table: String, s: Stored[M], ep: Long): Unit = ()

  private val gated = tables.filter(_.epochGated)
  private def bucketsOf(t: Table, m: M) = if (t.epochGated) m.buckets else 1

  private def layout(m: M): String =
    tables.map(t => s"${t.suffix}:${t.key}:${bucketsOf(t, m)}").mkString(",")

  private val fields = enc.schema.fields
  private def column(field: String) = field.replaceAll("([A-Z])", "_$1").toLowerCase
  private val keys = fields.map(f => column(f.name)) :+ "layout"
  private val types = fields.map(_.dataType) :+ StringType
  private val ctor = enc.clsTag.runtimeClass.getConstructors
    .find(_.getParameterCount == fields.length)
    .getOrElse(throw new IllegalArgumentException(
      s"${enc.clsTag.runtimeClass.getName} has no constructor over its ${fields.length} fields"))

  /** The file form: one JSON object, keys in field order, then `layout`,
    * then `schema` unless it is empty. */
  private def encode(s: Stored[M]): Array[Byte] = {
    val o = Json.createObjectNode()
    keys.zip(types).zip(s.m.productIterator.toSeq :+ s.layout).foreach {
      case ((k, t), v) => o.set[JsonNode](k, toJson(t, v))
    }
    if (s.schema.nonEmpty) {
      val so = o.putObject("schema")
      tables.foreach(t => so.set[JsonNode](t.suffix, Json.readTree(s.schema(t.suffix).json)))
    }
    Json.writeValueAsBytes(o)
  }

  private def decode(what: String, bytes: Array[Byte]): Stored[M] = {
    val o = parse(what, bytes)
    val vs = keys.zip(types).map { case (k, t) => fromJson(what, k, t, o.get(k)) }
    Stored(ctor.newInstance(vs.init: _*).asInstanceOf[M], vs.last.asInstanceOf[String],
      schemaOf(what, o))
  }

  private def writeMeta(spark: SparkSession, table: String, s: Stored[M],
      faultTag: String = null): Unit =
    swapIn(spark, table, encode(s), faultTag)

  /** The decoded meta file, in one read — the one read every step and
    * probe goes through, and what [[rows]] reads under; `missing` is the
    * failure when no meta file survives. */
  private[graft] def readStored(spark: SparkSession, table: String,
      missing: => String = null): Stored[M] = {
    val found = readMeta(spark, table)
    require(found.nonEmpty,
      if (missing != null) missing
      else s"index '$table' has no _meta file (${metaFile(spark, table)}) — publish it, " +
        s"or recover it from a surviving warehouse via recover${title}Index")
    val (path, bytes) = found.get
    decode(s"index '$table' _meta file $path", bytes)
  }

  private[graft] def storedMeta(spark: SparkSession, table: String): M =
    readStored(spark, table).m

  /** The stored meta of an index in epoch-directory form, for a writer. */
  private def current(spark: SparkSession, table: String, entry: String): Stored[M] = {
    val s = readStored(spark, table)
    require(s.schema.nonEmpty,
      s"$entry: index '$table' predates epoch directories — migrate it once via " +
        s"recover${title}Index")
    s
  }

  private def checkCorpus(entry: String, table: String, m: M, expected: String): Unit =
    require(m.corpusFp == expected,
      s"$entry: index '$table' was published over corpus '${m.corpusFp}' but the " +
        s"caller expects '$expected'")

  /** Table `t`'s rows of `df` laid out one task per WRITER bucket
    * (pmod(murmur3(key), n), the bucket id the writer computes), so the
    * write leaves exactly one file per bucket — the compaction rewrite and
    * the catalog-era migration. */
  private def rebucket(df: DataFrame, t: Table, m: M): DataFrame =
    df.repartition(m.buckets, pmod(hash(col(t.key)), lit(m.buckets)))

  /** PUBLISH: `build` returns the meta (epochs default to [0]) and one frame
    * per declared table; the meta and every table directory of an earlier
    * index under this name are deleted (meta first, so a crash mid-publish
    * leaves no index rather than an old meta over new rows), every table's
    * epoch 0 is written, overlapped, and `_meta` lands last. */
  def publish(spark: SparkSession, table: String)(build: => (M, Map[String, DataFrame])): Unit = {
    MaintenanceLease.clear(spark, table)
    val (m, frames) = build
    val fs = Bucketing.hadoopFs(spark)
    fs.delete(metaDir(spark, table), true)
    tables.foreach(t => fs.delete(dataDir(spark, table, t.suffix), true))
    val written = tables.map { t =>
      val df = frames(t.suffix)
      t -> (if (t.epochGated) Par.narrowForWrite(df) else df)
    }
    Par.all(written.map { case (t, df) =>
      () => land(df, epochDir(spark, table, t.suffix, 0L), t.key, bucketsOf(t, m))
    })
    writeMeta(spark, table,
      Stored(m, layout(m), written.map { case (t, df) => t.suffix -> df.schema.toNullable }.toMap))
  }

  /** APPEND under the staged-commit protocol: `prepare` readies the batch
    * under the decoded stored meta inside the lease, before ALLOCATE. */
  def append(batch: DataFrame, table: String, newCorpusFp: String)(
      prepare: Stored[M] => Batch[M]): Unit = {
    val spark = batch.sparkSession
    val entry = s"append${title}Index"
    MaintenanceLease.withLease(spark, table) {
      val s = current(spark, table, entry)
      val m = s.m
      val ep = m.nextEp
      val b = prepare(s)
      writeMeta(spark, table, s.copy(m = m.withEpochs(m.corpusFp, m.eps, ep + 1L)))
      // the duplicate check (for LSH it also shingles the batch) reads
      // committed rows only: orphans of a torn attempt must not block its retry
      val dup = b.ids().join(rows(spark, table, s, idTable), Seq(idCol), "left_semi")
        .limit(1).count()
      require(dup == 0,
        s"$entry: batch contains ids already present in index '$table' — append " +
          "would duplicate their probe rows; dedup the batch first")
      val staged = b.rows()
      Faults.point(s"$family.append.allocated")
      // ALLOCATOR-COLLISION GUARD: a racer that allocated after our read
      // leaves next_ep != ep+1 — abort before staging a doomed epoch
      val ne = storedMeta(spark, table).nextEp
      require(ne == ep + 1L,
        s"$entry: allocator collision on '$table' (next_ep=$ne, expected ${ep + 1}) — " +
          "another writer is appending concurrently; index maintenance is " +
          "single-writer, retry after it completes")
      Par.all(gated.map { t =>
        // columns by name and type of the published table
        val cols = s.schema(t.suffix).fields.map(f => col(f.name).cast(f.dataType))
        () => land(Par.narrowForWrite(staged(t.suffix)).select(cols: _*),
          epochDir(spark, table, t.suffix, ep), t.key, m.buckets)
      })
      Faults.point(s"$family.append.staged")
      stagedCheck(spark, table, s, ep)
      // PRE-COMMIT GUARD: a racer that committed first left our epoch in eps
      // or bumped next_ep past ours — leave the winner's commit standing
      val mc = storedMeta(spark, table)
      require(mc.nextEp == ep + 1L && !mc.eps.contains(ep),
        s"$entry: lost an append race on '$table' (next_ep=${mc.nextEp}, " +
          s"eps=${mc.eps.mkString(",")}, ours=$ep) — NOT committed; index " +
          "maintenance is single-writer")
      writeMeta(spark, table,
        s.copy(m = b.commit(m).withEpochs(newCorpusFp, m.eps :+ ep, ep + 1L)),
        faultTag = s"$family.append.commit")
    }
  }

  /** COMPACT: allocate a fresh epoch, rewrite every gated table's committed
    * rows into it, commit `eps` = [it], sweep every other epoch directory,
    * then run the strict audit of the post-state. */
  def compact(spark: SparkSession, table: String): Unit = {
    val entry = s"compact${title}Index"
    MaintenanceLease.withLease(spark, table) {
      val s = current(spark, table, entry)
      val m = s.m
      val ep = m.nextEp
      writeMeta(spark, table, s.copy(m = m.withEpochs(m.corpusFp, m.eps, ep + 1L)))
      Par.all(gated.map { t =>
        () => land(rebucket(rows(spark, table, s, t.suffix), t, m),
          epochDir(spark, table, t.suffix, ep), t.key, m.buckets)
      })
      val mc = storedMeta(spark, table)
      require(mc.nextEp == ep + 1L && mc.eps == m.eps,
        s"$entry: lost a maintenance race on '$table' (next_ep=${mc.nextEp}, " +
          s"eps=${mc.eps.mkString(",")}, ours=$ep) — NOT committed; index " +
          "maintenance is single-writer")
      val done = s.copy(m = m.withEpochs(m.corpusFp, Seq(ep), ep + 1L))
      writeMeta(spark, table, done, faultTag = s"$family.compact.commit")
      val fs = Bucketing.hadoopFs(spark)
      gated.foreach(t => epochDirs(spark, table, t.suffix).foreach {
        case (e, dir) => if (e != ep) fs.delete(dir, true)
      })
      audit(spark, table, done, strict = true)
    }
  }

  /** CROSS-SESSION RECOVERY after a restart: migrate a table-form `_meta` to
    * the file form and a catalog-era index to epoch directories, check the
    * fingerprint when `expectedCorpusFp` is given and the stored layout
    * (which must be this family's), build every table's relation (each
    * committed epoch directory must survive), then certify with the strict
    * audit. Nothing is rewritten unless a migration runs. */
  def recover(spark: SparkSession, table: String, expectedCorpusFp: String): Unit = {
    val entry = s"recover${title}Index"
    migrateLegacy(spark, table)
    val stored = readStored(spark, table,
      s"$entry: no surviving _meta for index '$table' — nothing to " +
        s"recover; republish via publish${title}Index")
    if (expectedCorpusFp != null) checkCorpus(entry, table, stored.m, expectedCorpusFp)
    // a foreign layout means the directory belongs to another family or the
    // caller named the wrong table: reading it under this family's spec
    // would produce silently wrong bucketed joins
    require(stored.layout == layout(stored.m),
      s"$entry: '$table' _meta declares layout '${stored.layout}' but this family expects " +
        s"'${layout(stored.m)}' — wrong index family or table name")
    val s = migrateCatalogEra(spark, table, stored)
    tables.foreach(t => rows(spark, table, s, t.suffix))
    audit(spark, table, s, strict = true)
  }

  /** MIGRATION of the table form earlier warehouses hold (`part-*` parquet
    * files of a one-row bucketed table): read it once by column name, write
    * it as the file, then remove the parquet files. A directory that
    * already holds the file form only loses the parquet leftovers. */
  private def migrateLegacy(spark: SparkSession, table: String): Unit = {
    val fs = Bucketing.hadoopFs(spark)
    val dir = metaDir(spark, table)
    val parts = if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.startsWith("part-"))
    if (parts.nonEmpty) {
      if (readMeta(spark, table).isEmpty) {
        val legacyMeta = spark.read.parquet(parts.map(_.toString): _*).select(keys.map(col): _*)
          .collect()
        require(legacyMeta.length == 1,
          s"recover${title}Index: table-form _meta of '$table' holds ${legacyMeta.length} rows, expected 1")
        swapIn(spark, table,
          encode(decode(s"index '$table' table-form _meta", legacyMeta.head.json.getBytes("UTF-8"))),
          null)
      }
      fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") || p.getName == "_SUCCESS")
        .foreach(fs.delete(_, false))
    }
  }

  /** MIGRATION of a catalog-era index — its meta has no `schema`, each
    * table's rows are `part-*` files directly under `<warehouse>/t_<suffix>/`,
    * the gated tables' rows stamped with an `ep` column: a compaction-style
    * rewrite of the committed (`ep` in `eps`) rows of every gated table,
    * without that column, into fresh epoch `next_ep`, the model tables into
    * epoch 0, then the meta flip (with the schemas), then the parquet
    * leftovers are removed. A crash before the flip is retried whole; after
    * it, only the leftovers are removed. */
  private def migrateCatalogEra(spark: SparkSession, table: String, s: Stored[M]): Stored[M] = {
    val fs = Bucketing.hadoopFs(spark)
    def leftovers(t: Table) = listing(spark, table, t.suffix).map(_.getPath)
      .filter(p => epochOf(p.getName).isEmpty)
    val done = if (s.schema.nonEmpty) s else {
      val m = s.m
      val ep = m.nextEp
      val frames = tables.map { t =>
        val parts = leftovers(t).filter(_.getName.startsWith("part-"))
        require(parts.nonEmpty,
          s"recover${title}Index: index '$table' predates epoch directories and " +
            s"'${table}_${t.suffix}' holds no parquet files to migrate — republish it")
        val df = spark.read.parquet(parts.map(_.toString): _*)
        t -> (if (t.epochGated) rebucket(df.where(col("ep").isin(m.eps: _*)).drop("ep"), t, m)
          else df)
      }
      Par.all(frames.map { case (t, df) =>
        () => land(df, epochDir(spark, table, t.suffix, if (t.epochGated) ep else 0L), t.key,
          bucketsOf(t, m))
      })
      val migrated = Stored(m.withEpochs(m.corpusFp, Seq(ep), ep + 1L), s.layout,
        frames.map { case (t, df) => t.suffix -> df.schema.toNullable }.toMap)
      writeMeta(spark, table, migrated)
      migrated
    }
    tables.foreach(t => leftovers(t).foreach(fs.delete(_, true)))
    done
  }

  /** Publish only when no meta survives, or when the index predates epoch
    * directories (a catalog-era leftover is rebuilt, not migrated); an
    * existing index must carry this corpus's fingerprint and the requested
    * parameters. */
  def ensure(spark: SparkSession, table: String, corpusFp: String, asked: Product)(
      publish: => Unit): Unit = {
    val entry = s"ensure${title}Index"
    readMeta(spark, table).map { case (path, bytes) =>
      decode(s"index '$table' _meta file $path", bytes)
    }.filter(_.schema.nonEmpty) match {
      case None => publish
      case Some(s) =>
        checkCorpus(entry, table, s.m, corpusFp)
        require(params(s.m) == asked,
          s"$entry: index '$table' exists with $paramNames = ${params(s.m)} but the " +
            s"caller requested $asked — republish to retrain, or pass the " +
            "published params")
    }
  }

  /** The decoded meta a probe runs under, after its fingerprint (and, when
    * given, parameter) check. */
  def probeMeta(spark: SparkSession, table: String, corpusFp: String,
      asked: Option[Product] = None): Stored[M] = {
    val entry = s"probe${title}Index"
    val s = readStored(spark, table)
    asked.foreach(a => require(params(s.m) == a,
      s"$entry: index '$table' was published with $paramNames = ${params(s.m)} but " +
        s"the caller requested $a"))
    checkCorpus(entry, table, s.m, corpusFp)
    s
  }

  def assertConsistent(spark: SparkSession, table: String, strict: Boolean): Unit =
    audit(spark, table, readStored(spark, table), strict)

  /** The committed rows of data table `suffix` under the decoded meta `s`
    * (a model table's one epoch, 0). */
  def rows(spark: SparkSession, table: String, s: Stored[M], suffix: String): DataFrame =
    rowsAt(spark, table, s, suffix, if (declared(suffix).epochGated) s.m.eps else Seq(0L))

  /** THE READER: the rows of data table `suffix` in epochs `eps` under the
    * decoded meta `s` — one bucketed relation over those epoch directories,
    * with the table's declared key, its bucket count and the stored schema,
    * so a probe joining on the bucket key plans no exchange on this side.
    * Its files are listed on the driver ([[epochFiles]]), so building it
    * starts no Spark job however many epochs it spans. Every epoch asked
    * for must have its directory; a missing one fails loudly, naming a
    * concurrent compaction when the live meta no longer commits it. */
  private[graft] def rowsAt(spark: SparkSession, table: String, s: Stored[M], suffix: String,
      eps: Seq[Long]): DataFrame = {
    val dirs = epochDirs(spark, table, suffix)
    val listed = eps.flatMap(e => epochFiles(spark, dirs, e).map(e -> _)).toMap
    val lost = eps.filterNot(listed.contains)
    require(lost.isEmpty,
      s"index '$table': epoch(s) ${lost.mkString(",")} of '${table}_$suffix' " +
        (if (lost.exists(readStored(spark, table).m.eps.contains))
          "are committed but have no directory — index data lost; republish"
        else "are no longer committed — the index was compacted while this read was " +
          "planned; retry it"))
    relation(spark, table, s, declared(suffix), eps.map(listed))
  }

  private def declared(suffix: String): Table = tables.find(_.suffix == suffix).getOrElse(
    throw new IllegalArgumentException(s"the $family index declares no table '$suffix'"))

  /** One bucketed relation over the listed epoch directories of table `t`. */
  private def relation(spark: SparkSession, table: String, s: Stored[M], t: Table,
      dirs: Seq[(Path, Array[FileStatus])]): DataFrame = {
    val schema = s.schema.getOrElse(t.suffix, throw new IllegalStateException(
      s"index '$table' has no stored schema for '${t.suffix}' — an index written before " +
        s"epoch directories is migrated once by recover${title}Index"))
    val files = dirs.toMap
    // the listing is handed to the file index: it lists nothing itself
    val listed = new FileStatusCache {
      override def getLeafFiles(dir: Path): Option[Array[FileStatus]] = files.get(dir)
      def putLeafFiles(dir: Path, leaves: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    GraftShim.ofRows(spark, LogicalRelation(HadoopFsRelation(
      new InMemoryFileIndex(spark, dirs.map(_._1), Map.empty, Some(schema), listed),
      new StructType(), schema, Some(bucketSpec(t.key, bucketsOf(t, s.m))),
      new ParquetFileFormat, Map.empty)(spark)))
  }

  /** MAINTENANCE REPORT: one row per gated table (`t_<suffix>`) with
    * committed vs ORPHAN row counts (epoch directories staged by a crashed
    * append — invisible to probes, swept by compaction), the orphan epoch
    * count, the committed epoch count and the data-file count over every
    * epoch directory (each append adds a file-set per bucket; a count far
    * above `buckets` says "compact me"). Building it lists directories and
    * reads the meta — no Spark job; the row counts are one aggregation per
    * table over its committed and its orphan epoch directories. */
  def describe(spark: SparkSession, table: String): DataFrame = {
    val s = readStored(spark, table)
    gated.map { t =>
      val dirs = epochDirs(spark, table, t.suffix)
      val listed = dirs.keys.flatMap(e => epochFiles(spark, dirs, e).map(e -> _)).toMap
      val (committed, orphan) = listed.keys.toSeq.sorted.partition(s.m.eps.contains)
      def tagged(eps: Seq[Long], c: Boolean) =
        relation(spark, table, s, t, eps.map(listed)).select(lit(c).as("__c"))
      tagged(committed, c = true).unionByName(tagged(orphan, c = false)).agg(
          lit(s"${table}_${t.suffix}").as("table"),
          count(when(col("__c"), 1)).as("rows_committed"),
          count(when(!col("__c"), 1)).as("rows_orphan"),
          lit(orphan.size.toLong).as("orphan_epochs"),
          lit(s.m.eps.size.toLong).as("committed_epochs"),
          lit(listed.values.map(_._2.length.toLong).sum).as("files"))
    }.reduce(_ unionByName _).orderBy(col("table"))
  }
}

object IndexStore {

  /** A table `<index>_<suffix>` bucketed and sorted by `key`; epoch-gated
    * tables hold the appendable corpus rows. */
  final case class Table(suffix: String, key: String, epochGated: Boolean)

  /** A batch prepared for [[IndexStore.append]]: `ids` is the one-column
    * frame the duplicate check joins on the family's id column, `rows` one
    * frame per gated table, and `commit` the family's own meta update at
    * COMMIT. `ids` runs after ALLOCATE, `rows` after it. */
  final case class Batch[M](
      ids: () => DataFrame,
      rows: () => Map[String, DataFrame],
      commit: M => M = (m: M) => m)

  /** The decoded meta file: the typed meta, the stored layout string and
    * each table's schema (empty for an index written before epoch
    * directories, whose meta has no `schema` key). */
  private[graft] final case class Stored[M](m: M, layout: String, schema: Map[String, StructType])

  private def bucketSpec(key: String, buckets: Int) = BucketSpec(buckets, Seq(key), Seq(key))

  /** THE WRITER: `df` as the bucketed parquet directory `dir` (replacing
    * whatever a torn earlier attempt left there), bucketed and sorted by
    * `key` — the file-format insert `saveAsTable` runs, with no catalog
    * table. */
  private[graft] def land(df: DataFrame, dir: Path, key: String, buckets: Int): Unit =
    GraftShim.ofRows(df.sparkSession, InsertIntoHadoopFsRelationCommand(dir, Map.empty,
      ifPartitionNotExists = false, Nil, Some(bucketSpec(key, buckets)), new ParquetFileFormat,
      Map.empty, df.queryExecution.analyzed, SaveMode.Overwrite, None, None, df.columns.toSeq))

  private def dataDir(spark: SparkSession, table: String, suffix: String): Path =
    Bucketing.managedDir(spark, s"${table}_$suffix")

  private[graft] def epochDir(spark: SparkSession, table: String, suffix: String, ep: Long): Path =
    new Path(dataDir(spark, table, suffix), s"ep-$ep")

  private def epochOf(name: String): Option[Long] =
    if (name.startsWith("ep-")) name.stripPrefix("ep-").toLongOption else None

  /** The entries of a table directory (none when it does not exist). */
  private def listing(spark: SparkSession, table: String, suffix: String) =
    try Bucketing.hadoopFs(spark).listStatus(dataDir(spark, table, suffix)).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Every epoch directory of a table, committed or not, by epoch. */
  private def epochDirs(spark: SparkSession, table: String, suffix: String): Map[Long, Path] =
    listing(spark, table, suffix).filter(_.isDirectory).flatMap { s =>
      epochOf(s.getPath.getName).map(_ -> s.getPath)
    }.toMap

  /** Epoch `e`'s directory among `dirs` with its data files, listed on the
    * driver by one plain `listStatus` (a located listing would stat every
    * file for its permissions); None once it is gone (a compaction swept
    * it). The files of a torn write's `_temporary` tree are no data files. */
  private def epochFiles(spark: SparkSession, dirs: Map[Long, Path],
      e: Long): Option[(Path, Array[FileStatus])] =
    dirs.get(e).flatMap { d =>
      try Some(d -> Bucketing.hadoopFs(spark).listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-")))
      catch { case _: java.io.FileNotFoundException => None }
    }

  private val Json = new ObjectMapper()

  private def parse(what: String, bytes: Array[Byte]): JsonNode = {
    val o = try Json.readTree(bytes) catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(s"$what is not JSON: ${e.getMessage}", e)
    }
    require(o != null && o.isObject, s"$what is not a JSON object")
    o
  }

  /** The `schema` key: each table's schema by suffix; empty when the key is
    * absent (an index written before epoch directories). */
  private def schemaOf(what: String, o: JsonNode): Map[String, StructType] =
    Option(o.get("schema")).map { v =>
      def bad = throw new IllegalStateException(
        s"$what: field 'schema' is not an object of table schemas (found ${v.getNodeType} $v)")
      if (!v.isObject) bad
      v.fields.asScala.map { e =>
        e.getKey -> scala.util.Try(DataType.fromJson(e.getValue.toString)).toOption
          .collect { case st: StructType => st }.getOrElse(bad)
      }.toMap
    }.getOrElse(Map.empty)

  /** `<warehouse>/<table>_meta`, the directory the table form used too. */
  private def metaDir(spark: SparkSession, table: String): Path =
    Bucketing.managedDir(spark, s"${table}_meta")

  private[graft] def metaFile(spark: SparkSession, table: String): Path =
    new Path(metaDir(spark, table), "meta.json")

  private def sibling(live: Path, ext: String) = new Path(live.getParent, live.getName + ext)

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"index _meta swap: rename $from -> $to failed")

  /** The meta files skip Hadoop's `.crc` side files: the file is tiny, its
    * decode by key and type is its integrity check, and a meta written by
    * any other tool must not fail every read on a stale checksum. */
  private def metaFs(spark: SparkSession): FileSystem = Bucketing.hadoopFs(spark) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  /** The meta file's path and bytes, or None when no meta survives.
    * READ-ONLY — probes are unrestricted readers and may run beside a
    * writer mid-swap, so a read never renames or deletes. While the live
    * file is missing (between the swap's two renames, or after a kill
    * there) the meta is the original `.old`, else the `.tmp` that was
    * complete before the swap's first rename. A candidate that vanishes
    * under the read (the writer moved on) sends it round again, twice at
    * most. */
  private def readMeta(spark: SparkSession, table: String): Option[(Path, Array[Byte])] = {
    val fs = metaFs(spark)
    val live = metaFile(spark, table)
    val candidates = Seq(live, sibling(live, ".old"), sibling(live, ".tmp"))
    def read(p: Path): Option[(Path, Array[Byte])] =
      try {
        val in = fs.open(p)
        try Some(p -> in.readAllBytes()) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    def round(left: Int): Option[(Path, Array[Byte])] =
      candidates.iterator.map(read).collectFirst { case Some(r) => r } match {
        case None if left > 0 && candidates.exists(fs.exists) => round(left - 1)
        case r => r
      }
    round(2)
  }

  /** Land `bytes` as the live meta file through the crash-atomic swap (see
    * STAGED COMMIT); `faultTag`, when non-null, arms `<tag>.staged`,
    * `<tag>.aside` and `<tag>.renamed`. Writers only (single-writer
    * contract): first repairs a torn earlier swap the way reads see it —
    * a missing live file is restored from `.old`, else from `.tmp` — then
    * clears the stale leftovers. */
  private def swapIn(spark: SparkSession, table: String, bytes: Array[Byte],
      faultTag: String): Unit = {
    def point(w: String): Unit = if (faultTag != null) Faults.point(s"$faultTag.$w")
    val fs = metaFs(spark)
    val live = metaFile(spark, table)
    val (tmp, old) = (sibling(live, ".tmp"), sibling(live, ".old"))
    if (!fs.exists(live)) Seq(old, tmp).find(fs.exists).foreach(rename(fs, _, live))
    Seq(tmp, old).foreach(fs.delete(_, false))
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    point("staged")
    if (fs.exists(live)) {
      rename(fs, live, old)
      point("aside")
      rename(fs, tmp, live)
      point("renamed")
      fs.delete(old, false)
    } else rename(fs, tmp, live)
  }

  private def toJson(t: DataType, v: Any): JsonNode = (t, v) match {
    case (IntegerType, i: Int) => IntNode.valueOf(i)
    case (LongType, l: Long) => LongNode.valueOf(l)
    case (StringType, s: String) => TextNode.valueOf(s)
    case (ArrayType(LongType, _), ls: Seq[_]) =>
      val a = Json.createArrayNode()
      ls.foreach(l => a.add(l.asInstanceOf[Long]))
      a
    case _ => throw new IllegalArgumentException(s"index _meta cannot store $v as ${t.simpleString}")
  }

  /** One meta value by key, boxed for the case-class constructor. */
  private def fromJson(what: String, key: String, t: DataType, v: JsonNode): AnyRef = {
    def long(n: JsonNode) = n.isIntegralNumber && n.canConvertToLong
    def bad = throw new IllegalStateException(
      if (v == null) s"$what: field '$key' is missing"
      else s"$what: field '$key' is not ${t.simpleString} (found ${v.getNodeType} $v)")
    t match {
      case IntegerType => if (v != null && v.isIntegralNumber && v.canConvertToInt) Int.box(v.intValue) else bad
      case LongType => if (v != null && long(v)) Long.box(v.longValue) else bad
      case StringType => if (v != null && v.isTextual) v.textValue else bad
      case ArrayType(LongType, _) =>
        if (v != null && v.isArray && v.elements.asScala.forall(long))
          v.elements.asScala.map(_.longValue).toVector
        else bad
      case _ => throw new IllegalArgumentException(s"index _meta cannot store ${t.simpleString}")
    }
  }
}
