package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{IntNode, LongNode, TextNode}
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

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
  * compact, cross-session recover, ensure, describe, and the committed-rows
  * view every probe and audit reads. A family declares its tables, its
  * typed `_meta` case class and a few hooks (audit, parameter identity,
  * the append's `prepare`, optional staged check); the order of every step,
  * its overlaps ([[graft.functions.Par]]), guards and crash points live
  * here once.
  *
  * STORAGE. An index `t` is the bucketed managed tables `t_<suffix>` its
  * family declares plus its meta: ONE small JSON file,
  * `<warehouse>/t_meta/meta.json`, written and read through the Hadoop
  * `FileSystem` the [[MaintenanceLease]] uses — no Spark job, no SQL
  * execution, no catalog entry. The file is one object keyed by column
  * name (camelCase field `corpusFp` is key `corpus_fp`) in field order,
  * followed by a `layout` key; it is decoded by key and JSON type, and a
  * missing or mistyped key fails loudly naming it. `layout` is the index's
  * own bucket spec, `<suffix>:<key>:<buckets>` per table, derived from the
  * declaration — a surviving warehouse directory is self-describing, which
  * is what [[recover]] re-registers from. Epoch-gated tables hold the corpus
  * rows, bucketed `buckets` ways, every row carrying the epoch `ep` that
  * staged it; the others are model tables written once at publish into one
  * bucket. A `t_meta` directory holding `part-*` parquet files instead is
  * the one-row bucketed table earlier warehouses were written with;
  * [[recover]] migrates it to the file once.
  *
  * STAGED COMMIT. Only rows whose `ep` is in `_meta.eps` are visible to
  * probes, audits and duplicate checks ([[IndexStore.committed]]). An
  * append reads the stored meta inside the lease and hands it to the
  * family's `prepare: M => Batch[M]`, which readies the batch (IVF and PQ
  * collect their stored models there beside the batch quantization; LSH
  * leaves its shingling to the duplicate check), then runs three ordered
  * writes:
  *   - ALLOCATE: `_meta` bumps `next_ep` only (a crash after it wastes one
  *     epoch number, nothing else); the committed-rows duplicate check runs
  *     after it;
  *   - STAGE: the batch rows land in every epoch-gated table carrying the
  *     fresh epoch — a crash during, between or after these writes leaves
  *     probes returning exactly the pre-append results, and the retry is
  *     the repair (it stages under a new epoch);
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
  * Orphaned epochs are garbage-collected by [[compact]], which rewrites the
  * gated tables keeping committed rows at epoch 0 and resets `eps` to [0].
  *
  * SINGLE WRITER. Maintenance (append, compact, recover) assumes one writer
  * at a time: the allocator is read-bump-write. Append and compact run
  * under the advisory [[MaintenanceLease]], so a second writer waits for
  * the window; publish owns the index name and clears a dead writer's
  * lease. The lease is best-effort, so detection stays armed behind it: an
  * append re-reads `_meta` after ALLOCATE (allocator-collision guard) and
  * before COMMIT (pre-commit guard), and a loser that slipped past the
  * lease aborts loudly with the index exactly as the winner committed it.
  * Probes are unrestricted readers throughout.
  *
  * CRASH POINTS ([[Faults]], `<family>` = lsh | ivf | pq):
  * `<family>.append.allocated` and `<family>.append.staged` between the
  * append's writes; `<family>.append.commit.{staged,aside,renamed}` inside
  * the commit swap; `<family>.compact.<suffix>.{staged,aside,renamed}`
  * inside each gated table's compaction swap;
  * `<family>.compact.commit.{staged,aside,renamed}` inside the meta
  * normalisation.
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
    * the committed rows of `m.eps`. */
  def audit(spark: SparkSession, table: String, m: M, strict: Boolean): Unit

  /** The stored parameters a caller must match to reuse the index. */
  def params(m: M): Product
  def paramNames: String

  /** Extra completeness check on epoch `ep`'s staged rows, run before the
    * commit's pre-commit guard read. */
  def stagedCheck(spark: SparkSession, table: String, m: M, ep: Long): Unit = ()

  private val gated = tables.filter(_.epochGated)
  private def bucketsOf(t: Table, m: M) = if (t.epochGated) m.buckets else 1
  private def name(table: String, t: Table) = s"${table}_${t.suffix}"

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

  /** The file form: one JSON object, keys in field order, then `layout`. */
  private def encode(m: M, layout: String): Array[Byte] = {
    val o = Json.createObjectNode()
    keys.zip(types).zip(m.productIterator.toSeq :+ layout).foreach {
      case ((k, t), v) => o.set[JsonNode](k, toJson(t, v))
    }
    Json.writeValueAsBytes(o)
  }

  /** The typed meta and the stored layout string, decoded by key. */
  private def decode(what: String, bytes: Array[Byte]): (M, String) = {
    val o = try Json.readTree(bytes) catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(s"$what is not JSON: ${e.getMessage}", e)
    }
    require(o != null && o.isObject, s"$what is not a JSON object")
    val vs = keys.zip(types).map { case (k, t) => fromJson(what, k, t, o.get(k)) }
    (ctor.newInstance(vs.init: _*).asInstanceOf[M], vs.last.asInstanceOf[String])
  }

  private def writeMeta(spark: SparkSession, table: String, m: M,
      faultTag: String = null): Unit =
    swapIn(spark, table, encode(m, layout(m)), faultTag)

  /** The typed meta and the stored layout string, in one read; `missing`
    * is the failure when no meta file survives. */
  private def readStored(spark: SparkSession, table: String,
      missing: => String = null): (M, String) = {
    val found = readMeta(spark, table)
    require(found.nonEmpty,
      if (missing != null) missing
      else s"index '$table' has no _meta file (${metaFile(spark, table)}) — publish it, " +
        s"or recover it from a surviving warehouse via recover${title}Index")
    val (path, bytes) = found.get
    decode(s"index '$table' _meta file $path", bytes)
  }

  /** The stored meta — the one read every step, probe and spec goes through. */
  private[graft] def storedMeta(spark: SparkSession, table: String): M =
    readStored(spark, table)._1

  private def checkCorpus(entry: String, table: String, m: M, expected: String): Unit =
    require(m.corpusFp == expected,
      s"$entry: index '$table' was published over corpus '${m.corpusFp}' but the " +
        s"caller expects '$expected'")

  /** PUBLISH: `build` returns the meta (epochs default to [0]) and one frame
    * per declared table; data and model writes overlap and `_meta` lands
    * last, into a cleared directory (a table-form or torn leftover of an
    * earlier index under this name never survives a publish). */
  def publish(spark: SparkSession, table: String)(build: => (M, Map[String, DataFrame])): Unit = {
    MaintenanceLease.clear(spark, table)
    val (m, frames) = build
    Par.all(tables.map { t =>
      val df = frames(t.suffix)
      () => Bucketing.saveBucketed(
        if (t.epochGated) Par.narrowForWrite(df.withColumn("ep", lit(0L))) else df,
        name(table, t), t.key, bucketsOf(t, m))
    })
    Bucketing.hadoopFs(spark).delete(metaDir(spark, table), true)
    writeMeta(spark, table, m)
  }

  /** APPEND under the staged-commit protocol: `prepare` readies the batch
    * under the stored meta inside the lease, before ALLOCATE. */
  def append(batch: DataFrame, table: String, newCorpusFp: String)(
      prepare: M => Batch[M]): Unit = {
    val spark = batch.sparkSession
    val entry = s"append${title}Index"
    MaintenanceLease.withLease(spark, table) {
      val m = storedMeta(spark, table)
      val ep = m.nextEp
      val b = prepare(m)
      writeMeta(spark, table, m.withEpochs(m.corpusFp, m.eps, ep + 1L))
      // the duplicate check (for LSH it also shingles the batch) reads
      // committed rows only: orphans of a torn attempt must not block its retry
      val dup = b.ids().join(committed(spark, s"${table}_$idTable", m.eps), Seq(idCol),
        "left_semi").limit(1).count()
      require(dup == 0,
        s"$entry: batch contains ids already present in index '$table' — append " +
          "would duplicate their probe rows; dedup the batch first")
      val rows = b.rows()
      Faults.point(s"$family.append.allocated")
      // ALLOCATOR-COLLISION GUARD: a racer that allocated after our read
      // leaves next_ep != ep+1 — abort before staging a doomed epoch
      val ne = storedMeta(spark, table).nextEp
      require(ne == ep + 1L,
        s"$entry: allocator collision on '$table' (next_ep=$ne, expected ${ep + 1}) — " +
          "another writer is appending concurrently; index maintenance is " +
          "single-writer, retry after it completes")
      Par.all(gated.map { t =>
        () => Par.narrowForWrite(rows(t.suffix).withColumn("ep", lit(ep)))
          .write.mode("append").bucketBy(m.buckets, t.key).sortBy(t.key)
          .format("parquet").saveAsTable(name(table, t))
      })
      Faults.point(s"$family.append.staged")
      stagedCheck(spark, table, m, ep)
      // PRE-COMMIT GUARD: a racer that committed first left our epoch in eps
      // or bumped next_ep past ours — leave the winner's commit standing
      val mc = storedMeta(spark, table)
      require(mc.nextEp == ep + 1L && !mc.eps.contains(ep),
        s"$entry: lost an append race on '$table' (next_ep=${mc.nextEp}, " +
          s"eps=${mc.eps.mkString(",")}, ours=$ep) — NOT committed; index " +
          "maintenance is single-writer")
      writeMeta(spark, table, b.commit(m).withEpochs(newCorpusFp, m.eps :+ ep, ep + 1L),
        faultTag = s"$family.append.commit")
    }
  }

  /** COMPACT: rewrite every gated table at the stored bucket spec, dropping
    * orphaned epochs and moving committed rows to epoch 0 (safe in any crash
    * order: 0 is always committed), then the meta normalisation, then the
    * strict audit of the post-state. */
  def compact(spark: SparkSession, table: String): Unit =
    MaintenanceLease.withLease(spark, table) {
      val m = storedMeta(spark, table)
      val gc: DataFrame => DataFrame =
        df => df.where(col("ep").isin(m.eps: _*)).withColumn("ep", lit(0L))
      Par.all(gated.map { t =>
        () => Bucketing.compactBucketed(spark, name(table, t), t.key, m.buckets, gc,
          faultTag = s"$family.compact.${t.suffix}")
      })
      val done = m.withEpochs(m.corpusFp, Seq(0L), 1L)
      writeMeta(spark, table, done, faultTag = s"$family.compact.commit")
      audit(spark, table, done, strict = true)
    }

  /** CROSS-SESSION RECOVERY after a restart lost the catalog entries but
    * not the warehouse directories: migrate a table-form `_meta` to the file
    * form, check the fingerprint when `expectedCorpusFp` is given, re-adopt
    * the data tables from the stored layout (which must be this family's),
    * then certify with the strict audit on the meta already read. Metadata
    * operations plus one linear audit; no data is rewritten. */
  def recover(spark: SparkSession, table: String, expectedCorpusFp: String): Unit = {
    val entry = s"recover${title}Index"
    migrateLegacy(spark, table)
    val (m, stored) = readStored(spark, table,
      s"$entry: no surviving _meta for index '$table' — nothing to " +
        s"recover; republish via publish${title}Index")
    if (expectedCorpusFp != null) checkCorpus(entry, table, m, expectedCorpusFp)
    // a foreign layout means the directory belongs to another family or the
    // caller named the wrong table: adopting it under this family's spec
    // would produce silently wrong bucketed joins
    require(stored == layout(m),
      s"$entry: '$table' _meta declares layout '$stored' but this family expects " +
        s"'${layout(m)}' — wrong index family or table name")
    // the tables' adoptions are independent (disjoint directories and
    // catalog entries): overlap them, settling all before any rethrow
    Par.all(tables.map { t =>
      () => require(
        Bucketing.recoverBucketedTable(spark, name(table, t), t.key, bucketsOf(t, m)),
        s"$entry: no surviving directory for '${name(table, t)}' — index data lost; republish")
    })
    audit(spark, table, m, strict = true)
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
        val (m, stored) = decode(s"index '$table' table-form _meta", legacyMeta.head.json.getBytes("UTF-8"))
        swapIn(spark, table, encode(m, stored), null)
      }
      fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") || p.getName == "_SUCCESS")
        .foreach(fs.delete(_, false))
    }
  }

  /** Publish only when a table or the meta is missing (a torn meta swap
    * reads as present, see `readMeta`); an existing index must
    * carry this corpus's fingerprint and the requested parameters. */
  def ensure(spark: SparkSession, table: String, corpusFp: String, asked: Product)(
      publish: => Unit): Unit = {
    val entry = s"ensure${title}Index"
    val names = tables.map(name(table, _))
    names.foreach(Bucketing.healIfTorn(spark, _))
    if (!(names.forall(spark.catalog.tableExists) && readMeta(spark, table).nonEmpty)) publish
    else {
      val m = storedMeta(spark, table)
      checkCorpus(entry, table, m, corpusFp)
      require(params(m) == asked,
        s"$entry: index '$table' exists with $paramNames = ${params(m)} but the " +
          s"caller requested $asked — drop the tables to retrain, or pass the " +
          "published params")
    }
  }

  /** The meta a probe runs under, after its fingerprint (and, when given,
    * parameter) check. */
  def probeMeta(spark: SparkSession, table: String, corpusFp: String,
      asked: Option[Product] = None): M = {
    val entry = s"probe${title}Index"
    val m = storedMeta(spark, table)
    asked.foreach(a => require(params(m) == a,
      s"$entry: index '$table' was published with $paramNames = ${params(m)} but " +
        s"the caller requested $a"))
    checkCorpus(entry, table, m, corpusFp)
    m
  }

  def assertConsistent(spark: SparkSession, table: String, strict: Boolean): Unit =
    audit(spark, table, storedMeta(spark, table), strict)

  /** Committed vs orphan rows and epochs plus the file count of each gated
    * table ([[Bucketing.epochReport]]). */
  def describe(spark: SparkSession, table: String): DataFrame =
    Bucketing.epochReport(spark, gated.map(name(table, _)), storedMeta(spark, table).eps)
}

object IndexStore {

  /** A table `<index>_<suffix>` bucketed and sorted by `key`; epoch-gated
    * tables hold the appendable corpus rows. */
  final case class Table(suffix: String, key: String, epochGated: Boolean)

  /** A batch prepared for [[IndexStore.append]]: `ids` is the one-column
    * frame the duplicate check joins on the family's id column, `rows` one
    * frame per gated table (without `ep`), and `commit` the family's own
    * meta update at COMMIT. `ids` runs after ALLOCATE, `rows` after it. */
  final case class Batch[M](
      ids: () => DataFrame,
      rows: () => Map[String, DataFrame],
      commit: M => M = (m: M) => m)

  /** Committed-epoch view of an index data table — what every probe,
    * audit and duplicate check reads. Each append's files hold one `ep`
    * value, so parquet statistics skip orphan files wholesale. */
  def committed(spark: SparkSession, table: String, eps: Seq[Long]): DataFrame = {
    Bucketing.healIfTorn(spark, table)
    spark.table(table).where(col("ep").isin(eps: _*))
  }

  private val Json = new ObjectMapper()

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
