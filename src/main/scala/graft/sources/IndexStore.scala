package graft.sources

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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
  * family declares plus `t_meta`, a one-row table holding the typed meta
  * (written and read by column NAME: camelCase field `corpusFp` is column
  * `corpus_fp`) followed by a `layout` column. `layout` is the index's own
  * bucket spec, `<suffix>:<key>:<buckets>` per table, derived from the
  * declaration — a surviving warehouse directory is self-describing, which
  * is what [[recover]] re-registers from. Epoch-gated tables hold the corpus
  * rows, bucketed `buckets` ways, every row carrying the epoch `ep` that
  * staged it; the others are model tables written once at publish into one
  * bucket.
  *
  * STAGED COMMIT. Only rows whose `ep` is in `_meta.eps` are visible to
  * probes, audits and duplicate checks ([[IndexStore.committed]]). An
  * append reads the stored meta inside the lease and hands it to the
  * family's `prepare: M => Batch[M]`, which readies the batch (IVF and PQ
  * collect their stored models there beside the batch quantization; LSH
  * leaves its shingling to the duplicate check), then runs three ordered
  * writes:
  *   - ALLOCATE: `_meta` bumps `next_ep` only (a crash after it wastes one
  *     epoch number, nothing else); it overlaps the committed-rows duplicate
  *     check and settles before the append goes on or throws;
  *   - STAGE: the batch rows land in every epoch-gated table carrying the
  *     fresh epoch — a crash during, between or after these writes leaves
  *     probes returning exactly the pre-append results, and the retry is
  *     the repair (it stages under a new epoch);
  *   - COMMIT: `_meta` lands last with the epoch added to `eps` and the new
  *     fingerprint — the single visibility flip, itself a crash-atomic
  *     rename swap ([[Bucketing.saveBucketedAtomic]]), so a kill inside it
  *     leaves old-or-new meta fully readable after [[Bucketing.healIfTorn]],
  *     which every meta and data open runs.
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
  * messages with `title` (`appendLshIndex`), the `_meta` bucket column with
  * `metaKey`, and the duplicate check's table and id column with `idTable`
  * and `idCol`. */
abstract class IndexStore[M <: Product with IndexMeta[M]](
    family: String,
    title: String,
    metaKey: String,
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
    * commit (overlapped with the pre-commit guard read). */
  def stagedCheck(spark: SparkSession, table: String, m: M, ep: Long): Unit = ()

  private val gated = tables.filter(_.epochGated)
  private def bucketsOf(t: Table, m: M) = if (t.epochGated) m.buckets else 1
  private def name(table: String, t: Table) = s"${table}_${t.suffix}"

  private def layout(m: M): String =
    tables.map(t => s"${t.suffix}:${t.key}:${bucketsOf(t, m)}").mkString(",")

  private val fields = enc.schema.fields
  private def column(field: String) = field.replaceAll("([A-Z])", "_$1").toLowerCase
  private val metaSchema = StructType(
    fields.map(f => f.copy(name = column(f.name))) :+ StructField("layout", StringType))
  private val storedEnc = Encoders.tuple(enc, Encoders.STRING)

  private def writeMeta(spark: SparkSession, table: String, m: M,
      faultTag: String = null): Unit =
    Bucketing.saveBucketedAtomic(
      spark.createDataFrame(
        java.util.List.of(Row.fromSeq(m.productIterator.toSeq :+ layout(m))), metaSchema),
      s"${table}_meta", metaKey, 1, faultTag = faultTag)

  /** The typed meta and the stored layout string, in one read. */
  private def readStored(spark: SparkSession, table: String): (M, String) = {
    Bucketing.healIfTorn(spark, s"${table}_meta")
    spark.table(s"${table}_meta")
      .select(struct(fields.map(f => col(column(f.name)).as(f.name)).toSeq: _*).as("_1"),
        col("layout").as("_2"))
      .as(storedEnc).head()
  }

  private def readMeta(spark: SparkSession, table: String): M = readStored(spark, table)._1

  private def checkCorpus(entry: String, table: String, m: M, expected: String): Unit =
    require(m.corpusFp == expected,
      s"$entry: index '$table' was published over corpus '${m.corpusFp}' but the " +
        s"caller expects '$expected'")

  /** PUBLISH: `build` returns the meta (epochs default to [0]) and one frame
    * per declared table; data and model writes overlap and `_meta` lands
    * last, so a torn publish fails every probe's meta open. */
  def publish(spark: SparkSession, table: String)(build: => (M, Map[String, DataFrame])): Unit = {
    MaintenanceLease.clear(spark, table)
    val (m, frames) = build
    Par.all(tables.map { t =>
      val df = frames(t.suffix)
      () => Bucketing.saveBucketed(
        if (t.epochGated) Par.narrowForWrite(df.withColumn("ep", lit(0L))) else df,
        name(table, t), t.key, bucketsOf(t, m))
    })
    writeMeta(spark, table, m)
  }

  /** APPEND under the staged-commit protocol: `prepare` readies the batch
    * under the stored meta inside the lease, before ALLOCATE. */
  def append(batch: DataFrame, table: String, newCorpusFp: String)(
      prepare: M => Batch[M]): Unit = {
    val spark = batch.sparkSession
    val entry = s"append${title}Index"
    MaintenanceLease.withLease(spark, table) {
      val m = readMeta(spark, table)
      val ep = m.nextEp
      val b = prepare(m)
      // ALLOCATE overlapped with the duplicate check (for LSH it also
      // shingles the batch; committed rows only: orphans of a torn attempt
      // must not block its retry); both settle before either is acted on
      val (_, dup) = Par.both(
        writeMeta(spark, table, m.withEpochs(m.corpusFp, m.eps, ep + 1L)),
        b.ids().join(committed(spark, s"${table}_$idTable", m.eps), Seq(idCol),
          "left_semi").limit(1).count())
      require(dup == 0,
        s"$entry: batch contains ids already present in index '$table' — append " +
          "would duplicate their probe rows; dedup the batch first")
      val rows = b.rows()
      Faults.point(s"$family.append.allocated")
      // ALLOCATOR-COLLISION GUARD: a racer that allocated after our read
      // leaves next_ep != ep+1 — abort before staging a doomed epoch
      val ne = readMeta(spark, table).nextEp
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
      // PRE-COMMIT GUARD: a racer that committed first left our epoch in eps
      // or bumped next_ep past ours — leave the winner's commit standing
      val (_, mc) = Par.both(stagedCheck(spark, table, m, ep), readMeta(spark, table))
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
    * order: 0 is always committed), then the strict audit of the post-state
    * overlapped with the meta normalisation — they touch different tables. */
  def compact(spark: SparkSession, table: String): Unit =
    MaintenanceLease.withLease(spark, table) {
      val m = readMeta(spark, table)
      val gc: DataFrame => DataFrame =
        df => df.where(col("ep").isin(m.eps: _*)).withColumn("ep", lit(0L))
      Par.all(gated.map { t =>
        () => Bucketing.compactBucketed(spark, name(table, t), t.key, m.buckets, gc,
          faultTag = s"$family.compact.${t.suffix}")
      })
      val done = m.withEpochs(m.corpusFp, Seq(0L), 1L)
      Par.both(audit(spark, table, done, strict = true),
        writeMeta(spark, table, done, faultTag = s"$family.compact.commit"))
    }

  /** CROSS-SESSION RECOVERY after a restart lost the catalog entries but
    * not the warehouse directories: re-adopt `_meta` (its spec is the
    * family constant), check the fingerprint when `expectedCorpusFp` is
    * given, re-adopt the data tables from the stored layout (which must be
    * this family's), then certify with the strict audit on the meta already
    * read. Metadata operations plus one linear audit; nothing is rewritten. */
  def recover(spark: SparkSession, table: String, expectedCorpusFp: String): Unit = {
    val entry = s"recover${title}Index"
    require(Bucketing.recoverBucketedTable(spark, s"${table}_meta", metaKey, 1),
      s"$entry: no surviving _meta directory for index '$table' — nothing to " +
        s"recover; republish via publish${title}Index")
    val (m, stored) = readStored(spark, table)
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

  /** Publish only when a table is missing (after healing torn swaps, which
    * must read as "exists"); an existing index must carry this corpus's
    * fingerprint and the requested parameters. */
  def ensure(spark: SparkSession, table: String, corpusFp: String, asked: Product)(
      publish: => Unit): Unit = {
    val entry = s"ensure${title}Index"
    val names = tables.map(name(table, _)) :+ s"${table}_meta"
    names.foreach(Bucketing.healIfTorn(spark, _))
    if (!names.forall(spark.catalog.tableExists)) publish
    else {
      val m = readMeta(spark, table)
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
    val m = readMeta(spark, table)
    asked.foreach(a => require(params(m) == a,
      s"$entry: index '$table' was published with $paramNames = ${params(m)} but " +
        s"the caller requested $a"))
    checkCorpus(entry, table, m, corpusFp)
    m
  }

  def assertConsistent(spark: SparkSession, table: String, strict: Boolean): Unit =
    audit(spark, table, readMeta(spark, table), strict)

  /** Committed vs orphan rows and epochs plus the file count of each gated
    * table ([[Bucketing.epochReport]]). */
  def describe(spark: SparkSession, table: String): DataFrame =
    Bucketing.epochReport(spark, gated.map(name(table, _)), readMeta(spark, table).eps)
}

object IndexStore {

  /** A table `<index>_<suffix>` bucketed and sorted by `key`; epoch-gated
    * tables hold the appendable corpus rows. */
  final case class Table(suffix: String, key: String, epochGated: Boolean)

  /** A batch prepared for [[IndexStore.append]]: `ids` is the one-column
    * frame the duplicate check joins on the family's id column, `rows` one
    * frame per gated table (without `ep`), and `commit` the family's own
    * meta update at COMMIT. `ids` runs beside ALLOCATE, `rows` after it. */
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
}
