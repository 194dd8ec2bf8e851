package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset snapshot diff — the versioned-lake audit primitive: given two
  * versions of a keyed table, classify every key as added / removed /
  * changed / unchanged. The payload comparison is ONE md5 over the
  * null-sentineled concat of the non-key columns, computed map-side on
  * each leg, so the full-outer join that aligns versions shuffles only
  * (key, 32-byte hash) — never the wide payload twice — and the classify
  * is a codegen'd null/equality check. At 100 TB both versions partition
  * on the key, the join co-locates, and the diff is a single shuffle
  * (or zero with bucketed layouts, see [[graft.sources.Bucketing]]).
  */
object Diff {

  /** Null-safe payload fingerprint: `md5(concat_ws)` with a per-column
    * null sentinel so (NULL, "x") and ("x", NULL) differ. */
  private def payloadHash(df: DataFrame, keyCol: String): Column = {
    val payload = df.columns.filterNot(_ == keyCol).sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null")))
    md5(concat_ws("\u0001", payload.toSeq: _*))
  }

  /** Per-key diff classification: (key, status) with status ∈
    * added | removed | changed | unchanged. Keys must be unique per
    * version (enforce upstream — this is the lake-table contract). */
  def snapshotDiff(oldV: DataFrame, newV: DataFrame, keyCol: String): DataFrame = {
    val o = oldV.select(col(keyCol).as("__k"), payloadHash(oldV, keyCol).as("__ho"))
    val n = newV.select(col(keyCol).as("__k"), payloadHash(newV, keyCol).as("__hn"))
    o.join(n, Seq("__k"), "full_outer")
      .select(col("__k").as(keyCol),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") =!= col("__hn"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** REFERENTIAL-INTEGRITY audit for one FK edge — the lake-quality gate
    * run before every downstream join is trusted: orphan children (FK
    * value with no parent), childless parents, null FKs, and duplicate
    * parent keys (which would fan out an equi-join). One row out per
    * audited edge; label it with `fkName` so several edges union into one
    * report. Two key-domain aggregates + two anti-join counts — children
    * collapse to their FK VALUE DOMAIN first, so the heavy side is
    * touched once. */
  def fkAudit(
      fkName: String,
      child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val ck = child.select(col(childKey).as("__k"))
    val pk = parent.select(col(parentKey).as("__k"))
    // the two key-domain materializations are independent (different
    // tables) — overlap their checkpoint jobs instead of paying two
    // sequential job latencies per audited edge (r18, guide §2.6)
    val domain = (k: DataFrame) => k.where(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true)
    val (ckDom, pkDom) = graft.functions.Par.both(domain(ck), domain(pk))
    val nullFk = ck.where(col("__k").isNull)
      .agg(count(lit(1)).as("n")).select(col("n"))
    val orphan = ckDom.join(pkDom.select(col("__k")), Seq("__k"), "left_anti")
      .agg(coalesce(sum(col("__cnt")), lit(0L)).as("n"))
    val childless = pkDom.join(ckDom.select(col("__k")), Seq("__k"), "left_anti")
      .agg(coalesce(sum(col("__cnt")), lit(0L)).as("n"))
    val dupParent = pkDom.where(col("__cnt") > 1)
      .agg(coalesce(sum(col("__cnt")), lit(0L)).as("n"))
    val totals = ckDom.agg(sum(col("__cnt")).as("nc"))
      .crossJoin(pkDom.agg(sum(col("__cnt")).as("np")))
    totals
      .crossJoin(nullFk.select(col("n").as("n_null_fk")))
      .crossJoin(orphan.select(col("n").as("n_orphan_child")))
      .crossJoin(childless.select(col("n").as("n_childless_parent")))
      .crossJoin(dupParent.select(col("n").as("n_dup_parent_rows")))
      .select(lit(fkName).as("fk"),
        coalesce(col("nc"), lit(0L)).as("n_child"),
        coalesce(col("np"), lit(0L)).as("n_parent"),
        col("n_null_fk"), col("n_orphan_child"),
        col("n_childless_parent"), col("n_dup_parent_rows"))
  }
}
