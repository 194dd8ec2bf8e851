package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) with the
  * reference's missing-value canonicalization applied on ingest.
  *
  * The reference treats NaN as missing everywhere (isNA covers null, empty
  * Nullable, Double.NaN, Single.NaN — reference src/Common/Common.fs:264-293,
  * canonicalized at vector construction, src/Vectors/ArrayVector.fs:57-67).
  * Spark SQL distinguishes NaN from null, so we canonicalize NaN→null on every
  * float/double column at ingestion (SURVEY §1.2). This is a pure projection:
  * Catalyst still pushes filters/pruning through it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Memo of the LAZY canonicalized DataFrame per (session, dir, name) —
    * METADATA reuse only, never data: a DataFrame is an immutable logical
    * plan, so handing the same handle back re-runs the full scan on every
    * execution exactly like a catalog table would (production reads these
    * through a metastore entry resolved once; `spark.read.parquet` per
    * call re-resolves the relation — measured r17 at ~55-70 ms of
    * driver-side footer/relation work PER CALL, paid 1-3x inside every
    * timed query). Keyed by session (child sessions resolve their own);
    * the test tables are immutable inputs, so the file-list snapshot in
    * the relation can never go stale. LIFECYCLE CONTRACT: keys are strong
    * (a DataFrame pins its session anyway, so weak keys could never
    * collect) — call with LONG-LIVED sessions only (Verify/Bench/test
    * roots do; per-query stream child sessions go through [[rawSchema]],
    * which is session-free). Plan equivalence with a fresh read is pinned
    * by TablesMemoSpec. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, Boolean), DataFrame]()

  /** Read one table, NaN-canonicalized. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, dir, name, true),
      _ => canonical(nanosFixed(spark.read.parquet(s"$dir/$name.parquet"))))

  /** Read one table raw (no canonicalization). */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, dir, name, false),
      _ => nanosFixed(spark.read.parquet(s"$dir/$name.parquet")))

  /** Memoized ON-DISK schema of a table (no nanos normalization) — for
    * file-stream sources, which must declare the raw file schema
    * (`readStream.schema(...)`); the ts normalization happens inside the
    * stream plan. Same metadata-reuse contract as the DataFrame memo.
    *
    * Keyed WITHOUT the session: a StructType is session-free, and the
    * footer schema depends only on the files plus the two parquet-reader
    * confs that change how timestamp columns surface — both are in the
    * key, so a session with different settings can never read a stale
    * entry. (Keying by session would hold every per-call stream session
    * strongly forever AND miss the cache for them; this key leaks
    * nothing and hits for every session.) */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), StructType]()
  def rawSchema(spark: SparkSession, dir: String, name: String): StructType = {
    val key = (dir, name,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"))
    schemaMemo.computeIfAbsent(key,
      _ => spark.read.parquet(s"$dir/$name.parquet").schema)
  }

  /** Spark's TimestampType is µs; the events table has been written by the
    * generator either as parquet INT64 TIMESTAMP(NANOS) (Spark 4 reads it
    * under spark.sql.legacy.parquet.nanosAsLong=true as a nanos LongType) or
    * as timestamp[us] without timezone (read as TIMESTAMP_NTZ). Normalize
    * both to plain TimestampType: watermarks, unix_micros and long-epoch
    * casts downstream all require the instant-typed flavor. Sessions here
    * run with spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast preserves
    * the stored micros value exactly. Column metadata isn't carried for
    * this, so we key off the one known column name. */
  private val nanosCols = Set("ts")
  private def nanosFixed(df: DataFrame): DataFrame = {
    val fix = df.schema.fields.filter(f =>
      nanosCols(f.name) &&
        (f.dataType == LongType || f.dataType == TimestampNTZType))
    // integral `div`, NOT `/`: SQL divide on longs returns double, which
    // loses precision above 2^53 (epoch-nanos ≈ 1.7e18)
    fix.foldLeft(df)((d, f) =>
      d.withColumn(f.name, f.dataType match {
        case LongType => timestamp_micros(expr(s"${f.name} div 1000"))
        case _        => col(f.name).cast(TimestampType)
      }))
  }

  /** NaN→null on all floating-point columns (reference isNA semantics). */
  def canonical(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(f =>
      f.dataType == DoubleType || f.dataType == FloatType)
    if (!needs) df
    else {
      val cols = df.schema.fields.map { f =>
        f.dataType match {
          case DoubleType | FloatType =>
            when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)).as(f.name)
          case _ => col(f.name)
        }
      }
      df.select(cols.toIndexedSeq: _*)
    }
  }
}
