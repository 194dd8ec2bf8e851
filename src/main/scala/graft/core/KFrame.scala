package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.AsOf

/** A keyed frame: the reference's `Frame<'R,'C>` (reference src/Frame.fs:24-26)
  * as a lazy DataFrame plus metadata — designated row-key column(s) and an
  * orderedness claim (SURVEY §1.5). Hierarchical row keys are simply multiple
  * key columns (reference tuple keys, src/Indices/MultiKey.fs). Columns stay
  * native Spark columns: the reference's per-column dynamic typing maps to
  * DataFrame, not Dataset[T].
  *
  * The reference's column-oriented IVector storage, VectorConstruction IR and
  * eager interpreter (SURVEY §3-4) are all replaced by Catalyst/Tungsten —
  * every method here only extends the logical plan.
  */
final case class KFrame(df: DataFrame, keyCols: Seq[String], ordered: Boolean = false) {

  private def keyed(d: DataFrame, ord: Boolean = ordered): KFrame = KFrame(d, keyCols, ord)

  def key: Column = col(keyCols.head)

  /** Columns that are not row-key columns (the "data" columns). */
  def dataCols: Seq[String] = df.columns.toSeq.filterNot(keyCols.contains)

  /** Numeric (float-convertible) data columns — the set frame arithmetic
    * touches (reference src/Frame.fs:442-459; non-numeric pass through,
    * SURVEY §7.4.6). */
  def numericCols: Seq[String] = df.schema.fields.collect {
    case f if !keyCols.contains(f.name) && f.dataType.isInstanceOf[NumericType] => f.name
  }.toSeq

  // ---- indexing (reference src/Frame.fs:850-855, src/FrameModule.fs:194-290) ----

  /** Frame.indexRows — promote column(s) to the row key. Metadata-only: no
    * shuffle, no job (unlike the reference which eagerly relocates every
    * column, reference src/Indices/LinearIndex.fs:340-350). */
  def indexRows(cols: String*): KFrame = KFrame(df, cols.toSeq, ordered = false)

  /** Declare the key ordered (sort realized lazily by ordered ops). */
  def sortRows: KFrame = KFrame(df.orderBy(keyCols.map(col): _*), keyCols, ordered = true)

  /** Frame.orderCols — sort the COLUMN axis by name (reference
    * src/FrameModule.fs:314-331). A pure `select` reorder: zero cost in the
    * plan. Key columns stay leftmost, as in the reference's row-key display. */
  def orderCols: KFrame = keyed(df.select((keyCols ++ dataCols.sorted).map(col): _*))

  /** indexRowsOrdinally — replace key with 0..n-1 in current key order.
    *
    * Positional access (`GetAt`) on an UNORDERED frame is deliberately not
    * offered: the reference returns values in whatever order the index
    * happens to hold (reference src/Series.fs:202-209 — nondeterministic
    * under any distributed layout). Here positions are always defined
    * against the key order: `sortRows`/`indexRowsOrdinally` first, then
    * positions are deterministic on any cluster.
    * Above `spark.graft.globalWindow.maxBytes` (single-key frames) the
    * numbering delegates to [[graft.operators.OrderedScan.rowNumber]] — the
    * global `Window.orderBy` form would serialize the frame through one
    * task. */
  def indexRowsOrdinally: KFrame = {
    val maxBytes = df.sparkSession.conf
      .get("spark.graft.globalWindow.maxBytes", KSeries.DefaultGlobalWindowMaxBytes.toString).toLong
    if (keyCols.size == 1 &&
        graft.operators.OrderedScan.supportsRangeBucket(df.schema(keyCols.head).dataType) &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes > maxBytes)
      KFrame(graft.operators.OrderedScan.rowNumber(df, keyCols.head, "__ord")
        .drop(keyCols: _*), Seq("__ord"), ordered = true)
    else {
      val w = Window.orderBy(keyCols.map(col): _*)
      KFrame(df.withColumn("__ord", (row_number().over(w) - 1).cast("long")).drop(keyCols: _*),
        Seq("__ord"), ordered = true)
    }
  }

  // ---- column ops (reference src/Frame.fs:315-414) ----

  /** frame.AddSeries — add a column by left-joining a series on the row key
    * (reference left-joins on row key, src/Frame.fs:315-380). */
  def addSeries(name: String, s: KSeries): KFrame = {
    val r = s.df.select(s.k.as(keyCols.head), s.v.as(name))
    keyed(df.join(r, Seq(keyCols.head), "left_outer"))
  }

  /** frame.AddSeries fast path — same index (any Column over this frame):
    * the reference's same-index fast path (src/Frame.fs:426-433) ≙ withColumn,
    * which never joins. */
  def addColumn(name: String, c: Column): KFrame = keyed(df.withColumn(name, c))

  def dropSeries(names: String*): KFrame = keyed(df.drop(names: _*))

  def getSeries(name: String): KSeries =
    KSeries(df.select(key.as("k"), col(name).as("v")), ordered = ordered)

  /** GetSeries<'R> — extraction with runtime conversion (reference
    * src/Frame.fs:383-406): cast realized as a Column cast. */
  def getSeriesAs(name: String, t: DataType): KSeries =
    KSeries(df.select(key.as("k"), col(name).cast(t).as("v")), ordered = ordered)

  // ---- row ops ----

  def filterRows(p: Column): KFrame = keyed(df.where(p))

  /** RowsDense — drop rows with any missing (reference src/Frame.fs:223-254). */
  def rowsDense: KFrame = keyed(df.na.drop("any"))

  /** dropSparseRows (reference src/FrameModule.fs:519-532). */
  def dropSparseRows: KFrame = rowsDense

  // ---- arithmetic (reference src/Frame.fs:442-586) ----

  /** Apply f to every numeric column; non-numeric columns pass through
    * untouched (reference semantics, test tests/.../Frame.fs:56-59). */
  def mapNumeric(f: Column => Column): KFrame = {
    val nums = numericCols.toSet
    keyed(df.select(df.columns.toIndexedSeq.map { c =>
      if (nums(c)) f(col(c)).as(c) else col(c)
    }: _*))
  }

  def +(s: Double): KFrame = mapNumeric(_ + s)
  def -(s: Double): KFrame = mapNumeric(_ - s)
  def *(s: Double): KFrame = mapNumeric(_ * s)
  def /(s: Double): KFrame = mapNumeric(_ / s)

  /** frame ⊙ series — apply `op` between every numeric column and the
    * series value aligned by row key (reference Frame.fs:442-586 series
    * overloads; test tests/.../Frame.fs:84-106). Rows without a series
    * value go missing (null arithmetic), like the reference. Reversed
    * operand order is `zipSeries(s)((c, v) => op(v, c))`. */
  def zipSeries(s: KSeries)(op: (Column, Column) => Column): KFrame = {
    require(keyCols.size == 1,
      "zipSeries aligns on the single row key (a KSeries has one key " +
        "column); collapse multi-level keys first")
    val r = s.df.select(s.k.as("__sk"), s.v.as("__sv"))
    val nums = numericCols.toSet
    val joined = df.join(r, key === col("__sk"), "left_outer")
    keyed(joined.select(df.columns.toIndexedSeq.map { c =>
      if (nums(c)) op(col(c), col("__sv")).as(c) else col(c)
    }: _*))
  }

  /** Frame.shift — move every data column by `offset` positions in row-key
    * order, keys stay (reference FrameModule shift over all columns; test
    * tests/.../Frame.fs:108-121). Ordered-only. Large unpartitioned frames
    * auto-route to the distributed positional shift (all columns in one
    * [[graft.operators.OrderedScan.shift]] pass). */
  def shift(offset: Int): KFrame = {
    require(ordered, "shift requires an ordered frame")
    // multi-level keys order by ALL levels (single-window form only — the
    // range-bucket route is single-key, same guard as indexRowsOrdinally)
    if (keyCols.size == 1 && graft.operators.OrderedScan.autoRoutes(df, keyCols.head))
      keyed(graft.operators.OrderedScan.shift(df, keyCols.head, dataCols, offset))
    else {
      val w = Window.orderBy(keyCols.map(col): _*)
      keyed(df.select((keyCols.map(col) ++ dataCols.map { c =>
        (if (offset >= 0) lag(col(c), offset).over(w)
         else lead(col(c), -offset).over(w)).as(c)
      }): _*))
    }
  }

  // ---- joins (reference src/Frame.fs:146-167) ----

  /** frame.Join — row-key join; column sets must be disjoint like the
    * reference (append of column indices fails on overlap). Equi join →
    * Catalyst picks broadcast/sort-merge/shuffled-hash. */
  def join(other: KFrame, kind: JoinKind = JoinKind.Outer): KFrame = {
    val overlap = dataCols.toSet.intersect(other.dataCols.toSet)
    require(overlap.isEmpty, s"Join: overlapping columns $overlap (reference requires disjoint)")
    val r = other.df.withColumnRenamed(other.keyCols.head, keyCols.head)
    keyed(df.join(r, Seq(keyCols.head), kind.spark), ord = false)
  }

  /** frame.Join with as-of lookup (reference src/Frame.fs:146-167 +
    * JoinHelpers.fs:63-75): left join where each left key takes the other
    * frame's values as-of its key. */
  def joinAsOf(other: KFrame, direction: Lookup): KFrame = {
    require(ordered && other.ordered, "as-of join requires ordered frames")
    keyed(AsOf.join(df, keyCols.head, other.df, other.keyCols.head,
      other.dataCols, direction), ord = ordered)
  }

  /** frame.Zip — cell-level zip (reference src/Frame.fs:103-142): rows
    * aligned by `kind` (the reference's row JoinKind — Outer default, test
    * tests/.../Frame.fs:134-146); shared columns combined with op where
    * both present, otherwise the present side; unshared columns pass
    * through. */
  def zip(other: KFrame, kind: JoinKind = JoinKind.Outer)(
      op: (Column, Column) => Column): KFrame = {
    val shared = dataCols.toSet.intersect(other.dataCols.toSet).toSeq.sorted
    val lOnly = dataCols.filterNot(shared.contains)
    val rOnly = other.dataCols.filterNot(shared.contains)
    val l = df.select((key.as("__k") +: dataCols.map(c => col(c).as(s"__l_$c"))): _*)
    val r = other.df.select((other.key.as("__k") +: other.dataCols.map(c => col(c).as(s"__r_$c"))): _*)
    val j = l.join(r, Seq("__k"), kind.spark)
    val out = j.select(
      (col("__k").as(keyCols.head) +:
        (shared.map { c =>
          when(col(s"__l_$c").isNotNull && col(s"__r_$c").isNotNull,
            op(col(s"__l_$c"), col(s"__r_$c")))
            .otherwise(coalesce(col(s"__l_$c"), col(s"__r_$c"))).as(c)
        } ++
          lOnly.map(c => col(s"__l_$c").as(c)) ++
          rOnly.map(c => col(s"__r_$c").as(c)))): _*)
    KFrame(out, Seq(keyCols.head), ordered = false)
  }

  /** Frame.zipAlign — combine shared columns after as-of-aligning the other
    * frame's rows to THIS frame's row keys (reference Frame.zipAlign with
    * JoinKind.Inner columns × JoinKind.Left rows × Lookup, the market-cap /
    * enterprise-value pattern of tests/.../Frame.fs:317-470). Keeps this
    * frame's keys; each shared column of `other` is independently
    * fill-then-as-of carried (reference JoinHelpers.fs:49-53). */
  def zipAlign(other: KFrame, lookup: Lookup)(op: (Column, Column) => Column): KFrame = {
    val shared = dataCols.toSet.intersect(other.dataCols.toSet).toSeq.sorted
    require(shared.nonEmpty, "zipAlign: no shared columns")
    val l = df.select(
      (key.as("__k") +: shared.map(c => col(c).as(s"__l_$c"))): _*)
    val r = other.df.select((other.key.as("__rk") +: shared.map(col)): _*)
    val carried = AsOf.join(l, "__k", r, "__rk", shared, lookup)
    KFrame(
      carried.select(
        (col("__k").as(keyCols.head) +:
          shared.map(c => op(col(s"__l_$c"), col(c)).as(c))): _*),
      Seq(keyCols.head), ordered)
  }

  /** frame.Append — concatenate; column sets unioned, missing padded
    * (reference src/Frame.fs:171-207). */
  def append(other: KFrame): KFrame =
    keyed(df.unionByName(other.df, allowMissingColumns = true), ord = false)

  /** Duplicate-row-key rejection, opt-in (the reference rejects duplicates at
    * index construction, src/Indices/LinearIndex.fs:53-56; SURVEY §7.4.10
    * makes the check opt-in here since it costs a shuffle at scale).
    * Distributed assertion via raise_error — no driver collect. */
  def assertUniqueKeys: KFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    val checked = df
      .withColumn("__kn", count(lit(1)).over(w))
      .withColumn(keyCols.head,
        when(col("__kn") > 1, raise_error(concat(
          lit(s"duplicate row key (${keyCols.mkString(",")}): "),
          col(keyCols.head).cast("string"))))
          .otherwise(col(keyCols.head)))
      .drop("__kn")
    keyed(checked)
  }

  // ---- grouping (reference src/Frame.fs:826-839) ----

  /** GroupRowsBy — group rows by a column: becomes a 2-level row key
    * (group, origKey). Pure metadata + column reorder; no shuffle until an
    * aggregation consumes it (SURVEY §2.5). Stacks: repeated calls build
    * 3- and 4-level keys like the reference's nested tuple keys
    * (reference src/Indices/MultiKey.fs:10-103). */
  def groupRowsBy(groupCol: String): KFrame =
    KFrame(df, groupCol +: keyCols, ordered = false)

  /** Level-pattern slice over a hierarchical row key — the reference's
    * `SimpleLookup`/`LookupAnyOfN` semantics at any arity (reference
    * src/Indices/MultiKey.fs:92-160: `Some v` pins a level, `None`
    * wildcards it; a pattern whose arity differs from the key's is an
    * error). Pinned levels become plain equality predicates, so Catalyst
    * pushes them into the scan (partition pruning on a partitioned level). */
  def lookupLevels(pattern: Option[Any]*): KFrame = {
    require(pattern.size == keyCols.size,
      s"SimpleLookup.Matches: key has ${keyCols.size} levels, pattern has ${pattern.size} " +
        "(reference MultiKey.fs:100-103)")
    val conds = pattern.zip(keyCols).collect { case (Some(v), c) => col(c) === lit(v) }
    keyed(conds.foldLeft(df)((d, c) => d.where(c)))
  }

  /** Pair.getNOfM — the key column at `level` (0-based; reference
    * src/Indices/MultiKey.fs:164-175 and `ICustomKey.GetLevel`). */
  def getRowLevel(level: Int): Column = {
    require(level >= 0 && level < keyCols.size,
      s"level $level out of range for ${keyCols.size}-level key")
    col(keyCols(level))
  }

  /** Frame.meanBy etc — grouped per-numeric-column aggregates
    * ("hierarchical aggregation", reference src/FrameModule.fs:413-435). */
  def aggBy(groupCols: Seq[Column], f: String => Column): DataFrame = {
    val aggs = numericCols.map(c => f(c).as(c))
    df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Frame.transpose — swap rows and columns (reference
    * src/FrameModule.fs:302-303): melt numeric columns with stack(), then
    * pivot on the (single) row key. `keyValues` pins the pivoted key domain so
    * the plan needs no extra distinct-collect job; transposing a BIG axis is
    * inherently expensive (SURVEY §2.8) — this is for small/aggregated
    * frames, like the reference's in-memory use. */
  def transpose(keyValues: Seq[String]): KFrame = {
    require(keyCols.size == 1, "transpose needs a single row-key column")
    val nums = numericCols
    val stackArgs = nums.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
    val melted = df.selectExpr(s"cast(`${keyCols.head}` as string) as __key",
      s"stack(${nums.size}, $stackArgs) as (column, value)")
    KFrame(
      melted.groupBy(col("column")).pivot("__key", keyValues).agg(first(col("value"))),
      Seq("column"), ordered = false)
  }

  /** Frame.mean/sum/... — per-numeric-column aggregate melted to a series
    * keyed by column name (reference src/FrameModule.fs:385-407). One job,
    * one row collected — then re-shaped driver-side (bounded by #columns). */
  def colStats(f: String => Column): DataFrame = {
    val nums = numericCols
    val aggExprs = nums.map(c => f(c).cast(DoubleType).as(c))
    val wide = df.select(aggExprs: _*)
    // melt #columns values: stack(n, 'c1', c1, ...) — stays in the plan
    val stackArgs = nums.map(c => s"'$c', `$c`").mkString(", ")
    wide.selectExpr(s"stack(${nums.size}, $stackArgs) as (column, value)")
  }

  // ---- LLM-pipeline surface (additive; no reference counterpart) ----
  // Thin forwarders routing the keyed frame's id column into the pipeline
  // operators, so the unified API story covers the training-data surface
  // too — pure sugar, zero new plans (each body IS the operator call).

  /** Exact dedup over `textCol`: one row per distinct fingerprint with the
    * smallest surviving id — [[graft.operators.Dedup.exact]] keyed by this
    * frame's (single) row key. */
  def dedupExact(textCol: String): DataFrame = {
    require(keyCols.size == 1, s"dedupExact needs a single row key, got $keyCols")
    graft.operators.Dedup.exact(df, keyCols.head, textCol)
  }

  /** MinHash-LSH near-duplicate pairs over `textCol` —
    * [[graft.operators.Dedup.minhashLshPortable]] keyed by the row key. */
  def nearDup(textCol: String, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(keyCols.size == 1, s"nearDup needs a single row key, got $keyCols")
    graft.operators.Dedup.minhashLshPortable(df, keyCols.head, textCol,
      shingleN, numHashes, bands, threshold)
  }

  /** Whitespace token counts per row: (key, n_tok) —
    * [[graft.functions.Text.tokenCount]] over `textCol`. */
  def tokenCounts(textCol: String): DataFrame =
    df.select((keyCols.map(col) :+
      graft.functions.Text.tokenCount(col(textCol)).as("n_tok")): _*)

  /** Brute-force cosine top-k over an embedding column —
    * [[graft.operators.Similarity.bruteForceKnn]] with this frame as both
    * corpus and query side (self-kNN), keyed by the row key. */
  def knnCosine(vecCol: String, k: Int): DataFrame = {
    require(keyCols.size == 1, s"knnCosine needs a single row key, got $keyCols")
    graft.operators.Similarity.bruteForceKnn(df, df, keyCols.head, vecCol, k)
  }
}

object KFrame {

  /** Frame.ofColumns / FromColumns / fromRows BULK construction (reference
    * src/Frame.fs:745-813): build a frame from N independent keyed series
    * in ONE call — row index = the UNION of every series' keys (outer-join
    * semantics), one column per series, absent keys missing.
    *
    * Spark-first shape: the reference folds N sequential outer joins, each
    * materializing an intermediate frame (src/Frame.fs:810-813). Here,
    * same-typed series union into ONE tall (key, col, value) set and pivot
    * back with explicit column values — a single shuffle regardless of N.
    * Heterogeneously-typed series fall back to the join fold (the only
    * shape that preserves per-column types); Catalyst still collapses the
    * chain into one stage-pipeline per join level.
    *
    * Keys are expected unique within each series (a frame row index is a
    * set — reference LinearIndex invariant); duplicate keys keep an
    * arbitrary first value on the pivot path. */
  def fromSeries(columns: Seq[(String, KSeries)], keyName: String = "k"): KFrame = {
    require(columns.nonEmpty, "fromSeries needs at least one (name, series)")
    require(columns.map(_._1).distinct.size == columns.size,
      "fromSeries column names must be unique")
    require(!columns.exists(_._1 == keyName),
      s"fromSeries column name '$keyName' collides with the key column — " +
        "the output would carry two identically-named columns and every " +
        "later reference to the key would be ambiguous")
    val types = columns.map { case (_, s) => s.df.schema(s.valueCol).dataType }
    if (types.distinct.size == 1) {
      val tall = columns.map { case (n, s) =>
        s.df.select(s.k.as(keyName), lit(n).as("__col"), s.v.as("__val"))
      }.reduce(_ unionByName _)
      KFrame(
        tall.groupBy(col(keyName))
          .pivot("__col", columns.map(_._1))
          .agg(first(col("__val"), ignoreNulls = true)),
        Seq(keyName))
    } else {
      KFrame(
        columns.map { case (n, s) => s.df.select(s.k.as(keyName), s.v.as(n)) }
          .reduce((a, b) => a.join(b, Seq(keyName), "full_outer")),
        Seq(keyName))
    }
  }

  /** Reversed scalar operand order — the reference's `2.0 - df` / `2.0 / df`
    * overloads (test tests/.../Frame.fs:62-80). */
  implicit final class ScalarFrameOps(private val s: Double) extends AnyVal {
    def +(f: KFrame): KFrame = f.mapNumeric(lit(s) + _)
    def -(f: KFrame): KFrame = f.mapNumeric(lit(s) - _)
    def *(f: KFrame): KFrame = f.mapNumeric(lit(s) * _)
    def /(f: KFrame): KFrame = f.mapNumeric(lit(s) / _)
  }
}
