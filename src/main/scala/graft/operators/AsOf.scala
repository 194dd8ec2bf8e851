package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Lookup

/** As-of join: align every left key to the nearest right key ≤ (or ≥) it.
  *
  * This is the reference's `Join`/`Zip`/`GetItems` with
  * `Lookup.NearestSmaller/NearestGreater` (reference src/JoinHelpers.fs:56-77,
  * binary-search lookup src/Indices/LinearIndex.fs:105-123). Spark SQL has no
  * native as-of join, so this is a library operator (SURVEY §2.4 option (a)):
  *
  *   union(left-probes, right-data) sorted by (key, side)
  *   → carry right values with last(..., ignoreNulls) over a running frame
  *   → keep probe rows.
  *
  * Semantic trap replicated exactly (SURVEY §7.4.1): the reference
  * forward-fills the right *vector* before reindexing, so a probe at key k
  * whose nearest right key holds a missing value receives the value from an
  * even smaller key. `last(v, ignoreNulls=true)` gives precisely
  * fill-then-as-of, per right column independently — matching the reference's
  * per-vector `fillMissing` (reference src/JoinHelpers.fs:49-53).
  *
  * Scale: one shuffle to sort the union. With `partitionBy` keys (per-symbol
  * time series — the common case at 100 TB) the window partitions and
  * parallelizes perfectly. Without them Spark's window collapses to a single
  * task; for that shape prefer a range-partitioned sort + boundary-carry
  * stitch (see OrderedScan) — same algorithm, distributed.
  *
  * DATA-SIDE KEYS MUST BE UNIQUE (as the reference enforces at index
  * construction, reference src/Indices/LinearIndex.fs:53-56). With
  * duplicates the three physical forms can disagree on which duplicate's
  * value is carried: the window form tie-breaks nondeterministically among
  * equal (key, side) rows, while broadcastJoin/AsOfJoinExec take the last
  * duplicate after a stable sort. Check with `KFrame.assertUniqueKeys` when
  * in doubt — a distributed assertion, no collect.
  */
object AsOf {

  /** Join `right`'s value columns onto `left`, as-of on a common key.
    *
    * @param left        probe side (all its columns are kept)
    * @param leftKey     probe key column name
    * @param right       data side
    * @param rightKey    data key column name
    * @param valueCols   right columns to carry (each filled independently)
    * @param direction   NearestSmaller (≤, backward) or NearestGreater (≥)
    * @param partitionBy equi-key columns present on BOTH sides under which the
    *                    as-of runs independently (empty = global as-of)
    * @param strict      true → strictly < / > (exclude the exact key)
    */
  def join(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      valueCols: Seq[String],
      direction: Lookup = Lookup.NearestSmaller,
      partitionBy: Seq[String] = Nil,
      strict: Boolean = false): DataFrame = {
    require(direction != Lookup.Exact, "as-of join needs NearestSmaller/NearestGreater")

    val leftCols = left.columns.toSeq
    val ascending = direction == Lookup.NearestSmaller

    // Probe rows: side=1, right value columns null. Data rows: side=0.
    // At equal keys the data row must sort BEFORE the probe so inclusive
    // (non-strict) lookup sees the value at the exact key; for strict
    // lookups the probe sorts first instead.
    val probeSide = if (strict) 0 else 1
    val dataSide = 1 - probeSide

    val probe = left.select(
      (col(leftKey).as("__key") +: partitionBy.map(col) ++:
        lit(probeSide).as("__side") +:
        leftCols.map(c => col(c).as(s"__l_$c")) ++:
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c"))): _*)

    val data = right.select(
      (col(rightKey).as("__key") +: partitionBy.map(col) ++:
        lit(dataSide).as("__side") +:
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(s"__l_$c")) ++:
        valueCols.map(c => col(c).as(s"__r_$c"))): _*)

    val unioned = probe.unionByName(data)

    val ord =
      if (ascending) Seq(col("__key").asc, col("__side").asc)
      else Seq(col("__key").desc, col("__side").asc)
    val w0 =
      if (partitionBy.isEmpty) Window.orderBy(ord: _*)
      else Window.partitionBy(partitionBy.map(col): _*).orderBy(ord: _*)
    val w = w0.rowsBetween(Window.unboundedPreceding, 0)

    val carried = valueCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(s"__c_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }

    carried
      .where(col("__side") === probeSide)
      .select(leftCols.map(c => col(s"__l_$c").as(c)) ++
        valueCols.map(c => col(s"__c_$c").as(c)): _*)
  }

  /** Broadcast as-of join: when the data side is broadcast-sized (a price
    * series, a boundary grid, a dimension history), collect it sorted and
    * forward/backward-filled ONCE, broadcast, and binary-search per probe
    * row inside `mapPartitions`. Unlike [[join]] (which funnels probe+data
    * through one sorted window when unpartitioned), this keeps the PROBE
    * side's partitioning untouched — a billion probes stay a thousand
    * parallel tasks. Same fill-then-as-of semantics, same output schema.
    *
    * Key is compared as Long (cast date/timestamp keys to epoch first).
    * Value columns keep their own types (numeric, string, boolean,
    * date/timestamp); the data side must fit the driver
    * (`spark.graft.broadcastAsOf.maxRows`, enforced below).
    */
  def broadcastJoin(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      valueCol: String,
      direction: Lookup = Lookup.NearestSmaller,
      strict: Boolean = false): DataFrame =
    broadcastJoinMulti(left, leftKey, right, rightKey, Seq(valueCol), direction, strict)

  /** Executor-side typed lookup: binary-search the broadcast key array,
    * return the filled value at the answering position as `T`. Static on
    * the companion so UDF lambdas compile to a MODULE$ call and capture
    * nothing but the passed broadcasts. */
  private def lookupAs[T >: Null](
      bcKeys: org.apache.spark.broadcast.Broadcast[Array[Long]],
      bcVals: org.apache.spark.broadcast.Broadcast[Array[Any]],
      smaller: Boolean,
      strict: Boolean,
      k: java.lang.Long): T =
    if (k == null) null
    else {
      val ks = bcKeys.value
      val i = searchIdx(ks, k.longValue, smaller, strict)
      if (i < 0 || i >= ks.length) null else bcVals.value(i).asInstanceOf[T]
    }

  /** Binary-search lookup index into sorted `ks`: the position whose FILLED
    * value answers an as-of probe at `k`, or -1/ks.length when out of
    * range. Shared by every per-column lookup UDF. */
  private[operators] def searchIdx(
      ks: Array[Long], k: Long, smaller: Boolean, strict: Boolean): Int = {
    var lo = 0
    var hi = ks.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ks(mid) <= k) lo = mid + 1 else hi = mid
    }
    // lo = count of keys <= k
    if (smaller) {
      if (strict) {
        var j = lo - 1
        while (j >= 0 && ks(j) == k) j -= 1
        j
      } else lo - 1
    } else {
      if (strict) lo
      else {
        var j = lo - 1
        while (j >= 0 && ks(j) == k) j -= 1
        j + 1
      }
    }
  }

  /** [[broadcastJoin]] for MULTIPLE typed value columns: each column is
    * filled independently along the lookup direction (per-vector
    * fill-before-reindex, reference src/JoinHelpers.fs:49-53) and carried
    * at its ORIGINAL type through a typed lookup UDF — no double cast.
    * Supported value types: numeric (incl. decimal), string, boolean,
    * date, timestamp (both java8-API and legacy external datetime types);
    * anything else (arrays, structs) → use [[join]], which carries
    * arbitrary columns through the shuffle form. */
  def broadcastJoinMulti(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      valueCols: Seq[String],
      direction: Lookup = Lookup.NearestSmaller,
      strict: Boolean = false): DataFrame = {
    require(direction != Lookup.Exact, "as-of join needs NearestSmaller/NearestGreater")
    require(valueCols.nonEmpty, "broadcastJoin needs at least one value column")
    val spark = left.sparkSession

    // Fail-fast size guard: the data side is collected to the driver — that
    // is the whole point of this variant (probe partitioning untouched), but
    // it means "broadcast-sized" must be ENFORCED, not assumed: pointed at a
    // corpus-sized table this would OOM the driver instead of erroring.
    // Tunable via spark.graft.broadcastAsOf.maxRows for bigger driver heaps.
    // The guard rides on the collect itself: at most maxRows + 1 rows come
    // back, and one more than maxRows means the side is too big. Collected
    // through `.rdd` the limit plans as a local limit, one shuffle into a
    // single partition and the global limit: two jobs at any partition
    // count, where `collect()` of the limit scans partitions in rounds that
    // grow fourfold (five jobs at 200 partitions).
    val maxRows = spark.conf
      .getOption("spark.graft.broadcastAsOf.maxRows")
      .map(v => try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.broadcastAsOf.maxRows must be a long, got '$v'")
      })
      .getOrElse(10000000L)
    require(maxRows >= 0L && maxRows < Int.MaxValue,
      s"spark.graft.broadcastAsOf.maxRows must be in [0, ${Int.MaxValue - 1}], got $maxRows")

    // driver-side build: sort by key, then fill each column along the
    // lookup direction (the reference's fill-before-reindex,
    // JoinHelpers.fs:49-53 — per right column independently)
    val projected = right.select(
      col(rightKey).cast("long").as("__k") +: valueCols.map(col): _*)
    val schema = projected.schema
    val capped = projected.limit(maxRows.toInt + 1).rdd.collect()
    require(capped.length <= maxRows,
      s"AsOf.broadcastJoin collects the data side to the driver and it has " +
      s"more than $maxRows rows (conf spark.graft.broadcastAsOf.maxRows); " +
      "use AsOf.join (the shuffle form) for a corpus-sized data side")
    val rows = capped.sortBy(_.getLong(0))
    val keys = rows.map(_.getLong(0))
    val bcKeys = spark.sparkContext.broadcast(keys)
    val smaller = direction == Lookup.NearestSmaller
    val strictL = strict

    // j is the valueCols index; the projected row carries __k at 0, so the
    // j-th value lives at row position j+1
    def filledCol(j: Int): Array[Any] = {
      val out = new Array[Any](rows.length)
      if (smaller) {
        var prev: Any = null
        var i = 0
        while (i < rows.length) {
          val v = rows(i).get(j + 1); if (v != null) prev = v
          out(i) = prev; i += 1
        }
      } else {
        var next: Any = null
        var i = rows.length - 1
        while (i >= 0) {
          val v = rows(i).get(j + 1); if (v != null) next = v
          out(i) = next; i -= 1
        }
      }
      out
    }

    import org.apache.spark.sql.types._
    def typedUdf(dt: DataType, vals: Array[Any]): org.apache.spark.sql.expressions.UserDefinedFunction = {
      val bcVals = spark.sparkContext.broadcast(vals)
      // the lambdas must capture ONLY serializable locals (broadcasts +
      // booleans) and call the static lookup on the companion — a nested
      // def would drag the whole enclosing scope (DataFrames included)
      // into the task closure: Task not serializable
      val bk = bcKeys; val sm = smaller; val st = strictL
      // one lookup lambda per external JVM type — the UDF's static return
      // type IS the column's Spark type, so the output schema matches the
      // data side exactly (no double cast, no schema drift)
      // date/timestamp external types follow spark.sql.datetime.java8API
      // .enabled: collect() yields LocalDate/Instant under java8 API and
      // java.sql.Date/Timestamp otherwise — the lookup lambda's static type
      // must match what the collected rows actually hold
      val java8 = spark.conf
        .get("spark.sql.datetime.java8API.enabled", "false").toBoolean
      dt match {
        case DoubleType    => udf((k: java.lang.Long) => lookupAs[java.lang.Double](bk, bcVals, sm, st, k))
        case FloatType     => udf((k: java.lang.Long) => lookupAs[java.lang.Float](bk, bcVals, sm, st, k))
        case LongType      => udf((k: java.lang.Long) => lookupAs[java.lang.Long](bk, bcVals, sm, st, k))
        case IntegerType   => udf((k: java.lang.Long) => lookupAs[java.lang.Integer](bk, bcVals, sm, st, k))
        case ShortType     => udf((k: java.lang.Long) => lookupAs[java.lang.Short](bk, bcVals, sm, st, k))
        case ByteType      => udf((k: java.lang.Long) => lookupAs[java.lang.Byte](bk, bcVals, sm, st, k))
        case BooleanType   => udf((k: java.lang.Long) => lookupAs[java.lang.Boolean](bk, bcVals, sm, st, k))
        case StringType    => udf((k: java.lang.Long) => lookupAs[String](bk, bcVals, sm, st, k))
        case DateType if java8      => udf((k: java.lang.Long) => lookupAs[java.time.LocalDate](bk, bcVals, sm, st, k))
        case DateType               => udf((k: java.lang.Long) => lookupAs[java.sql.Date](bk, bcVals, sm, st, k))
        case TimestampType if java8 => udf((k: java.lang.Long) => lookupAs[java.time.Instant](bk, bcVals, sm, st, k))
        case TimestampType          => udf((k: java.lang.Long) => lookupAs[java.sql.Timestamp](bk, bcVals, sm, st, k))
        // the lambda's static BigDecimal type registers as Decimal(38,18);
        // the caller casts back to the source's exact (precision, scale).
        // That round-trip is lossless ONLY inside the (38,18) envelope:
        // scale > 18 would be silently HALF_UP-rounded and > 20 integral
        // digits would overflow to null BEFORE the cast back — so decimals
        // outside the envelope are rejected toward the shuffle form, which
        // carries the column natively at any (p, s)
        case d: DecimalType if d.scale <= 18 && d.precision - d.scale <= 20 =>
          udf((k: java.lang.Long) => lookupAs[java.math.BigDecimal](bk, bcVals, sm, st, k))
        case d: DecimalType => throw new IllegalArgumentException(
          s"AsOf.broadcastJoin: decimal(${d.precision},${d.scale}) exceeds the " +
            "broadcast path's lossless envelope (scale <= 18 and precision - scale <= 20, " +
            "from the UDF's static Decimal(38,18) registration) — " +
            "use AsOf.join (the shuffle form carries arbitrary typed columns)")
        case other => throw new IllegalArgumentException(
          s"AsOf.broadcastJoin: unsupported value type $other — " +
            "use AsOf.join (the shuffle form carries arbitrary typed columns)")
      }
    }

    valueCols.zipWithIndex.foldLeft(left) { case (df, (c, j)) =>
      val dt = schema(j + 1).dataType
      val applied = typedUdf(dt, filledCol(j))(col(leftKey).cast("long"))
      df.withColumn(c, dt match {
        case d: DecimalType => applied.cast(d) // restore exact (p, s)
        case _              => applied
      })
    }
  }

  /** As-of join through the NATIVE Catalyst node ([[graft.plans.AsOfJoinNode]]
    * → AsOfJoinStrategy → AsOfJoinExec): same broadcast algorithm as
    * [[broadcastJoin]] but planned as a first-class physical operator, so
    * `explain()` shows `AsOfJoinExec` and the planner knows the probe
    * partitioning is preserved. Keys: long/int/date/timestamp (both sides
    * the same type); value columns: any number, any type — each filled
    * independently. */
  def joinNative(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      valueCols: Seq[String],
      direction: Lookup): DataFrame = {
    require(direction != Lookup.Exact, "as-of join needs NearestSmaller/NearestGreater")
    require(valueCols.nonEmpty, "joinNative needs at least one value column")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val lk = attr(lPlan, leftKey)
    val rk = attr(rPlan, rightKey)
    val rvs = valueCols.map(attr(rPlan, _))
    require(graft.plans.AsOfJoinNode.supportedKeyType(lk.dataType) &&
      lk.dataType == rk.dataType,
      s"joinNative needs matching long/int/date/timestamp keys " +
        s"(got ${lk.dataType}/${rk.dataType}) — cast first")
    val valueAttrs = rvs.map(rv =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        rv.name, rv.dataType, nullable = true)())
    org.apache.spark.sql.GraftShim.ofRows(left.sparkSession,
      graft.plans.AsOfJoinNode(lPlan, rPlan, lk, rk, rvs, valueAttrs,
        smaller = direction == Lookup.NearestSmaller))
  }

  /** Single-value-column convenience form of [[joinNative]]. */
  def joinNative(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      valueCol: String,
      direction: Lookup = Lookup.NearestSmaller): DataFrame =
    joinNative(left, leftKey, right, rightKey, Seq(valueCol), direction)
}
