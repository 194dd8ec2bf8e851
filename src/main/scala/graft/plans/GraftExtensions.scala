package graft.plans

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.BooleanType

/** Catalyst extensions for the engine, registered via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * One optimizer rule, [[NanGuardPushdown]] — the "NaN canonicalization
  * rule" anticipated in SURVEY §4 (custom work item 4) — the native as-of
  * join strategy and the codegen vector/string functions. Loading it also
  * sizes Spark's generated-class cache to graft's working set
  * ([[GraftExtensions.sizeCodegenCache]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // runs inside getOrCreate: the context exists, the session's shared
    // state (and with it the SQLConf CodeGenerator sizes from) does not yet
    org.apache.spark.GraftConf.activeConf.foreach(GraftExtensions.sizeCodegenCache)
    ext.injectOptimizerRule(_ => NanGuardPushdown)
    ext.injectPlannerStrategy(_ => new AsOfJoinStrategy)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("dot_f32"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotF32].getName, "dot_f32"),
      (args: Seq[Expression]) => DotF32(args(0), args(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("norm2_f32"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Norm2F32].getName, "norm2_f32"),
      (args: Seq[Expression]) => Norm2F32(args(0))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("dot_i64"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotI64].getName, "dot_i64"),
      (args: Seq[Expression]) => DotI64(args(0), args(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("jaro_winkler"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))
  }
}

object GraftExtensions {
  /** Entries for Spark's generated-class cache. Spark's default of 100 is
    * split over 4 LRU segments (25 each), while one pass of graft's
    * ordered-series + near-dup ops compiles 186 distinct classes and one
    * call of every benchmarked operator about 640 — so under the default a
    * class is evicted before its next use and each repeated series pass
    * recompiles ~160 of them (~11 ms apiece in Janino). 1024 leaves 256 per
    * segment: the whole catalogue stays resident. */
  val CodegenCacheEntries = 1024

  /** Set `spark.sql.codegen.cache.maxEntries` to [[CodegenCacheEntries]]
    * unless the user set it. It is a static conf read ONCE, when
    * `CodeGenerator` first initializes, so this only takes effect when the
    * first graft session is built before any query has compiled code in
    * the JVM; otherwise the existing cache is kept as it is. */
  def sizeCodegenCache(conf: SparkConf): SparkConf =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
}

/** Restores parquet predicate pushdown through the NaN→null canonicalization
  * projection (graft.Tables.canonical).
  *
  * The reference treats NaN as missing (reference src/Common/Common.fs:264-293),
  * so every float column is wrapped in `CASE WHEN isnan(c) THEN null ELSE c
  * END` on ingest. When a filter is pushed through that projection,
  * substitution + conditional simplification leave conditions of the shape
  *
  *   CASE WHEN isnan(c) THEN false ELSE pred(c) END
  *
  * which is a single un-translatable expression: the parquet source gets NO
  * pushed filters, and a 100 TB scan reads every row group. This rule
  * rewrites the guard into the equivalent conjunction
  *
  *   pred(c) AND NOT isnan(c)
  *
  * (case analysis: c null → both null-ish/false; c NaN → both false — note
  * Spark's NaN ordering would make e.g. `NaN >= x` TRUE, so the guard must
  * stay; otherwise → pred(c)). Conjuncts are pushed independently, so
  * `pred(c)` reaches the scan (PushedFilters + row-group stats skipping)
  * while the NaN guard is evaluated post-scan.
  */
object NanGuardPushdown extends Rule[LogicalPlan] {

  private object FalseLit {
    def unapply(e: Expression): Boolean = e match {
      case Literal(false, BooleanType) => true
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transform {
        case CaseWhen(Seq((guard @ IsNaN(_), FalseLit())), Some(pred)) =>
          And(pred, Not(guard))
      }
      if (rewritten fastEquals cond) f else f.copy(condition = rewritten)
  }
}
