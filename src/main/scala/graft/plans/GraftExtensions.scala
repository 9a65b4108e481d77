package graft.plans

import graft.functions.{ArrayJaccard, MinHashBands, SimHash64, WinnowFingerprints}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion, Cast, Divide, Expression, ExpressionInfo, Literal, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, ArrayType}

/** Optimizer rule: fuse the hand-written Jaccard pattern
  * `size(array_intersect(a,b)) / size(array_union(a,b))` (any cast
  * arrangement producing a double) into the one-pass native
  * [[ArrayJaccard]] — same value (both built-ins dedup), no intermediate
  * array allocations. String arrays only. */
object JaccardFusionRule extends Rule[LogicalPlan] {
  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  private object SizeOf {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(Size(c, _), DoubleType, _, _) => Some(c)
      case Size(c, _) => Some(c)
      case _ => None
    }
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Divide(SizeOf(ArrayIntersect(a, b)), SizeOf(ArrayUnion(a2, b2)), _)
        if a.semanticEquals(a2) && b.semanticEquals(b2) &&
          isStringArray(a) && isStringArray(b) =>
      ArrayJaccard(a, b)
  }
}

/** Optimizer rule: replace the exception tax in TRY-mode string casts
  * (r16). Spark evaluates `try_cast` by running the ANSI cast and
  * catching — on FAILING input each row constructs a formatted
  * SparkNumberFormatException (~7 µs/row, measured as 1.0 s of the
  * 150k-row p11 bench row; on 100 TB of dirty data — exactly where
  * try_cast is the right tool — the exception path dominates the
  * parse). Two value-preserving rewrites on string sources:
  *
  *   - target double/float/decimal/boolean → the same Cast in LEGACY
  *     eval mode: TRY and LEGACY are value-identical for these pairs
  *     (adversarial input battery, PlanAuditSpec "try_cast rewrites");
  *     NOT applied to integral targets, where LEGACY is deliberately
  *     looser ('5.7' → 5 truncation vs TRY's null — same battery).
  *   - target byte/short/int/long → [[graft.functions.TryParseIntegral]],
  *     which calls the SAME non-throwing wrapper parser the ANSI cast
  *     wraps and returns null directly — identical accept set by
  *     construction, no exception ever constructed.
  * Temporal targets (date/timestamp/timestamp_ntz) are deliberately
  * NOT rewritten (r17, measured refutation): TRY and LEGACY are
  * value-identical there too (scan-backed adversarial battery incl.
  * partial dates, zone suffixes, and overflow years — PlanAuditSpec
  * "try_cast temporal"), but Spark 4.1's temporal TRY cast does NOT
  * pay the integral family's per-failing-row exception — the rule
  * on/off A/B on 1M failing + 1M parsing rows (OPTIMIZATION_r17.md §4,
  * SCALING.md "Round 17: the temporal try_cast rewrite"): date/timestamp
  * 1.1× (13 ms, noise-level) vs int 16.1× (1.7 µs per failing row) —
  * so a rewrite would add rule surface for no measured benefit. The battery stays as the licensing proof if
  * a future Spark version regresses the temporal path.
  *
  * Everything else (non-string sources, other targets, ANSI/LEGACY
  * casts) passes through untouched. */
object TryCastNoThrowRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.EvalMode
  import org.apache.spark.sql.types.{BooleanType, ByteType, DecimalType,
    FloatType, LongType, ShortType}
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case c @ Cast(child, dt, tz, mode)
        if mode == EvalMode.TRY && child.dataType == StringType =>
      dt match {
        case DoubleType | FloatType | BooleanType | _: DecimalType =>
          Cast(child, dt, tz, EvalMode.LEGACY)
        case ByteType | ShortType | IntegerType | LongType =>
          graft.functions.TryParseIntegral(child, dt)
        case _ => c
      }
  }
}

/** SparkSessionExtensions entry point — makes graft's native expressions
  * callable from SQL strings on sessions built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (GraftSession sets
  * it). DataFrame-API callers don't need this: [[graft.operators.TextDedup]]
  * wraps the expressions into Columns directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => JaccardFusionRule)
    ext.injectOptimizerRule(_ => TryCastNoThrowRule)

    ext.injectFunction((
      FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "graft_minhash_bands"),
      (args: Seq[Expression]) => args match {
        case Seq(sh, k, b) => MinHashBands(sh, intLit(k, "k"), intLit(b, "bands"))
        case _ => throw new IllegalArgumentException(
          "usage: graft_minhash_bands(shingles, k, bands)")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(sh) => SimHash64(sh)
        case _ => throw new IllegalArgumentException("usage: graft_simhash64(shingles)")
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName,
        "graft_winnow_fingerprints"),
      (args: Seq[Expression]) => args match {
        case Seq(text, k, w) =>
          WinnowFingerprints(text, intLit(k, "k"), intLit(w, "w"))
        case _ => throw new IllegalArgumentException(
          "usage: graft_winnow_fingerprints(text, k, w)")
      }))
  }
}
