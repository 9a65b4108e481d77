package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exception-free `try_cast(string AS <integral>)` (r16).
  *
  * Spark's TRY-mode `Cast` evaluates the ANSI cast and catches: for a
  * string→integral cast the ANSI path is `UTF8String.toIntExact`-family,
  * which calls the non-throwing wrapper parser and THROWS a formatted
  * SparkNumberFormatException (error-class machinery + stack trace) on
  * failure, only for TRY's wrapper to swallow it — measured ~7 µs per
  * FAILING row, 10× the cost of the parse itself (NOTES_r16.md "the
  * try_cast exception tax": a 150k-row always-failing try_cast column
  * cost 1.0 s of a 1.5 s query). On dirty
  * data at scale — exactly where try_cast is the right tool — the
  * exception tax dominates.
  *
  * This expression uses the non-throwing PUBLIC wrapper parsers
  * (`UTF8String.toInt/toLong/toShort/toByte(wrapper)`) — which are the
  * LENIENT (allowDecimal=true) family: they accept decimal-formatted
  * strings and truncate ('5.7' → 5), where the strict parser the ANSI
  * cast wraps (`toIntExact` → private `toInt(w, false)`) rejects. The
  * fractional branch is the ONLY divergence between the two (same
  * trimming, sign, digit, and range handling — Spark source and
  * bytecode-verified), and a strict-accepted string can never contain
  * '.', so exact TRY semantics are: lenient parse succeeds AND the
  * input contains no '.' byte. Both conditions are exception-free.
  * Re-proven value-for-value over an adversarial input battery ON A
  * NON-FOLDABLE SOURCE in PlanAuditSpec (the first version of that
  * battery ran on a LocalRelation, which ConstantFolding collapsed
  * with the ORIGINAL TRY cast before injected rules run — it passed
  * while this expression's first version silently truncated '5.7';
  * caught in review, hence the scan-backed battery). Null input →
  * null like any UnaryExpression. [[graft.plans.TryCastNoThrowRule]]
  * rewrites eligible TRY casts to this form; it is not SQL-registered
  * on its own. */
case class TryParseIntegral(child: Expression, override val dataType: DataType)
    extends UnaryExpression with ExpectsInputTypes {
  require(TryParseIntegral.supported(dataType),
    s"TryParseIntegral supports byte/short/int/long, got $dataType")
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] =
    Seq(StringType)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_try_parse_integral"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    dataType match {
      case IntegerType =>
        val w = new UTF8String.IntWrapper
        if (s.toInt(w) && !NativeEval.containsDot(s)) w.value else null
      case LongType =>
        val w = new UTF8String.LongWrapper
        if (s.toLong(w) && !NativeEval.containsDot(s)) w.value else null
      case ShortType =>
        val w = new UTF8String.IntWrapper
        if (s.toShort(w) && !NativeEval.containsDot(s)) w.value.toShort else null
      case ByteType =>
        val w = new UTF8String.IntWrapper
        if (s.toByte(w) && !NativeEval.containsDot(s)) w.value.toByte else null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (wrapperCls, parse, castTo) = dataType match {
      case IntegerType =>
        ("org.apache.spark.unsafe.types.UTF8String.IntWrapper", "toInt", "")
      case LongType =>
        ("org.apache.spark.unsafe.types.UTF8String.LongWrapper", "toLong", "")
      case ShortType =>
        ("org.apache.spark.unsafe.types.UTF8String.IntWrapper", "toShort", "(short) ")
      case ByteType =>
        ("org.apache.spark.unsafe.types.UTF8String.IntWrapper", "toByte", "(byte) ")
    }
    val wrapper = ctx.addMutableState(wrapperCls, "tryParseWrapper",
      v => s"$v = new $wrapperCls();")
    val childGen = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.defaultValue(dataType)};
      if (!${childGen.isNull} && ${childGen.value}.$parse($wrapper) &&
          !graft.functions.NativeEval.containsDot(${childGen.value})) {
        ${ev.isNull} = false;
        ${ev.value} = $castTo$wrapper.value;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): TryParseIntegral =
    copy(child = newChild)
}

object TryParseIntegral {
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}
