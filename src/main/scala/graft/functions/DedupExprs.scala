package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native catalyst expressions for the dedup hot loops.
  *
  * Spark's higher-order functions (`transform`/`aggregate`) are evaluated
  * by the interpreter — a k×n minhash loop written as nested lambdas costs
  * ~1000× a native loop and drops the whole projection out of whole-stage
  * codegen. These expressions keep the DataFrame API surface (they are
  * Columns like any other) and implement real `doGenCode`: the generated
  * code calls the static kernels in [[NativeEval]], so the enclosing
  * projection stays inside whole-stage codegen. Deterministic: fixed
  * seeds, no session state.
  */
object DedupExprs {
  /** Seed matching the built-in xxhash64's default. */
  val DefaultSeed = 42L
  /** Independent second hash family seed for the double-hash minhash. */
  val AltSeed = 0x9e3779b97f4a7c15L
}

/** Distinct word n-gram shingles of a single-space-tokenized text column:
  * one native pass over the split words, first-occurrence order. Fewer
  * than n words → empty array. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(StringType)
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Distinct character n-gram shingles (codepoint indexing, same as the
  * built-in `substring`). Shorter than n chars → empty array. */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(StringType)
  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_shingles"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.charShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.charShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

/** Distinct character n-gram shingles hashed to a SORTED `array<long>`
  * (XXH64, seed 42) — the compact form for candidate-pair verification;
  * see [[NativeEval.charShingleHashes]]. Shorter than n chars → empty. */
case class CharShingleHashes(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(StringType)
  require(n > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.charShingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.charShingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharShingleHashes =
    copy(child = newChild)
}

/** An `array<string>` hashed element-wise (XXH64, seed 42) to a sorted
  * distinct `array<long>` — see [[NativeEval.hashArraySorted]]. */
case class ArrayHashesSorted(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_array_hashes_sorted"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.hashArraySorted(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.hashArraySorted($c)")

  override protected def withNewChildInternal(newChild: Expression): ArrayHashesSorted =
    copy(child = newChild)
}

/** MinHash band signatures of an `array<string>` shingle column in one
  * pass: per-shingle base hashes h1 (seed 42) and h2 (seed φ·2^64), k
  * derived functions h_t = h1 + t·h2 (the standard double-hashing MinHash
  * family), minima per t, then `bands` band signatures, each the XXH64
  * fold of its k/bands signature slice. */
case class MinHashBands(child: Expression, k: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(ArrayType(StringType))
  require(k > 0 && bands > 0 && k % bands == 0, "k must be a multiple of bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.minhashBands(input.asInstanceOf[ArrayData], k, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.minhashBands($c, $k, $bands)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** SRP (random-hyperplane) band keys of a vector column in one pass:
  * `nPlanes` sign bits against deterministic hyperplanes, packed into
  * ⌈nPlanes / bits⌉ band keys. The planes are built once per expression
  * instance; each row is one native fold per plane. See
  * [[NativeEval.srpBandKeys]] for the bit definition. Accepts
  * `array<float>` and `array<double>` (floats widen exactly). */
case class SrpBandKeys(child: Expression, dims: Int, bits: Int, nPlanes: Int,
                       seedK: Long) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] =
    Seq(org.apache.spark.sql.graft.GraftSql.typeCollection(
      ArrayType(FloatType), ArrayType(DoubleType)))
  require(dims > 0 && nPlanes > 0 && bits > 0 && bits < 64)

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val planes = NativeEval.srpPlanes(dims, nPlanes, seedK)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.srpBandKeys(input.asInstanceOf[ArrayData], isFloat, planes, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("srpPlanes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeEval.srpBandKeys($c, $isFloat, $p, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBandKeys =
    copy(child = newChild)
}

/** Winnowing fingerprints of a text column: polynomial rolling k-gram
  * hashes → sliding-window-of-w minima → sorted distinct `array<long>`.
  * See [[NativeEval.winnowFingerprints]] for the algorithm, portability
  * contract, and guarantee. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(StringType)
  require(k > 0 && w > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fingerprints"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.winnowFingerprints(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.winnowFingerprints($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** 64-bit SimHash of an `array<string>` shingle column: bit i of the
  * output is set when the sum over shingles of ±1 (bit i of the shingle's
  * XXH64, seed 42 — identical to the built-in `xxhash64`) is
  * non-negative. One hash per shingle, 64 counters, native loop. */
case class SimHash64(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.GraftSql.AbstractDataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    NativeEval.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeEval.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
