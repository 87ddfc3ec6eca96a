package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Static vote-loop kernel shared by the interpreted and generated
  * paths. Token hash = [[SplitMix64Kernel.strHash]] (poly-31 over
  * code points through the splitmix64 finalizer) — chosen over
  * xxhash64 so the DuckDB oracle can replay the identical fingerprint
  * in pure integer SQL (this flipped q46/q79 from rows-only to
  * EXACT). */
object SimHashKernel {
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = SplitMix64Kernel.strHash(s)
        var j = 0
        while (j < 64) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }
}

object SimHashWideKernel {
  /** `nWords`×64-bit SimHash: per token, one base strHash plus one
    * salt-folded splitmix lane hash per 64-bit word — same vote loop
    * as the 64-bit kernel, wider fingerprint, same SQL-replayable
    * family (see [[SimHashKernel]]). */
  def compute(arr: ArrayData, nWords: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bits = nWords * 64
    val votes = new Array[Int](bits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val base = SplitMix64Kernel.strHash(s)
        var w = 0
        while (w < nWords) {
          val h = if (w == 0) base
            else SplitMix64Kernel.mix(base + w * SplitMix64Kernel.Golden)
          var j = 0
          while (j < 64) {
            votes(w * 64 + j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
            j += 1
          }
          w += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](nWords)
    var w = 0
    while (w < nWords) {
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (votes(w * 64 + j) > 0) fp |= (1L << j)
        j += 1
      }
      out(w) = java.lang.Long.valueOf(fp)
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Wide (`nWords`×64-bit) SimHash as an array<bigint> fingerprint —
  * the 100 TB scale path for chunk-collision candidate generation:
  * with 4 chunks over 128 bits each chunk key has 2³² values, so the
  * birthday-collision candidate floor drops from ~4·C(n,2)/2¹⁶ (the
  * 64-bit / 16-bit-chunk variant, measured α=1.24 in round 2)
  * to ~4·C(n,2)/2³² — negligible up to billions of documents — while
  * the pigeonhole completeness guarantee for Hamming ≤ 3 over 4
  * chunks is unchanged. Word 0 equals the 64-bit fingerprint. */
case class SimHashWide(child: Expression, nWords: Int)
    extends UnaryExpression {

  require(nWords >= 1 && nWords <= 16)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash requires array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHashWideKernel.compute(input.asInstanceOf[ArrayData], nWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashWideKernel.compute($a, $nWords);")

  override protected def withNewChildInternal(newChild: Expression): SimHashWide =
    copy(child = newChild)
}

/** 64-bit SimHash of a token array (Charikar similarity hashing):
  * each token's hash votes ±1 per bit position; the fingerprint sets
  * bit j iff the vote sum is positive. Near-duplicate documents
  * (small token-multiset edits) land within a small Hamming distance.
  *
  * The 64-bucket vote loop is awkward and slow as a built-in
  * composition (64 nested higher-order-function passes over the token
  * array), but is a single tight JVM loop here. Token hashing is the
  * splitmix64 string hash shared with the MinHash pipeline — the
  * SQL-replayable family that lets the DuckDB oracle gate the
  * fingerprints exactly.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHashKernel.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashKernel.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash {
  import org.apache.spark.sql.graftbridge

  def simhash64(tokens: Column): Column =
    graftbridge.toColumn(SimHash64(graftbridge.toExpression(tokens)))

  /** Wide fingerprint as array<bigint> (see [[SimHashWide]]). */
  def simhashWide(tokens: Column, bits: Int = 128): Column = {
    require(bits % 64 == 0, "bits must be a multiple of 64")
    graftbridge.toColumn(SimHashWide(graftbridge.toExpression(tokens), bits / 64))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two array<bigint> wide fingerprints. */
  def hammingWide(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }
}
