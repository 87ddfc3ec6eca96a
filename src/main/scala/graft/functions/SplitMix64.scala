package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** splitmix64-keyed deterministic uniform draws — the engine's
  * cross-engine-replayable RNG.
  *
  * Replaces the previous xxhash64-based draw (and before that the
  * reference's `np.random.default_rng`,
  * /root/reference/src/cosmap/analysis/sampler.py:87-104) with a mixer
  * whose DuckDB replay is pure 64-bit integer arithmetic: three
  * xorshift-multiply rounds (Steele et al., "Fast Splittable
  * Pseudorandom Number Generators", OOPSLA'14 — the JDK
  * `SplittableRandom` finalizer). The same properties as the xxhash64
  * version hold — partitioning-independent (keyed by row id, not by
  * Spark's partition layout, so a 1000-executor run equals local[32]
  * bit for bit) — plus one more: the oracle side can now evaluate the
  * identical draw in SQL (HUGEINT intermediates, explicit mod-2^64),
  * so sampler-driven queries are EXACT-gated rather than rows-only.
  *
  * Uniform construction: top 53 bits of the mix → double in [0,1),
  * the standard `(z >>> 11) * 2^-53` ladder — both engines convert the
  * same integer to the same double (≤ 2^53 is exactly representable).
  */
object SplitMix64Kernel {
  /** 2^64 / φ — the Weyl increment; also folds the salt into the id. */
  final val Golden = 0x9E3779B97F4A7C15L

  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0,1) draw for (id, saltTerm) with saltTerm pre-folded
    * (= salt * Golden, wrapping). */
  def uniform(id: Long, saltTerm: Long): Double =
    (mix(id + saltTerm) >>> 11).toDouble / 9007199254740992.0 // 2^53

  /** String hash: poly-31 over UNICODE CODE POINTS (mod 2^64) through
    * the splitmix64 finalizer. The code-point domain is the one both
    * engines can state identically — DuckDB's `length`/`s[i:i]`/
    * `unicode` are per-code-point (validated incl. supplementary
    * planes) — and the manual UTF-8 decode below reads them straight
    * off the string's bytes with zero allocation (the sketch kernels
    * call this per token in their hot loop). */
  def strHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    var h = 0L
    var i = 0
    val n = s.numBytes
    while (i < n) {
      val b0 = s.getByte(i) & 0xFF
      var cp = 0
      var len = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var j = 1
      while (j < len && i + j < n) {
        cp = (cp << 6) | (s.getByte(i + j) & 0x3F)
        j += 1
      }
      h = h * 31L + cp
      i += len
    }
    mix(h)
  }

  /** Left fold h = mix(h ^ v) over an array of 64-bit values from
    * `init` — the band-key / shingle-chain combiner. Bit patterns are
    * what's folded, so signed JVM longs and the oracle's [0,2^64)
    * HUGEINTs agree exactly. */
  def foldMix(init: Long, vs: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var h = init
    var i = 0
    val n = vs.numElements()
    while (i < n) {
      h = mix(h ^ vs.getLong(i))
      i += 1
    }
    h
  }
}

/** [[SplitMix64Kernel.foldMix]] as a codegen'd expression: the banded-
  * LSH bucket key over a signature slice (replaces `xxhash64(slice)`,
  * whose internal array-hash protocol DuckDB cannot replay). */
case class MixFoldExpr(child: Expression, init: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"mixFold needs array<bigint>, got $other")
  }
  override protected def nullSafeEval(input: Any): Any =
    SplitMix64Kernel.foldMix(init,
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SplitMix64Kernel.foldMix(${init}L, $a);")
  override protected def withNewChildInternal(newChild: Expression): MixFoldExpr =
    copy(child = newChild)
}

/** [[SplitMix64Kernel.strHash]] as a codegen'd expression: the
  * poly-31 code-point fold through the splitmix64 finalizer, per row.
  * DuckDB replay: `mixSql(polyHashSql(s))` (the q96 oracle pattern) —
  * the result is the same 64-bit value, signed here, in [0, 2^64) as
  * HUGEINT there; consumers that need a cross-engine-comparable
  * non-negative value use the top bits (`>>> 11`), which both
  * representations state identically. */
case class StrHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"strHash needs a string, got $other")
  }
  override protected def nullSafeEval(input: Any): Any =
    SplitMix64Kernel.strHash(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SplitMix64Kernel.strHash($a);")
  override protected def withNewChildInternal(newChild: Expression): StrHash =
    copy(child = newChild)
}

/** `uniform(id, salt)` as a codegen'd Catalyst expression: one static
  * kernel call per row, no boxing, stays inside WholeStageCodegen. */
case class SplitMixUniform(child: Expression, saltTerm: Long)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"splitmix uniform needs an integral id, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val id = input match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }
    SplitMix64Kernel.uniform(id, saltTerm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SplitMix64Kernel.uniform((long) $a, ${saltTerm}L);")

  override protected def withNewChildInternal(newChild: Expression): SplitMixUniform =
    copy(child = newChild)
}

object SplitMix64 {
  import SplitMix64Kernel.Golden

  private def saltTerm(salt: Long): Long = salt * Golden

  /** Deterministic uniform draw in [0,1) keyed by (id, salt). */
  def uniform(id: Column, salt: Long): Column =
    graftbridge.toColumn(
      SplitMixUniform(graftbridge.toExpression(id), saltTerm(salt)))

  /** Column form of [[SplitMix64Kernel.strHash]] (codegen'd). */
  def strHash(c: Column): Column =
    graftbridge.toColumn(StrHash(graftbridge.toExpression(c)))

  // ---- DuckDB replay (code-generated oracle SQL) -------------------
  //
  // The oracle side states the identical mixer over HUGEINT (128-bit)
  // intermediates. A 64x64 multiply overflows HUGEINT, so each
  // multiply-mod-2^64 is split into 32-bit halves:
  //   z*c mod 2^64 = (zl*cl + ((zh*cl + zl*ch) mod 2^32) << 32) mod 2^64
  // with every intermediate < 2^97. Bit-exactness vs the JVM kernel is
  // spec-checked (SplitMix64Spec) and gate-proven by q32/q33.

  private val M64 = "18446744073709551616" // 2^64

  private def mulModSql(z: String, c: Long): String = {
    val clo = c & 0xFFFFFFFFL
    val chi = c >>> 32
    s"(((($z) % 4294967296) * $clo + ((((($z) >> 32) * $clo + " +
      s"(($z) % 4294967296) * $chi) % 4294967296) << 32)) % $M64)"
  }

  private def xorShiftSql(z: String, s: Int): String =
    s"xor(($z), ($z) >> $s)"

  /** SQL for `mix(x)` — x must be a HUGEINT expression in [0, 2^64).
    * The argument is textually repeated many times (each xorshift
    * doubles, each split multiply quadruples), so call this ONLY on a
    * short column reference; chain longer pipelines through CTE
    * columns, one mix per layer. */
  def mixSql(x: String): String = {
    val x0 = s"(($x) % $M64)"
    val z1 = mulModSql(xorShiftSql(x0, 30), 0xBF58476D1CE4E5B9L)
    val z2 = mulModSql(xorShiftSql(z1, 27), 0x94D049BB133111EBL)
    xorShiftSql(z2, 31)
  }

  /** SQL for the poly-31 code-point fold of [[SplitMix64Kernel
    * .strHash]] (pre-mix): feed through [[mixSql]] via a CTE column. */
  def polyHashSql(strExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
      s"list_transform(range(1, length($strExpr)+1), " +
      s"i -> CAST(unicode(($strExpr)[i:i]) AS HUGEINT))), " +
      s"(acc, cp) -> (acc * 31 + cp) % $M64)"

  /** The salt term salt·Golden (wrapping) as an unsigned SQL literal. */
  def saltTermSql(salt: Long): String =
    java.lang.Long.toUnsignedString(saltTerm(salt))

  /** The salt fold: (x + salt·Golden) mod 2^64, as SQL. */
  def saltedSql(x: String, salt: Long): String =
    s"((($x) + ${saltTermSql(salt)}) % $M64)"

  /** The salt fold with the term as SQL: (x + term) mod 2^64. `term`
    * is a HUGEINT in [0, 2^64) that may vary by row: a salt column
    * times `saltTermSql(1)`, a [[saltTableSql]], or a [[saltTermSql]]. */
  def saltedRowSql(x: String, term: String): String = s"($x + $term) % $M64"

  /** A k-hash family's salt table as SQL: row j of column `row`, for
    * j < `rows`, gets the term of salt `salt + j`. */
  def saltTableSql(row: String, salt: Long, rows: Int): String =
    (0 until rows).map(j => s"WHEN $j THEN ${saltTermSql(salt + j)}")
      .mkString(s"CASE $row ", " ", " END")

  /** A mix value in [0, 2^64) re-signed as the JVM's long. */
  def signedSql(x: String): String =
    s"CASE WHEN $x >= 9223372036854775808 THEN $x - $M64 ELSE $x END"

  /** SQL for `uniform(idExpr, salt)` — idExpr must be a non-negative
    * integral SQL expression. */
  def uniformSql(idExpr: String, salt: Long): String = {
    val z3 = mixSql(s"CAST($idExpr AS HUGEINT) + ${saltTermSql(salt)}")
    s"((($z3) >> 11) / 9007199254740992.0)"
  }

  /** Column form of [[SplitMix64Kernel.foldMix]]. */
  def mixFold(arr: Column, init: Long): Column =
    graftbridge.toColumn(MixFoldExpr(graftbridge.toExpression(arr), init))
}
