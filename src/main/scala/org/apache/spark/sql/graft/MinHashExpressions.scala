// Hosted under org.apache.spark.sql for the same private[sql] access
// as VectorExpressions (ExpectsInputTypes, the codegen context, the
// Column <-> Expression bridge).
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import scala.collection.immutable.ArraySeq

/** Shared kernel for [[MinHashMins]] — static so both the interpreted
  * eval and the generated code call the same body.
  */
object MinHashUtil {

  /** The Mersenne prime 2^31 − 1, the modulus of every permutation
    * (`graft.functions.PortableHash.P`, here as a compile-time constant).
    */
  final val P = 2147483647L

  /** y mod P for 0 ≤ y < 2^62: 2^31 ≡ 1 (mod P), so folding the high
    * bits onto the low ones twice leaves a value in [0, P + 1], and one
    * conditional subtraction finishes. Exact; no division.
    */
  @inline def modP(y: Long): Long = {
    val y1 = (y & P) + (y >>> 31)
    val y2 = (y1 & P) + (y1 >>> 31)
    if (y2 >= P) y2 - P else y2
  }

  /** Element j is min over the non-null h of `hs` of (a(j)·x + b(j))
    * mod P, where x = floorMod(h, P) (what `pmod(h, P)` gives). Contract:
    * every a(j) is in [1, P − 1] and every b(j) in [0, P − 1], so with
    * x < P the value a(j)·x + b(j) < 2^62 stays a non-negative long. A
    * null array, an empty one or one with no non-null element gives k
    * nulls — what `min` over no rows gives.
    */
  def mins(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val n = if (hs == null) 0 else hs.numElements()
    var m: Array[Long] = null
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        if (m == null) {
          m = new Array[Long](k)
          java.util.Arrays.fill(m, Long.MaxValue)
        }
        val x = java.lang.Math.floorMod(hs.getLong(i), P)
        var j = 0
        while (j < k) {
          val h = modP(a(j) * x + b(j))
          if (h < m(j)) m(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (m == null) new GenericArrayData(new Array[Any](k))
    else UnsafeArrayData.fromPrimitiveArray(m)
  }
}

/** `MinHashMins(hs)` → `array<long>`: the k MinHash signature values of
  * one document, from the array of its shingles' base hashes, in one
  * pass with k running mins — the kernel
  * behind [[graft.operators.Dedup]]'s signatures. The coefficient pairs
  * (a_j, b_j) are literal parameters, bound into generated code as two
  * `long[]` references. The result is never null and may hold nulls
  * (k of them when no hash is present), the type of the `array(min …)`
  * forms it replaces. See [[MinHashUtil.mins]] for the contract.
  */
case class MinHashMins(child: Expression, a: ArraySeq[Long], b: ArraySeq[Long])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(a.nonEmpty && a.length == b.length,
    s"need k >= 1 coefficient pairs, got ${a.length} a and ${b.length} b")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_mins"
  // the 2k coefficients would fill plan strings
  override protected def stringArgs: Iterator[Any] = Iterator(child, s"k=${a.length}")

  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  override def eval(input: InternalRow): Any =
    MinHashUtil.mins(child.eval(input).asInstanceOf[ArrayData], aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hs = child.genCode(ctx)
    val aRef = ctx.addReferenceObj("minHashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minHashB", bArr, "long[]")
    ev.copy(code = code"""
      ${hs.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        org.apache.spark.sql.graft.MinHashUtil.mins(
          ${hs.isNull} ? null : ${hs.value}, $aRef, $bRef);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashMins =
    copy(child = newChild)
}

/** Column-level entry point for the MinHash kernel. */
object MinHashExpressions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  /** [[MinHashMins]] of the base hashes `hs` under the coefficient
    * pairs `coeffs`.
    */
  def minHashMins(hs: Column, coeffs: Seq[(Long, Long)]): Column =
    ExpressionUtils.column(MinHashMins(ExpressionUtils.expression(hs),
      ArraySeq.unsafeWrapArray(coeffs.map(_._1).toArray),
      ArraySeq.unsafeWrapArray(coeffs.map(_._2).toArray)))
}
