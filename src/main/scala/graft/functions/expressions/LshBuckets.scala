package graft.functions.expressions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.Similarity

/** Native Catalyst expression: the random-hyperplane LSH bucket id of an
  * `array<float>` embedding in each of `tables` tables of `planes`
  * planes, as one non-null `array<bigint>` (element t = table t's
  * bucket).
  *
  * BIT-IDENTICAL to the per-plane sum it replaces,
  * `Σ_p when(QuantizedDot(vec, signs_p) > 0, 1L << p).otherwise(0L)`
  * over plane rows `[t·planes, (t+1)·planes)` of
  * [[Similarity.planeSigns]], overflow included: each element is
  * quantized once as `(long) floor(x·1000.0 + 0.5)` (the same float ×
  * double arithmetic as [[QuantizedDot]]), each plane's dot sums
  * `q_d · s` in `d` order with Long wrap-around, `s = ±1000` being the
  * quantized ±1 sign, and bit `p` is set when that sum is `> 0`. A null
  * vector, or one whose length is not `dims`, gets bucket 0 in every
  * table — what the per-plane form's `when(null > 0, …)` gives.
  *
  * Why one kernel: the per-plane form is `tables × planes` separate
  * [[QuantizedDot]] loops, and whole-stage codegen inlines them all into
  * one Java method (18 KB of bytecode at 4 × 8). HotSpot never
  * JIT-compiles a method over 8,000 bytes, so that projection ran in
  * the bytecode interpreter on every pass. Here codegen emits one
  * static call. The sign matrix is derived from the case-class fields
  * and kept out of them, so the expression still compares and
  * canonicalizes by `(child, planes, dims, tables)` — the candidate
  * self-joins' exchange reuse depends on that.
  */
case class LshBuckets(child: Expression, planes: Int, dims: Int, tables: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 64,
    s"lsh_buckets: planes must be in [1, 64], got $planes")
  require(dims >= 1, s"lsh_buckets: dims must be >= 1, got $dims")
  require(tables >= 1, s"lsh_buckets: tables must be >= 1, got $tables")

  /** Quantized signs, row-major: plane `t·planes + p`, dimension `d` at
    * `(t·planes + p)·dims + d`. */
  @transient private lazy val signs: Array[Long] = LshBuckets.signMatrix(planes * tables, dims)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets expects array<float>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    LshBuckets.compute(child.eval(input).asInstanceOf[ArrayData], signs, planes, dims, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val signsRef = ctx.addReferenceObj("lshSigns", signs, "long[]")
    ev.copy(code = code"""
       |${c.code}
       |ArrayData ${ev.value} = graft.functions.expressions.LshBuckets.compute(
       |  ${c.isNull} ? null : ${c.value}, $signsRef, $planes, $dims, $tables);
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBuckets {

  /** Column-level entry point. */
  def apply(vec: Column, planes: Int, dims: Int, tables: Int): Column =
    GraftExpressionBridge.column(
      LshBuckets(GraftExpressionBridge.expression(vec), planes, dims, tables))

  /** [[Similarity.planeSigns]] quantized (±1 → ±1000), flattened row-major. */
  private def signMatrix(planes: Int, dims: Int): Array[Long] =
    Similarity.planeSigns(planes, dims).flatten
      .map(s => math.floor(s.toFloat * 1000.0 + 0.5).toLong).toArray

  /** The fused kernel. Public static so generated code can call it. */
  def compute(vec: ArrayData, signs: Array[Long], planes: Int, dims: Int,
      tables: Int): ArrayData = {
    val out = new Array[Long](tables)
    if (vec != null && vec.numElements() == dims) {
      val q = new Array[Long](dims)
      var d = 0
      while (d < dims) {
        q(d) = math.floor(vec.getFloat(d) * 1000.0 + 0.5).toLong
        d += 1
      }
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var p = 0
        while (p < planes) {
          val row = (t * planes + p) * dims
          var sum = 0L
          d = 0
          while (d < dims) {
            sum += q(d) * signs(row + d)
            d += 1
          }
          if (sum > 0) bucket |= 1L << p
          p += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
