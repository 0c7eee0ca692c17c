package graft.functions.expressions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: winnowing document fingerprints
  * (Schleimer et al., SIGMOD 2003) in ONE fused pass — rolling k-char
  * gram hashes, sliding w-window minima, first-occurrence dedup —
  * returning `array<long>`.
  *
  * BIT-IDENTICAL to the composable
  * `winnowFromGrams(gramHashes(text, k), w)` built-in pipeline (the
  * t04/d13 oracles keep working unchanged): each gram's hash is the
  * first 14 hex chars of `md5(utf8(gram))` parsed base-16 — exactly
  * `conv(substring(md5(text.substr(i,k)),1,14),16,10)` — i.e. the
  * first 7 digest bytes big-endian.
  *
  * Why native: the HOF pipeline evaluates an interpreted five-node
  * expression chain PER GRAM (substr → md5 → hex-encode → conv parse →
  * cast), allocating a UTF8String substring, a hex string, and a
  * decimal string for every gram, then a w-slice array per window.
  * Here the text's UTF-8 bytes are walked once for char boundaries,
  * each gram digests its byte RANGE in place (one reused
  * MessageDigest, digest written into a reused buffer), and the
  * window minima fold over a primitive long array. Codegen emits one
  * static call, so the expression stays inside whole-stage codegen
  * and canonicalizes (no lambda ids — exchange reuse survives, see
  * `Similarity.bucketRows` for why that matters in self-joins).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1, s"winnow_fingerprints: gram size k must be >= 1, got $k")
  require(w >= 1, s"winnow_fingerprints: window w must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects a string column, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.WinnowFingerprints.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {

  /** Column-level entry point. */
  def apply(text: Column, k: Int, w: Int): Column =
    GraftExpressionBridge.column(
      WinnowFingerprints(GraftExpressionBridge.expression(text), k, w))

  /** The fused kernel. Public static so generated code can call it. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val nChars = text.numChars()
    if (nChars < k) return new GenericArrayData(Array.emptyLongArray)
    val bytes = text.getBytes
    // char-boundary byte offsets: bound(c) = byte offset of char c
    val bound = new Array[Int](nChars + 1)
    var c = 0
    var off = 0
    while (c < nChars) {
      bound(c) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      c += 1
    }
    bound(nChars) = off

    val numGrams = nChars - k + 1
    val grams = new Array[Long](numGrams)
    val dig = new Array[Byte](16)
    var i = 0
    while (i < numGrams) {
      // first 14 hex chars base-16 = first 7 digest bytes big-endian
      grams(i) = PortableHash56.hash(bytes, bound(i), bound(i + k) - bound(i), dig)
      i += 1
    }

    // sliding minima (windows clamp to the array like slice(grams,j,w)),
    // deduped in first-occurrence order like array_distinct
    val numWindows = math.max(numGrams - w + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var j = 0
    while (j < numWindows) {
      var m = grams(j)
      val end = math.min(j + w, numGrams)
      var t = j + 1
      while (t < end) {
        if (grams(t) < m) m = grams(t)
        t += 1
      }
      if (seen.add(m)) out += m
      j += 1
    }
    new GenericArrayData(out.result())
  }
}
