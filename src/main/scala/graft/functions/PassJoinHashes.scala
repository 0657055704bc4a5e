package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The PassJoin hash pair (see docs/passjoin-candidate-diet.md and
  * Dedup.editDistancePairsFrom): both sides of the candidate equi-join
  * key on the SAME polynomial hash of a codepoint window, computed by
  * one native expression per document instead of
  * explode→substring→xxhash64 per window position.
  *
  * Why: the r13 stage anatomy put ~1.5 s of the sf0.1 candidate stage
  * in probe-side hash materialization — 1.52 M substring copies +
  * hashes whose windows overlap in all but one codepoint, with the
  * full text riding the generate pipeline so each exploded row could
  * cut its substring. Here each (i, wp) window rolls in
  * O(window + wp) and the text never leaves the expression.
  *
  * Hash contract: completeness needs only "equal codepoint sequence ⇒
  * equal hash", which the shared polynomial gives by construction;
  * collisions only add candidates the exact banded-DP verify kills,
  * so final rows — and the DuckDB oracle, which joins raw substrings
  * — are invariant. Codepoint (not UTF-16 unit) indexing matches SQL
  * `length`/`substring`, keeping the expression's window geometry
  * consistent with the frame-side length-band join conditions on any
  * input. */
private object PassJoinPoly {
  // odd multiplier → bijective per-step mix mod 2^64; wraparound is
  // the intended ring (this is a blocking key, not a cryptographic or
  // adversarial-input hash)
  val B = 0x100000001b3L

  def codepoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var ci = 0
    var j = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      out(j) = cp
      j += 1
      ci += Character.charCount(cp)
    }
    out
  }

  /** Direct polynomial hash of cps[from, from+w). */
  def hashAt(cps: Array[Int], from: Int, w: Int): Long = {
    var h = 0L
    var j = from
    val end = from + w
    while (j < end) { h = h * B + cps(j); j += 1 }
    h
  }
}

/** `pass_join_segments(text, maxD) → array<bigint>`: the maxD+1
  * disjoint fixed-width segment hashes (array position = segment
  * ordinal i), width w = len div (maxD+1). Documents shorter than
  * maxD+1 codepoints return an empty array (the frame filters them
  * first anyway). */
case class PassJoinSegmentHashes(child: Expression, maxD: Int)
    extends UnaryExpression {
  require(maxD >= 1, s"maxD must be >= 1, got $maxD")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    PassJoinSegmentHashes.compute(input.asInstanceOf[UTF8String], maxD)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = PassJoinSegmentHashes.getClass.getName
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $obj.MODULE$$.compute($c, $maxD);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "pass_join_segments"
}

object PassJoinSegmentHashes {
  def compute(text: UTF8String, maxD: Int): GenericArrayData = {
    val n = maxD + 1
    val cps = PassJoinPoly.codepoints(text)
    if (cps.length < n) return new GenericArrayData(Array.empty[Long])
    val w = cps.length / n
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = PassJoinPoly.hashAt(cps, i * w, w)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `pass_join_probe(text, maxD) →
  * array<struct<pi:int, wp:int, sigma:int, h:bigint>>`: every probe
  * window position of the PassJoin multi-match-aware bounds, hashes
  * rolled per (i, wp) window. σ is 1-based (SQL substring
  * convention), identical to the frame formulation it replaces:
  * p = i·wp + 1, Δ bucket bounds dmin/dmax from the wp length band,
  * lo = max(1, p − i, p + dmin − (maxD − i)),
  * hi = min(len − wp + 1, p + i, p + dmax + (maxD − i)). */
case class PassJoinProbeHashes(child: Expression, maxD: Int)
    extends UnaryExpression {
  require(maxD >= 1, s"maxD must be >= 1, got $maxD")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pi", IntegerType, nullable = false),
    StructField("wp", IntegerType, nullable = false),
    StructField("sigma", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    PassJoinProbeHashes.compute(input.asInstanceOf[UTF8String], maxD)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = PassJoinProbeHashes.getClass.getName
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $obj.MODULE$$.compute($c, $maxD);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "pass_join_probe"
}

object PassJoinProbeHashes {
  def compute(text: UTF8String, maxD: Int): GenericArrayData = {
    val n = maxD + 1
    val cps = PassJoinPoly.codepoints(text)
    val len = cps.length
    if (len < n) return new GenericArrayData(Array.empty[InternalRow])
    val w = len / n
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var wp = math.max(w - 1, 1)
    while (wp <= w) {
      // Δ = len_r − len_s with len_s ∈ [n·wp, n·wp + maxD] known to
      // the wp bucket at emission; exact Δ re-checked in the join
      val dmin = math.max(len - n * wp - maxD, 0)
      val dmax = math.min(len - n * wp, maxD)
      // precompute B^(wp-1) for the rolling drop term
      var bPow = 1L
      var k = 1
      while (k < wp) { bPow *= PassJoinPoly.B; k += 1 }
      var i = 0
      while (i < n) {
        val p = i * wp + 1
        val lo = math.max(1, math.max(p - i, p + dmin - (maxD - i)))
        val hi = math.min(len - wp + 1, math.min(p + i, p + dmax + (maxD - i)))
        if (lo <= hi) {
          var h = PassJoinPoly.hashAt(cps, lo - 1, wp)
          var sigma = lo
          while (sigma <= hi) {
            out += new GenericInternalRow(
              Array[Any](i, wp, sigma, h))
            if (sigma < hi) {
              // roll [sigma, sigma+wp) → [sigma+1, sigma+1+wp)
              h = (h - cps(sigma - 1) * bPow) * PassJoinPoly.B + cps(sigma - 1 + wp)
            }
            sigma += 1
          }
        }
        i += 1
      }
      wp += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}
