package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native codegen'd SPARSE integer dot product:
  * `sparse_dot_long(termsA, weightsA, termsB, weightsB)` where each
  * side is a pair of parallel arrays — terms sorted ascending (binary
  * UTF8 order for string terms, numeric order for bigint dictionary
  * ids; both are what `sort_array` produces) with no duplicates,
  * weights aligned by index. Returns Σ wA[i]·wB[j] over matching
  * terms via a single linear merge scan.
  *
  * This is the pair-verification inner loop of sparse (lexical)
  * similarity — [[graft.analytics.TextAnalysis.tfIdfCosinePairs]]'s
  * phase 2. The relational alternative (explode both posting lists,
  * equi-join on (doc, term), re-aggregate) shuffles candidate × terms
  * rows twice; with per-doc vectors built ONCE, each candidate pair is
  * a single compiled scan and nothing per-term ever crosses an
  * exchange. Same motivation as [[ArrayDotLong]] for the dense case:
  * higher-order-function formulations run interpreted.
  *
  * Exactness contract: terms are compared as raw UTF8 bytes (no hash,
  * no collision risk); the caller guarantees sortedness/uniqueness and
  * Long headroom (Σ|wA·wB| < 2^63 — tf-idf e3 weights satisfy this
  * through ~1e4-term docs, see the caller's headroom note). Any null
  * input array yields null; null elements are never produced by the
  * builders and are treated as term-mismatch-impossible (weights read
  * raw). A terms/weights pair of UNEQUAL length is a mis-built vector,
  * not a degenerate dot: since the function is registered user-facing
  * SQL (`sparse_dot_long`), both the interpreted and codegen paths
  * fail fast with IllegalArgumentException instead of silently
  * truncating to the shorter array and returning a plausible wrong
  * value.
  */
case class SparseDotLong(tA: Expression, wA: Expression,
                         tB: Expression, wB: Expression)
    extends QuaternaryExpression {

  override def first: Expression = tA
  override def second: Expression = wA
  override def third: Expression = tB
  override def fourth: Expression = wB

  /** True when term keys are bigint ids (the narrow round-15 path:
    * tfIdfCosinePairs ships 8-byte dictionary ids instead of term
    * strings through the pair joins — guide §2.3); false for the
    * original UTF8-bytes term path. Both sides must agree. */
  private def longKeyed: Boolean = tA.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def terms(dt: DataType) = dt match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) => true
      case _ => false
    }
    def weights(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    // element types only: array nullability (containsNull) may differ
    def elementType(dt: DataType) = dt match {
      case ArrayType(et, _) => Some(et)
      case _ => None
    }
    if (terms(tA.dataType) && weights(wA.dataType)
        && elementType(tB.dataType) == elementType(tA.dataType)
        && weights(wB.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sparse_dot_long requires (array<string> | array<bigint> terms — " +
        "both sides the same — , array<bigint> weights) × 2, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "sparse_dot_long"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val ta = a.asInstanceOf[ArrayData]
    val wa = b.asInstanceOf[ArrayData]
    val tb = c.asInstanceOf[ArrayData]
    val wb = d.asInstanceOf[ArrayData]
    SparseDotLong.requireAligned(
      ta.numElements(), wa.numElements(), tb.numElements(), wb.numElements())
    val na = ta.numElements()
    val nb = tb.numElements()
    var ia = 0
    var ib = 0
    var s = 0L
    if (longKeyed) {
      while (ia < na && ib < nb) {
        val cmp = java.lang.Long.compare(ta.getLong(ia), tb.getLong(ib))
        if (cmp < 0) ia += 1
        else if (cmp > 0) ib += 1
        else { s += wa.getLong(ia) * wb.getLong(ib); ia += 1; ib += 1 }
      }
    } else {
      while (ia < na && ib < nb) {
        val cmp = ta.getUTF8String(ia).compareTo(tb.getUTF8String(ib))
        if (cmp < 0) ia += 1
        else if (cmp > 0) ib += 1
        else { s += wa.getLong(ia) * wb.getLong(ib); ia += 1; ib += 1 }
      }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ta, wa, tb, wb) => {
      // freshName per instance — see ArrayDotLong's janino note
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val ia = ctx.freshName("ia")
      val ib = ctx.freshName("ib")
      val s = ctx.freshName("s")
      val cmp = ctx.freshName("cmp")
      val compare =
        if (longKeyed)
          s"java.lang.Long.compare($ta.getLong($ia), $tb.getLong($ib))"
        else s"$ta.getUTF8String($ia).compareTo($tb.getUTF8String($ib))"
      s"""
         |graft.functions.SparseDotLong.requireAligned(
         |  $ta.numElements(), $wa.numElements(),
         |  $tb.numElements(), $wb.numElements());
         |int $na = $ta.numElements();
         |int $nb = $tb.numElements();
         |int $ia = 0; int $ib = 0; long $s = 0L;
         |while ($ia < $na && $ib < $nb) {
         |  int $cmp = $compare;
         |  if ($cmp < 0) { $ia++; }
         |  else if ($cmp > 0) { $ib++; }
         |  else { $s += $wa.getLong($ia) * $wb.getLong($ib); $ia++; $ib++; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): SparseDotLong =
    copy(tA = f, wA = s, tB = t, wB = q)
}

object SparseDotLong {
  /** Column wrapper: `sparse_dot_long(termsA, weightsA, termsB, weightsB)`. */
  def apply(ta: Column, wa: Column, tb: Column, wb: Column): Column =
    Shim.column(new SparseDotLong(Shim.expression(ta), Shim.expression(wa),
      Shim.expression(tb), Shim.expression(wb)))

  /** Shared by the interpreted and generated paths (the codegen calls
    * this via the companion's static forwarder): parallel arrays of
    * unequal length are a caller bug — fail fast, never truncate. */
  def requireAligned(na: Int, nwa: Int, nb: Int, nwb: Int): Unit =
    if (na != nwa || nb != nwb)
      throw new IllegalArgumentException(
        s"sparse_dot_long: terms/weights must be parallel arrays of equal " +
          s"length, got ($na terms, $nwa weights) x ($nb terms, $nwb weights)")
}
