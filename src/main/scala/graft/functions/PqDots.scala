package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SparkInternals
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** All m×k PQ subspace dot products of one vector in ONE looped
  * expression: `pq_dots(vec)` returns a FLAT `array<double>` of
  * length m·k where entry `[mi·k + ki] = round6(vec[mi·ds ..) ·
  * codebook[mi][ki])` — the quantity both sides of the IVF-PQ family
  * need (encode-side L2 argmin distances are `cb2 − 2·dot`; the
  * query-side ADC lookup table IS the dots). Flat and PRIMITIVE
  * (`UnsafeArrayData.fromPrimitiveArray`) rather than nested: the
  * nested form allocated m boxed-Double arrays per row, and at the
  * 100× corpus that boxing cost roughly what the plan-size fix saved
  * (consumers slice per subspace or index `mi·k + code`).
  *
  * WHY an expression and not the literal composition (measured, r10):
  * the composed form staged m·k literal dot products of ds
  * multiply-adds each as ONE Catalyst tree (~2,000+ nodes for the
  * 8×16×8 config) that the optimizer re-walks on every plan build —
  * `p_ann_ivfpq` cost a flat ~4 s at ANY data size (sf0.001 and 100×
  * alike), i.e. pure driver-side plan overhead, the same
  * plan-size pathology whose execution-side twin was the SignBands
  * 43× JIT cliff. Here the codebook is a flat `double[]` REFERENCE
  * OBJECT and the generated code is three nested loops — plan size
  * and bytecode both constant in m·k·ds.
  *
  * Rounding parity is exact BY CONSTRUCTION with the composition's
  * `round(dot, 6)`: Spark's `Round` on DoubleType is
  * `BigDecimal.valueOf(d).setScale(6, HALF_UP)` with NaN/Infinity
  * passed through — replicated verbatim here (spec-pinned against the
  * retained composition). A null vector or null element makes the
  * whole result NULL (the composition's per-entry null propagation
  * collapses to the same observable under the downstream
  * argmin/lookup, and clean corpora never hit it). A WRONG-LENGTH
  * vector throws (ADVICE r10): the literal composition failed loudly
  * on a dimension mismatch, and a mis-built codebook/corpus dim
  * mismatch is a configuration bug — NULL here would be silent data
  * loss (null codes dropped from top-k), so NULL is reserved for
  * genuinely missing data.
  */
case class PqDots(child: Expression, codebook: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  require(codebook.nonEmpty && codebook.head.nonEmpty &&
    codebook.head.head.nonEmpty, "pq_dots needs a non-empty codebook")
  require(codebook.map(_.size).distinct.size == 1,
    "every subspace must carry the same codeword count")
  require(codebook.flatMap(_.map(_.size)).distinct.size == 1,
    "every codeword must share one sub-dimension")

  private val m: Int = codebook.size
  private val k: Int = codebook.head.size
  private val ds: Int = codebook.head.head.size
  private val dim: Int = m * ds
  @transient private lazy val flat: Array[Double] =
    codebook.flatten.flatten.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_dots requires array<double> input, got $other")
    }

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val vec = v.asInstanceOf[ArrayData]
    if (vec.numElements() != dim)
      throw PqDots.dimMismatch(vec.numElements(), dim, m, ds)
    if (elementsNullable) {
      var j = 0
      while (j < dim) { if (vec.isNullAt(j)) return null; j += 1 }
    }
    val out = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < k) {
        var s = 0.0
        var j = 0
        val voff = mi * ds
        val coff = (mi * k + ki) * ds
        while (j < ds) { s += vec.getDouble(voff + j) * flat(coff + j); j += 1 }
        out(mi * k + ki) = PqDots.round6(s)
        ki += 1
      }
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val c = child.genCode(ctx)
    val fl = ctx.addReferenceObj("pqDotsCodebook", flat, "double[]")
    val dimS = dim.toString; val mS = m.toString
    val kS = k.toString; val dsS = ds.toString
    val out = ctx.freshName("out")
    val s = ctx.freshName("s")
    val mi = ctx.freshName("mi"); val ki = ctx.freshName("ki")
    val j = ctx.freshName("j")
    val voff = ctx.freshName("voff"); val coff = ctx.freshName("coff")
    val nullElemCheck =
      if (elementsNullable)
        s"""if (!${ev.isNull}) {
           |  for (int $j = 0; $j < $dimS; $j++) {
           |    if (${c.value}.isNullAt($j)) { ${ev.isNull} = true; break; }
           |  }
           |}
           |""".stripMargin
      else ""
    val code =
      code"""
        |${c.code}
        |boolean ${ev.isNull} = ${c.isNull};
        |if (!${ev.isNull} && ${c.value}.numElements() != $dimS) {
        |  throw graft.functions.PqDots.dimMismatch(
        |    ${c.value}.numElements(), $dimS, $mS, $dsS);
        |}
        |$nullElemCheck
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  double[] $out = new double[$mS * $kS];
        |  for (int $mi = 0; $mi < $mS; $mi++) {
        |    for (int $ki = 0; $ki < $kS; $ki++) {
        |      double $s = 0.0;
        |      int $voff = $mi * $dsS;
        |      int $coff = ($mi * $kS + $ki) * $dsS;
        |      for (int $j = 0; $j < $dsS; $j++) {
        |        $s += ${c.value}.getDouble($voff + $j) * $fl[$coff + $j];
        |      }
        |      $out[$mi * $kS + $ki] = graft.functions.PqDots.round6($s);
        |    }
        |  }
        |  ${ev.value} = org.apache.spark.sql.catalyst.expressions
        |    .UnsafeArrayData.fromPrimitiveArray($out);
        |}
        |""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "pq_dots"
}

object PqDots {
  /** Loud error for a vector whose length doesn't match the codebook
    * dim — a configuration bug, never dirty data. Public because the
    * generated code calls it.
    */
  def dimMismatch(got: Int, dim: Int, m: Int, ds: Int)
      : IllegalArgumentException =
    new IllegalArgumentException(
      s"pq_dots: input vector has $got elements but the codebook " +
        s"expects dim=$dim (m=$m subspaces x ds=$ds) — rebuild the " +
        "codebook for this corpus or fix the embedding column")

  /** Spark `Round(_, 6)` on DoubleType, verbatim: NaN/Infinity pass
    * through, else decimal-text BigDecimal + HALF_UP. Public because
    * the generated code calls it.
    */
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def pq_dots(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    SparkInternals.column(PqDots(SparkInternals.expression(vec),
      codebook.map(_.map(_.toSeq).toSeq).toSeq))
}
