package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkInternals
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All sign-projection band keys of one vector in ONE looped
  * expression: `sign_bands(vec)` returns the `array<string>` of band
  * bucket keys ('0'/'1' chars, `planesPerBand` bits per band, ragged
  * final band kept) that [[graft.pipeline.SimilarityOps.lshBands]]
  * previously built from nPlanes separate `when(dot(vec, p) >= 0, ...)`
  * columns.
  *
  * WHY an expression and not the composition (measured r8 by a
  * since-retired bench, SCALE.md "Retired experiment mains"):
  * the composed form UNROLLS one fused dot-product loop per plane into
  * the whole-stage-codegen method, whose bytecode grows past the JIT's
  * per-method compilation ceiling somewhere between 24 and 48 planes —
  * execution silently falls to interpreted bytecode and the banding
  * stage pays a measured **43× cliff** (0.31 s → 13.3 s for the same
  * 50k×64 corpus). Every corpus past ~16M vectors sizes to ≥ 48
  * planes ([[graft.pipeline.LshConfig.forCorpusSize]]), i.e. the
  * slowdown lands exactly on the corpora that need LSH most. Here the
  * plane matrix is a flat `double[]` REFERENCE OBJECT and the
  * generated code is two nested loops — bytecode size constant in the
  * plane count, inside whole-stage codegen.
  *
  * Bit-parity with the composition is exact and spec-pinned,
  * including the edges the composition defines implicitly:
  * a NULL vector, a wrong-length vector, or a null element make every
  * `dot` NULL, and `when(null >= 0, 1).otherwise(0)` yields bit 0 —
  * so those rows produce ALL-ZERO band keys, not null output (this
  * expression is therefore non-nullable); and Spark's double ordering
  * treats NaN as the largest value, so a NaN dot sets bit 1 (unlike
  * Java's primitive `>=`, which the generated code must not use
  * unguarded).
  */
case class SignBands(child: Expression, planes: Seq[Seq[Double]],
    planesPerBand: Int) extends UnaryExpression {

  require(planes.nonEmpty, "sign_bands needs at least one hyperplane")
  require(planesPerBand > 0,
    s"planesPerBand must be positive, got $planesPerBand")
  require(planes.map(_.size).distinct.size == 1,
    "hyperplanes must share one dimensionality")

  private val dim: Int = planes.head.size
  private val nPlanes: Int = planes.size
  private val nBands: Int =
    math.ceil(nPlanes.toDouble / planesPerBand).toInt
  @transient private lazy val flatPlanes: Array[Double] =
    planes.flatten.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sign_bands requires array<double> input, got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // a null / malformed vector yields all-zero band keys, never null
  override def nullable: Boolean = false

  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val bands = new Array[UTF8String](nBands)
    val vec = v.asInstanceOf[ArrayData]
    // a null vec, wrong length, or any null element nulls EVERY dot
    val usable = v != null && vec.numElements() == dim && {
      var ok = true
      if (elementsNullable) {
        var j = 0
        while (ok && j < dim) { if (vec.isNullAt(j)) ok = false; j += 1 }
      }
      ok
    }
    var p = 0
    var b = 0
    while (b < nBands) {
      val w = math.min(planesPerBand, nPlanes - b * planesPerBand)
      val chars = new Array[Byte](w)
      var k = 0
      while (k < w) {
        var bit: Byte = '0'
        if (usable) {
          var s = 0.0
          var j = 0
          val off = p * dim
          while (j < dim) { s += vec.getDouble(j) * flatPlanes(off + j); j += 1 }
          // Spark's double ordering: NaN sorts above everything, so
          // NaN >= 0 is TRUE (java primitive >= would say false)
          if (s >= 0.0 || java.lang.Double.isNaN(s)) bit = '1'
        }
        chars(k) = bit
        k += 1
        p += 1
      }
      bands(b) = UTF8String.fromBytes(chars)
      b += 1
    }
    new GenericArrayData(bands.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val c = child.genCode(ctx)
    val flat = ctx.addReferenceObj("signBandsPlanes", flatPlanes, "double[]")
    // pre-render the compile-time constants: the code interpolator
    // accepts JavaCode/String splices, not raw Ints
    val dimS = dim.toString
    val nBandsS = nBands.toString
    val nPlanesS = nPlanes.toString
    val ppbS = planesPerBand.toString
    val bands = ctx.freshName("bands")
    val usable = ctx.freshName("usable")
    val chars = ctx.freshName("chars")
    val s = ctx.freshName("s")
    val b = ctx.freshName("b")
    val k = ctx.freshName("k")
    val j = ctx.freshName("j")
    val w = ctx.freshName("w")
    val p = ctx.freshName("p")
    val off = ctx.freshName("off")
    val nullElemCheck =
      if (elementsNullable)
        s"""if ($usable) {
           |  for (int $j = 0; $j < $dimS; $j++) {
           |    if (${c.value}.isNullAt($j)) { $usable = false; break; }
           |  }
           |}
           |""".stripMargin
      else ""
    val code =
      code"""
        |${c.code}
        |org.apache.spark.unsafe.types.UTF8String[] $bands =
        |  new org.apache.spark.unsafe.types.UTF8String[$nBandsS];
        |boolean $usable = !${c.isNull} &&
        |  ${c.value}.numElements() == $dimS;
        |$nullElemCheck
        |int $p = 0;
        |for (int $b = 0; $b < $nBandsS; $b++) {
        |  int $w = java.lang.Math.min($ppbS, $nPlanesS - $b * $ppbS);
        |  byte[] $chars = new byte[$w];
        |  for (int $k = 0; $k < $w; $k++, $p++) {
        |    byte bit = (byte) '0';
        |    if ($usable) {
        |      double $s = 0.0;
        |      int $off = $p * $dimS;
        |      for (int $j = 0; $j < $dimS; $j++) {
        |        $s += ${c.value}.getDouble($j) * $flat[$off + $j];
        |      }
        |      if ($s >= 0.0 || java.lang.Double.isNaN($s)) bit = (byte) '1';
        |    }
        |    $chars[$k] = bit;
        |  }
        |  $bands[$b] =
        |    org.apache.spark.unsafe.types.UTF8String.fromBytes($chars);
        |}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  new org.apache.spark.sql.catalyst.util.GenericArrayData($bands);
        |""".stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "sign_bands"
}

object SignBands {
  def sign_bands(vec: Column, planes: Seq[Seq[Double]],
      planesPerBand: Int): Column =
    SparkInternals.column(
      SignBands(SparkInternals.expression(vec), planes, planesPerBand))
}
