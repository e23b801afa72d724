package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SparkInternals
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `simhash_fp(ws)` — the 60-bit SimHash fingerprint of a token
  * array in ONE JVM loop, replacing [[graft.pipeline.DedupOps.simhash]]'s
  * expression composition (distinct → per-word
  * `conv(substring(md5(w),1,15),16,10)` → `aggregate`/`zip_with` vote
  * fold): that form paid, PER DISTINCT WORD, a one-shot commons-codec
  * digest, a 32-char hex rendering, a 15-char substring, a string→long
  * `conv` parse, and TWO 15-element array allocations in the fold
  * (guide §1.2). Here each distinct word is one reused-digest md5 and
  * the votes accumulate in a primitive int[Bits].
  *
  * BIT-IDENTICAL to the composition for documents with fewer than
  * 2^16 distinct words, spec-pinned. The composition packed four
  * 16-bit vote counters per long, so at 2^16 or more distinct words
  * its counters overflow into their neighbours and its fingerprint
  * differs from this loop's exact int counts (an index persisted by
  * the composition holds the overflowed value for such documents).
  * Semantics, with D = `Bits`/4 hex digits:
  *  - distinct words (set semantics — vote counts and nw use the
  *    distinct count, order irrelevant);
  *  - word value = leading D md5 hex nibbles as a long — i.e. the
  *    first 8 digest bytes read big-endian, shifted right 64 − `Bits`;
  *  - bit (4p + b) of the fingerprint is set when
  *    2 · (#words whose digit p has bit b set) >= nw, where digit p is
  *    hex position p+1, i.e. value bits [4·(D−1−p), +3] — the `vote*2
  *    >= nw` majority with the exact tie behavior of the composition
  *    (including the degenerate empty-array case: nw = 0 sets every
  *    bit);
  *  - a null token anywhere poisons the fold to null votes, which the
  *    composition's `when(null…).otherwise(0)` collapses to
  *    fingerprint 0 — replicated (tokenizers here never emit nulls);
  *  - a null ARRAY yields null.
  */
case class SimhashFpExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_fp requires array<string> input, got $other")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimhashFp.fp(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashFp.fp($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "simhash_fp"
}

object SimhashFp {

  /** Fingerprint width; the banding and the oracle read the same
    * constant. A whole number of hex digits, at most the 64 bits the
    * leading 8 digest bytes give. */
  val Bits: Int = graft.pipeline.DedupOps.SimhashBits
  require(Bits % 4 == 0 && Bits <= 64, s"simhash width $Bits")
  private val LastDigit = Bits / 4 - 1

  private val localMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The loop. Public and primitive-typed because the generated code
    * calls it. */
  def fp(ws: ArrayData): Long = {
    val n = ws.numElements()
    val md = localMd5.get()
    val seen = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    val votes = new Array[Int](Bits)
    var nw = 0
    var i = 0
    while (i < n) {
      if (ws.isNullAt(i)) return 0L // poison — see scaladoc
      val w = ws.getUTF8String(i)
      if (seen.add(w)) {
        nw += 1
        md.reset()
        val dig = md.digest(w.getBytes)
        // leading Bits/4 hex nibbles as a long = first 8 bytes
        // big-endian, low 64 - Bits bits dropped
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
        v = v >>> (64 - Bits)
        // bit (4p + b) votes on value bit 4*(LastDigit-p) + b
        var bit = 0
        while (bit < Bits) {
          val p = bit / 4
          if (((v >>> (4 * (LastDigit - p) + bit % 4)) & 1L) != 0L)
            votes(bit) += 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < Bits) {
      if (2 * votes(bit) >= nw) out |= 1L << bit
      bit += 1
    }
    out
  }

  def simhashFp(ws: Column): Column =
    SparkInternals.column(SimhashFpExpr(SparkInternals.expression(ws)))
}
