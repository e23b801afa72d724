package graft.store

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.{BoundLiteral, SparkInternals}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Value of an `ordered_on` column as tracked by the stats sidecar.
  * The reference compares ordered_on values as int, float or Timestamp
  * (ref oups/store/.../iter_intersections.py:68-69, write.py:98-103);
  * we support Long, Double and µs-precision timestamps (TIMESTAMP_NTZ).
  */
sealed trait OrdVal extends Ordered[OrdVal] {
  def typeTag: String

  override def compare(that: OrdVal): Int = (this, that) match {
    case (OrdLong(a), OrdLong(b))     => java.lang.Long.compare(a, b)
    case (OrdDouble(a), OrdDouble(b)) => java.lang.Double.compare(a, b)
    case (OrdTs(a), OrdTs(b))         => java.lang.Long.compare(a, b)
    // binary UTF-8 order — the order Spark's min/max aggregates use;
    // java.lang.String.compareTo (UTF-16 code units) diverges for
    // supplementary characters and would mis-prune
    case (OrdStr(a), OrdStr(b))       =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    case _ => throw new IllegalArgumentException(
      s"incomparable OrdVal types: $typeTag vs ${that.typeTag}")
  }

  /** This value as the bound of a predicate on a column of type `dt`
    * (`col(c) >= v.bound(dt)`): the one way an `OrdVal` becomes a
    * `Column` in the engine.
    *
    * The literal is a [[org.apache.spark.sql.graftbridge.BoundLiteral]]
    * in the column's own type, so its generated code reads the value
    * from the stage's references: a second read of the same shape with
    * other bounds reuses the compiled classes instead of compiling new
    * ones. It is still a `Literal`, so parquet pushdown, file pruning
    * and metadata aggregates see the same predicate as a plain literal.
    * Timestamps are µs since epoch in either timestamp type (an LTZ
    * column compares the true instant, under any session timezone).
    *
    * A value the column's type cannot hold exactly (an int column's
    * out-of-range long, a double with no exact float) stays a plain
    * literal in the value's own type, compared through the analyzer's
    * usual widening, as is any other type pair.
    */
  def bound(dt: DataType): Column = SparkInternals.column((this, dt) match {
    case (OrdLong(v), LongType)                    => new BoundLiteral(v, dt)
    case (OrdLong(v), IntegerType) if v.isValidInt => new BoundLiteral(v.toInt, dt)
    case (OrdDouble(v), DoubleType)                => new BoundLiteral(v, dt)
    case (OrdDouble(v), FloatType) if v.toFloat.toDouble == v =>
      new BoundLiteral(v.toFloat, dt)
    case (OrdTs(us), TimestampType | TimestampNTZType) =>
      new BoundLiteral(us, dt)
    case (OrdLong(v), _)   => Literal(v, LongType)
    case (OrdDouble(v), _) => Literal(v, DoubleType)
    case (OrdTs(us), _)    => Literal(us, TimestampNTZType)
    case (OrdStr(v), _)    => Literal(UTF8String.fromString(v), StringType)
  })
}
final case class OrdLong(v: Long) extends OrdVal { def typeTag = "long" }
final case class OrdDouble(v: Double) extends OrdVal { def typeTag = "double" }
/** Microseconds since epoch, naive UTC (TIMESTAMP_NTZ). */
final case class OrdTs(us: Long) extends OrdVal { def typeTag = "ts" }
/** String stat value (secondary-column zone maps only — `ordered_on`
  * itself stays long/double/ts). Compared in binary UTF-8 order.
  */
final case class OrdStr(v: String) extends OrdVal { def typeTag = "str" }

object OrdVal {
  /** Convert a value returned by Row.get for the ordered column. */
  def fromAny(v: Any): OrdVal = v match {
    case l: java.lang.Long       => OrdLong(l)
    case i: java.lang.Integer    => OrdLong(i.toLong)
    case s: java.lang.Short      => OrdLong(s.toLong)
    case b: java.lang.Byte       => OrdLong(b.toLong)
    case d: java.lang.Double     => OrdDouble(d)
    case f: java.lang.Float     => OrdDouble(f.toDouble)
    case s: String               => OrdStr(s)
    case t: java.time.LocalDateTime =>
      OrdTs(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
        + t.getNano / 1000L)
    case t: java.sql.Timestamp   =>
      OrdTs(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case t: java.time.Instant    =>
      OrdTs(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case other => throw new IllegalArgumentException(
      s"unsupported ordered_on value: $other (${other.getClass})")
  }

  def writeTo(node: ObjectNode, field: String, v: OrdVal): Unit = v match {
    case OrdLong(l)   => node.put(field, l); node.put(field + "_t", "long")
    case OrdDouble(d) => node.put(field, d); node.put(field + "_t", "double")
    case OrdTs(us)    => node.put(field, us); node.put(field + "_t", "ts")
    case OrdStr(s)    => node.put(field, s); node.put(field + "_t", "str")
  }

  def readFrom(node: JsonNode, field: String): OrdVal =
    node.get(field + "_t").asText() match {
      case "long"   => OrdLong(node.get(field).asLong())
      case "double" => OrdDouble(node.get(field).asDouble())
      case "ts"     => OrdTs(node.get(field).asLong())
      case "str"    => OrdStr(node.get(field).asText())
    }
}
