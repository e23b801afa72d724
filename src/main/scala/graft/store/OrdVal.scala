package graft.store

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

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
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    case _ => throw new IllegalArgumentException(
      s"incomparable OrdVal types: $typeTag vs ${that.typeTag}")
  }

  /** Literal usable in Spark Column predicates against a TIMESTAMP_NTZ
    * (or numeric) column. For session-timezone TIMESTAMP columns use
    * [[toLiteralFor]] — an NTZ literal against an LTZ column is coerced
    * through the SESSION zone and lands off by the zone offset.
    */
  def toLiteral: Any = this match {
    case OrdLong(v)   => v
    case OrdDouble(v) => v
    case OrdStr(v)    => v
    case OrdTs(us)    => java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)
  }

  /** Literal matched to the actual column type: `Instant` for LTZ
    * TIMESTAMP (true epoch instant — correct under any session
    * timezone), [[toLiteral]] otherwise.
    */
  def toLiteralFor(dt: org.apache.spark.sql.types.DataType): Any =
    (this, dt) match {
      case (OrdTs(us), org.apache.spark.sql.types.TimestampType) =>
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
      case _ => toLiteral
    }
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
