package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A [[Literal]] whose generated code reads its value from the stage's
  * `references` array instead of inlining it as a Java constant. Spark's
  * codegen cache is keyed by the generated source, so a plan that differs
  * from a cached one only by the value of such a literal reuses the
  * compiled class; an inlined `ts >= 1704332672000000L` makes every new
  * bound a new class (two compiles per read: driver and task).
  *
  * It is still a `Literal` to every `Literal(v, t)` pattern (parquet
  * pushdown, file pruning, metadata aggregates) and equal to the plain
  * literal of the same value and type. A rule that rebuilds a literal
  * (`copy`, constant folding of a `Cast` around it) yields a plain one,
  * so build it in the compared column's own type. The constructor
  * keeps `Literal`'s two parameters, so `makeCopy` (plan cloning)
  * rebuilds a `BoundLiteral`.
  */
class BoundLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType))
      super.doGenCode(ctx, ev) // non-primitive values are referenced already
    else {
      val ref = ctx.addReferenceObj("bound", value,
        CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(JavaCode.expression(
        s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
    }
}
