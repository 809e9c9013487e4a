package org.apache.spark.sql.graft

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DataType, ObjectType}

/**
 * One static kernel, `owner.method(args…)`, run through Spark's builtin
 * [[StaticInvoke]]: a codegen'd static call inside whole-stage codegen
 * (reflection only on the interpreted path), so no kernel needs a
 * Catalyst expression class of its own.
 *
 * `inputTypes` lists every parameter, column arguments first and
 * constants after: the analyzer rejects a wrong-typed column with
 * `DATATYPE_MISMATCH` before any job starts (a struct-array parameter
 * takes the any-element `ArrayType`, since its kernel reads fields by
 * position). Null in any argument gives null out; the kernels
 * themselves never return null.
 *
 * Lives beside [[ColumnBridge]] because `AbstractDataType`, the type of
 * `inputTypes`, is `private[sql]`.
 */
final case class Kernel(owner: AnyRef, method: String, dataType: DataType,
                        inputTypes: Seq[AbstractDataType]) {

  def expr(args: Seq[Expression]): Expression =
    StaticInvoke(owner.getClass, dataType, method, args, inputTypes,
      returnNullable = false)

  /** Column form: Int and Double arguments become literals, any other
    * object (idf arrays, drop list, word set) a reference literal that
    * codegen attaches with `addReferenceObj`. */
  def apply(args: Any*): Column = ColumnBridge.column(expr(args.map {
    case c: Column => ColumnBridge.expression(c)
    case v: Int => Literal(v)
    case v: Double => Literal(v)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }))

  /** SQL function for a registry name: `fixed` trails the caller's
    * arguments (`minhash128(x)` is `minhashArray(x, 128)`). */
  def sql(name: String, fixed: Int*)(args: Seq[Expression]): Expression = {
    val expected = inputTypes.length - fixed.length
    if (args.length != expected)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> expected.toString,
        "actualNum" -> args.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    expr(args ++ fixed.map(Literal(_)))
  }
}

object Kernel {
  def call(owner: AnyRef, method: String, dataType: DataType,
           inputTypes: AbstractDataType*): Kernel =
    Kernel(owner, method, dataType, inputTypes)
}
