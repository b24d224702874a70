package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Catalyst Expression bridge. Spark 4 routes Columns through
  * ColumnNodes and keeps the converters private[sql]; living in a
  * subpackage of org.apache.spark.sql grants graft's custom expressions
  * (e.g. [[DotProductDouble]]) access without reflection. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `s` as Spark's file writers store it and schema inference reads it
    * back: every field, array element and map value nullable
    * (`StructType.asNullable` is private[spark]). */
  def asNullable(s: StructType): StructType = s.asNullable
}
