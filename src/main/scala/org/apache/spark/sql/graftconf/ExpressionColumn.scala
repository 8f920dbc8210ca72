package org.apache.spark.sql.graftconf

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.ColumnConstructorExt

/** A Catalyst expression as a `Column`, for an expression the program
  * builds itself rather than resolving by name, so it needs no function
  * registered on the session. Under `org.apache.spark.sql` because the
  * `Column` companion it goes through is `private[sql]`.
  */
object ExpressionColumn {
  def apply(e: Expression): Column = Column(e)
}
