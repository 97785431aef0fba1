package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst [[Expression]]s and the public
  * [[Column]] API.
  *
  * In Spark 4.x the Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`, so a
  * library adding its own codegen'd expressions needs a source file inside the
  * `org.apache.spark.sql` package tree to reach them. This object is that one
  * deliberate seam — everything else in graft stays in the `graft.*` packages
  * and uses only public API.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression as a SQL function on an EXISTING session —
    * the path for the driver-owned session passed to `SparkEntry.entry`,
    * which is built without `withExtensions`. `sessionState` is
    * `private[sql]`, hence this lives in the seam. Idempotent: re-registering
    * the same name just replaces the builder. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
