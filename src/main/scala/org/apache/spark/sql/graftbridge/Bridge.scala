package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 wraps `Column` around `ColumnNode` rather than a Catalyst
  * `Expression`; the converter (`classic.ExpressionUtils`) is
  * `private[sql]`, as is the whole-set access to a thread's local
  * properties on `SparkContext`. This bridge lives under
  * `org.apache.spark.sql` solely to re-export those to graft — the
  * standard pattern for Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A copy of the calling thread's local properties. */
  def localProperties(sc: SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  def setLocalProperties(sc: SparkContext, p: java.util.Properties): Unit =
    sc.setLocalProperties(p)
}
