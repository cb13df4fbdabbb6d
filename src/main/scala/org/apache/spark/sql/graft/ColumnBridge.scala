package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Spark 4 API the engine needs: the
  * Column ↔ Expression conversions for custom Catalyst expressions, and
  * the session identity and cloning behind `graft.GraftSession`'s
  * per-query scope. Third-party engines conventionally expose these from
  * inside the `org.apache.spark.sql` package. This is the only file
  * outside the `graft` namespace. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable per-session identity (`sessionUUID` is `private[sql]` in
    * Spark 4) — cache keys that must not strongly reference the session
    * (graft's knn edge cache) key on this string instead. */
  def sessionUuid(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => "id-" + System.identityHashCode(other).toHexString
  }

  /** A new session sharing `s`'s context, with a copy of its state:
    * runtime conf, temp views, functions and listeners. Later changes to
    * either session do not reach the other. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `s`, so it plans and runs under
    * `s`'s conf. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
