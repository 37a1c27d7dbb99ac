package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression bridge. Spark 4 hides the classic
  * converters behind `private[sql]`; libraries that ship native
  * expressions (as graft does for hot-path array math) need this thin
  * re-export, placed in an org.apache.spark.sql subpackage for access.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The classic session's stable per-instance UUID (`private[sql]` in
    * Spark 4) — cache-keying identity that, unlike identityHashCode,
    * can never be recycled onto a different session after a GC. None
    * for non-classic implementations.
    */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): Option[String] = s match {
    case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }

  /** The classic session's SQL conf, typed values included. */
  def sqlConf(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The classic session's SQL conf and a fresh Hadoop conf carrying
    * it — what Spark's own file writes prepare an output writer from.
    */
  def writeConfs(s: org.apache.spark.sql.SparkSession): (
      org.apache.spark.sql.internal.SQLConf, org.apache.hadoop.conf.Configuration) = {
    val st = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    (st.conf, st.newHadoopConf())
  }
}
