package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made `Column.expr` / `ExpressionUtils` `private[sql]` (Connect
  * split); third-party expression libraries bridge from inside the
  * `org.apache.spark.sql` namespace — the standard extension-library shim.
  * Kept to forwarders: the two column bridges, the live-session function
  * registration and the stopped-stream session release.
  */
object Shim {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Register a custom expression on a LIVE session (builder.withExtensions
    * only applies to newly-created sessions; this is the runtime path). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Release the session Spark cloned for a stream query once the query
    * has stopped. Every query runs in a clone of the session that started
    * it, and each clone registers an artifact-dir cleanup that runs when GC
    * frees the clone: an `rm -rf` process (Spark's `deleteRecursively` on
    * Unix) at GC's time, inside whatever work runs then. Closing the clone's
    * `ArtifactManager` runs that cleanup now, once; GC then has nothing to
    * run. */
  def releaseStreamSession(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      w.streamingQuery.sparkSessionForStream.artifactManager.close()
    case _ => ()
  }
}
