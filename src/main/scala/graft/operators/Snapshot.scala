package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one way graft materializes a frame it reads more than once: an
  * eager checkpoint that truncates the plan to a `LogicalRDD` leaf, owned
  * by the call that took it and released by that call after its last use.
  * This is the role a MapReduce job's intermediate data plays in the
  * reference: it belongs to the job and goes when the job ends.
  *
  * Never the CacheManager (`persist`): a persisted frame is a
  * session-global entry keyed by its plan, and a file scan's plan compares
  * by root path only, so a later call over an input rewritten at the same
  * path would read the old rows. A snapshot is reachable only through the
  * frame `take` returns.
  *
  *  - '''Eager.''' `take` runs one job while the caller builds its frame.
  *    The job is named after the caller (`Snapshot.take at Dedup.scala:190`,
  *    the first stack frame outside this object), so a stage log tells one
  *    site's snapshots from another's.
  *  - '''Storage.''' A RELIABLE `checkpoint` when the context has a
  *    checkpoint dir (`SparkContext.setCheckpointDir`): files on the DFS
  *    that survive executor loss. Otherwise `localCheckpoint`:
  *    executor-local blocks (memory, spilling to disk), no DFS round trip,
  *    and losing an executor fails the query (a retry recomputes from
  *    source).
  *  - '''Released means unusable.''' `release` drops the local snapshot's
  *    blocks, or deletes the reliable snapshot's files, and a frame that
  *    still reads them then fails loudly; it never recomputes. Releasing a
  *    frame `take` did not return throws.
  *  - A snapshot whose release is never called goes once its frame is
  *    garbage: Spark's context cleaner drops a local snapshot's blocks, and
  *    a reliable snapshot's files are deleted here (Spark's cleaner keeps
  *    them unless `spark.cleaner.referenceTracking.cleanCheckpoints` is on). */
private[graft] object Snapshot {

  /** Deletes the files of reliable snapshots whose RDD became unreachable. */
  private val unreleased = java.lang.ref.Cleaner.create()

  /** `df` materialized now, behind a plan-truncating `LogicalRDD` leaf. */
  def take(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prior = sc.getLocalProperty(ShortCallSite)
    sc.setCallSite(s"Snapshot.take at $caller")
    try {
      if (sc.getCheckpointDir.isEmpty) df.localCheckpoint(true)
      else {
        val snap = df.checkpoint(true)
        val rdd = leaf(snap).rdd
        val conf = sc.hadoopConfiguration
        rdd.getCheckpointFile.foreach(p => unreleased.register(rdd, () => delete(p, conf)))
        snap
      }
    } finally sc.setLocalProperty(ShortCallSite, prior)
  }

  /** The local property `SparkContext.setCallSite` sets (Spark's
    * `CallSite.SHORT_FORM`, not public); null removes it. */
  private val ShortCallSite = "callSite.short"

  /** `File.scala:line` of the first stack frame outside this object. */
  private def caller: String =
    Thread.currentThread.getStackTrace.iterator
      .drop(1) // Thread.getStackTrace itself
      .find(!_.getClassName.startsWith(getClass.getName))
      .fold("unknown")(f => s"${f.getFileName}:${f.getLineNumber}")

  /** Drops the storage under a [[take]]n frame, waiting until it is gone.
    * (Dataset.unpersist goes through the CacheManager and does not know
    * about checkpoint RDDs.) */
  def release(df: DataFrame): Unit = {
    val rdd = leaf(df).rdd
    rdd.unpersist(blocking = true)
    rdd.getCheckpointFile.foreach(delete(_, df.sparkSession.sparkContext.hadoopConfiguration))
  }

  /** `body` over a snapshot of `df`, released when `body` returns or throws:
    * for a caller whose every read of the snapshot happens inside `body`. */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    val snap = take(df)
    try body(snap) finally release(snap)
  }

  private def leaf(df: DataFrame): LogicalRDD = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr
    case p => throw new IllegalArgumentException(
      s"not a frame Snapshot.take returned (its plan is a ${p.nodeName}, not a LogicalRDD)")
  }

  private def delete(file: String, conf: Configuration): Unit = {
    val p = new Path(file)
    p.getFileSystem(conf).delete(p, true)
  }
}
