package graft.streaming

import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.streaming.StreamingQuery

/** The one lifecycle of a streaming harness: start a query, drive it, stop
  * it. A `start` thunk builds and starts the SAME query each call (same
  * source, sink and checkpoint), so a second call is a restart.
  *
  * A run whose query failed throws its `StreamingQueryException` after the
  * stop, whatever the body did: a failed first run must not be hidden by a
  * restart that replays the failed batch successfully. */
object StreamRun {

  /** How long a kill waits for its batch to commit before it stops anyway
    * (a slow host then kills later; the restart still drains everything). */
  private val KillDeadlineNanos = 120L * 1000L * 1000L * 1000L

  /** Start the query, run `body` on it, stop it in a `finally` and release
    * the session Spark cloned for it (its artifact cleanup runs here, not
    * when GC frees the clone). */
  def run[A](start: () => StreamingQuery)(body: StreamingQuery => A): A = {
    val sq = start()
    val out = try body(sq) finally { sq.stop(); Shim.releaseStreamSession(sq) }
    sq.exception.foreach(e => throw e)
    out
  }

  /** One clean run: start (from the checkpoint, if any), drain, stop. */
  def drain(start: () => StreamingQuery): Unit = run(start)(_.processAllAvailable())

  /** Kill, outage, restart: run 1 is stopped once batch `killAfter` commits
    * (the stop free to land with the NEXT batch in flight, which the
    * restart replays through the checkpoint), `outage` runs while nothing
    * does, and run 2 resumes from the same checkpoint and drains. */
  def killRestartDrain(start: () => StreamingQuery, killAfter: Long,
                       outage: => Unit): Unit = {
    run(start) { sq =>
      val deadline = System.nanoTime() + KillDeadlineNanos
      while (sq.isActive && System.nanoTime() < deadline &&
             Option(sq.lastProgress).forall(_.batchId < killAfter)) Thread.sleep(20)
    }
    outage
    drain(start)
  }
}
