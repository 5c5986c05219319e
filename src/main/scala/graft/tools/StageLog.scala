package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** The one stage listener: records every completed stage under its owning
  * job's description (`spark.job.description`; else, for a job run by a
  * SQL execution, that execution's description — its root's, for a nested
  * one — so a broadcast exchange's job, submitted from a pool thread, is
  * filed under the action that needed it; else the job's own call site,
  * its result stage's name, e.g. `count at Foo.scala:12`), read when the
  * job STARTED. A stage is
  * therefore filed under the phase that submitted it, however late its
  * completion event is delivered. Each record also carries the owning
  * job's id and the stage's shuffle write (records, bytes) and task-result
  * bytes (what its tasks sent back to the driver). Bench reads
  * `tera_stages` from it; DevRun prints a query's slowest stages; the fold
  * shape specs count jobs, shuffle and driver-bound bytes per fold. */
final class StageLog extends SparkListener {
  import StageLog.Stage
  private val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val sqlOf = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val root = e.rootExecutionId.filter(_ != e.executionId)
        .flatMap(r => Option(sqlOf.get(r)))
      sqlOf.put(e.executionId, root.getOrElse(e.description))
      ()
    case e: SparkListenerSQLExecutionEnd => sqlOf.remove(e.executionId); ()
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val desc = prop("spark.job.description")
      .orElse(prop("spark.sql.execution.id").flatMap(_.toLongOption)
        .flatMap(id => Option(sqlOf.get(id))))
      .getOrElse(js.stageInfos.maxByOption(_.stageId).fold("")(_.name))
    js.stageIds.foreach(jobOf.put(_, (js.jobId, desc)))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val (jobId, job) = jobOf.getOrDefault(si.stageId, (-1, ""))
    val m = si.taskMetrics
    for (sub <- si.submissionTime; end <- si.completionTime)
      done.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'), job, end - sub,
        si.numTasks, jobId, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.resultSize))
  }

  /** Completed stages in delivery order. */
  def stages: Seq[Stage] = done.asScala.toSeq

  /** Wall seconds of the stages whose job description `keep` accepts, keyed
    * `<description>_s<ordinal>`, the ordinal counting completions within
    * one description. */
  def stageTimes(keep: String => Boolean): Seq[(String, Double)] = {
    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    stages.filter(s => keep(s.job)).map { s =>
      val i = seen(s.job)
      seen(s.job) = i + 1
      f"${s.job}_s$i%02d" -> s.ms / 1000.0
    }
  }
}

object StageLog {
  final case class Stage(id: Int, name: String, job: String, ms: Long, tasks: Int,
                         jobId: Int, shuffleRecords: Long, shuffleBytes: Long,
                         resultBytes: Long)
}
