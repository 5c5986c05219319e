package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, recorded by the harness around a
  * call into the program. Spans nest through `parent` (-1 for a root); all
  * spans of a run share the tracer's run id. Times are epoch nanoseconds. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      pass: Int, start: Long, var end: Long)

/** In-memory span recorder. The harness drives the program from one client
  * thread, so the open-span stack is plain mutable state. Spans are always
  * recorded (a few per operation); listeners are what the traced run adds. */
final class Tracer(val runId: String) {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + offset

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var pass: Int = -1

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, open.headOption.fold(-1)(_.id), pass, now, -1L)
    spans += s
    open = s :: open
    try body finally { s.end = now; open = open.tail }
  }
}

final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int], callSite: String)
final case class StageRec(id: Int, submit: Long, complete: Long, runMs: Long,
                          cpuNs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, inRows: Long,
                          inBytes: Long, outBytes: Long)
final case class PlanRec(phases: Map[String, (Long, Long)])
final case class ProgressRec(time: Long, query: String, batchId: Long,
                             durations: Map[String, Long], inputRows: Long,
                             stateRows: Long, stateMemory: Long, dropped: Long)

/** What the listeners saw during one pass. */
final case class Observed(jobs: Seq[JobRec], stages: Seq[StageRec],
                          tasks: Map[Int, (Int, Int)], plans: Seq[PlanRec],
                          progress: Seq[ProgressRec])

/** Spark's public listeners (job/stage/task, query execution, streaming
  * progress), registered from the harness only while a traced pass runs. */
final class Probe(spark: SparkSession, streamSession: Option[SparkSession]) {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = mutable.Map.empty[Int, (Int, Int)]
  private val plans = ArrayBuffer.empty[PlanRec]
  private val progress = ArrayBuffer.empty[ProgressRec]
  private def ms(t: Long): Long = t * 1000000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      // the result stage's name is the job's call site, e.g. "parquet at Engine.scala:47"
      val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
      jobs += JobRec(e.jobId, ms(e.time), -1L, e.stageIds, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = ms(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += StageRec(i.stageId,
        ms(i.submissionTime.getOrElse(0L)), ms(i.completionTime.getOrElse(0L)),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val (n, failed) = tasks.getOrElse(e.stageId, (0, 0))
      tasks(e.stageId) = (n + 1, failed + (if (e.reason == org.apache.spark.Success) 0 else 1))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      plans += PlanRec(qe.tracker.phases.map { case (k, p) =>
        k -> (ms(p.startTimeMs), ms(p.endTimeMs)) })
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Probe.this.synchronized {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val ops = p.stateOperators
      progress += ProgressRec(ms(java.time.Instant.parse(p.timestamp).toEpochMilli),
        p.name, p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    streamSession.foreach(_.streams.addListener(streamListener))
  }

  /** Drains the listener bus, detaches, and hands over what was seen. */
  def detach(): Observed = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    streamSession.foreach(_.streams.removeListener(streamListener))
    synchronized {
      val o = Observed(jobs.toList, stages.toList, tasks.toMap, plans.toList, progress.toList)
      jobs.clear(); stages.clear(); tasks.clear(); plans.clear(); progress.clear()
      o
    }
  }
}

/** Turns the spans and listener records of the traced passes into the
  * per-layer metrics. Listener counters are attributed to the innermost
  * harness span open when the work started (one client thread, closed loop:
  * at any instant exactly one chain of spans is open). */
object Layers {
  private val Tolerance = 1000000L // listener times are whole milliseconds

  private def owner(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.start <= t + Tolerance && t <= s.end).maxByOption(_.start)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  final case class PassView(spans: Seq[Span], seen: Observed, facts: Map[String, Double])

  /** Synthetic child spans for the trace file: one per Spark job and one per
    * planning phase, parented to the harness span that was open. */
  def synthetic(p: PassView, firstId: Int): Seq[Span] = {
    var id = firstId
    def next(): Int = { id += 1; id - 1 }
    val jobSpans = p.seen.jobs.flatMap { j =>
      owner(p.spans, j.start).map(o =>
        Span(next(), s"job:${j.id}:${j.callSite}", "exec", o.id, o.pass, j.start,
          math.max(j.end, j.start)))
    }
    val planSpans = p.seen.plans.flatMap(_.phases.toSeq).flatMap { case (ph, (a, b)) =>
      owner(p.spans, a).map(o => Span(next(), s"plan:$ph", "plans", o.id, o.pass, a, math.max(a, b)))
    }
    jobSpans ++ planSpans
  }

  def metrics(views: Seq[PassView], cores: Int): Map[String, Double] = {
    val n = math.max(views.size, 1).toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v / n
    val resolveCalls = ArrayBuffer.empty[Double]
    val foldTimes = mutable.Map.empty[String, ArrayBuffer[Double]]

    views.foreach { p =>
      val spans = p.spans
      val byId = spans.map(s => s.id -> s).toMap
      def chain(s: Span): Iterator[Span] =
        Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined).map(_.get)
      def under(s: Span, layer: String): Boolean = chain(s).exists(_.layer == layer)
      val jobOwner = p.seen.jobs.flatMap(j => owner(spans, j.start).map(j -> _))
      val stageJob = p.seen.jobs.flatMap(j => j.stages.map(_ -> j)).toMap
      val jobOf = jobOwner.toMap
      def stagesOf(pred: Span => Boolean): Seq[StageRec] =
        p.seen.stages.filter(s => stageJob.get(s.id).flatMap(jobOf.get).exists(pred))
      def tasksOf(st: Seq[StageRec]): (Int, Int) = st.map(s => p.seen.tasks.getOrElse(s.id, (0, 0)))
        .foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      // program work of the pass: everything under the pass span (the
      // sources probe runs before it)
      val inPass = (s: Span) => under(s, "pass")

      // sources: one Engine.Tables.table call per table, and the schema
      // jobs the operations' own table reads launched
      spans.filter(_.layer == "sources").foreach(s => resolveCalls += (s.end - s.start) / 1e9)
      add("sources.resolve_jobs", jobOwner.count { case (j, o) =>
        inPass(o) && j.callSite.contains("Engine.scala") }.toDouble)
      val opStages = stagesOf(inPass)
      add("sources.scan_rows", opStages.map(_.inRows).sum.toDouble)
      add("sources.scan_bytes", opStages.map(_.inBytes).sum.toDouble)

      // queries: building the DataFrame (eager jobs included)
      val construct = spans.filter(_.layer == "queries")
      val constructS = construct.map(s => (s.end - s.start) / 1e9).sum
      add("queries.construct_s", constructS)
      add("queries.construct_jobs", jobOwner.count { case (_, o) => under(o, "queries") }.toDouble)
      val queryOps = construct.flatMap(c => byId.get(c.parent))
      val opS = queryOps.map(s => (s.end - s.start) / 1e9).sum
      add("queries.construct_share", if (opS > 0) constructS / opS else 0.0)

      // plans: QueryPlanningTracker phases of every execution in the pass
      val phases = p.seen.plans.filter(_.phases.values.exists { case (a, _) =>
        owner(spans, a).isDefined })
      Seq("analysis", "optimization", "planning").foreach { ph =>
        add(s"plans.${ph}_s", phases.flatMap(_.phases.get(ph)).map { case (a, b) => (b - a) / 1e9 }.sum)
      }

      // exec: Spark jobs, stages and tasks of the pass
      val opJobs = jobOwner.collect { case (j, o) if inPass(o) => j }
      add("exec.s", covered(opJobs.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue) / 1e9)
      add("exec.jobs", opJobs.size.toDouble)
      add("exec.stages", opStages.size.toDouble)
      val (nt, nf) = tasksOf(opStages)
      add("exec.tasks", nt.toDouble)
      add("exec.failed_tasks", nf.toDouble)
      val runS = opStages.map(_.runMs).sum / 1e3
      add("exec.executor_run_s", runS)
      add("exec.executor_cpu_s", opStages.map(_.cpuNs).sum / 1e9)
      add("exec.gc_s", opStages.map(_.gcMs).sum / 1e3)
      add("exec.shuffle_read_bytes", opStages.map(_.shuffleRead).sum.toDouble)
      add("exec.shuffle_write_bytes", opStages.map(_.shuffleWrite).sum.toDouble)
      add("exec.spill_bytes", opStages.map(_.spill).sum.toDouble)
      add("exec.output_bytes", opStages.map(_.outBytes).sum.toDouble)
      val stageWall = opStages.map(s => (s.complete - s.submit) / 1e9).sum
      add("exec.slot_busy_share", if (stageWall > 0) runS / (stageWall * cores) else 0.0)

      // services: fold and read calls, and the jobs/tasks under each fold
      Seq("cluster", "span").foreach { svc =>
        val folds = spans.filter(_.name.startsWith(s"$svc.fold"))
        val reads = spans.filter(_.name.startsWith(s"$svc.read"))
        foldTimes.getOrElseUpdate(s"$svc.fold_s", ArrayBuffer.empty) ++= folds.map(s => (s.end - s.start) / 1e9)
        foldTimes.getOrElseUpdate(s"$svc.read_s", ArrayBuffer.empty) ++= reads.map(s => (s.end - s.start) / 1e9)
        val foldIds = folds.map(_.id).toSet
        val inFold = (s: Span) => chain(s).exists(x => foldIds(x.id))
        val nf = math.max(folds.size, 1).toDouble
        val foldStages = stagesOf(inFold)
        add(s"$svc.fold_jobs", jobOwner.count { case (_, o) => inFold(o) } / nf)
        add(s"$svc.fold_tasks", tasksOf(foldStages)._1 / nf)
        val inBytes = p.facts.getOrElse(s"$svc.input_bytes", 0.0)
        add(s"$svc.write_bytes_per_input_byte",
          if (inBytes > 0) foldStages.map(_.outBytes).sum / inBytes else 0.0)
        Seq("state_bytes", "state_files", "compactions", "snapshots").foreach { k =>
          add(s"$svc.$k", p.facts.getOrElse(s"$svc.$k", 0.0))
        }
      }

      // streaming: the progress the streaming listener reported
      val prog = p.seen.progress
      def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      add("streaming.trigger_s", dur("triggerExecution"))
      add("streaming.add_batch_s", dur("addBatch"))
      add("streaming.overhead_s", dur("triggerExecution") - dur("addBatch"))
      add("streaming.wal_commit_s", dur("walCommit") + dur("commitOffsets"))
      add("streaming.input_rows", prog.map(_.inputRows).sum.toDouble)
      val last = prog.groupBy(_.query).values.map(_.maxBy(_.batchId))
      add("streaming.state_rows", last.map(_.stateRows).sum.toDouble)
      add("streaming.state_memory_bytes", last.map(_.stateMemory).sum.toDouble)
      add("streaming.late_rows_dropped", prog.map(_.dropped).sum.toDouble)

      // self time per layer: span length minus what its children cover
      // (child spans, and the jobs and planning phases that ran under it)
      val synth = synthetic(p, 1 << 30)
      val children = (spans ++ synth).groupBy(_.parent)
      Seq("sources", "queries", "write", "cluster", "span", "streaming", "op").foreach { layer =>
        val self = spans.filter(_.layer == layer).map { s =>
          val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
          (s.end - s.start - covered(kids, s.start, s.end)) / 1e9
        }.sum
        // an op span's own time is the harness's bookkeeping between calls
        add(s"${if (layer == "op") "harness" else layer}.self_s", self)
      }
    }
    out("sources.resolve_s") = median(resolveCalls.toSeq)
    foldTimes.foreach { case (k, xs) => out(k) = median(xs.toSeq) }
    out.toMap
  }
}
