package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: run one query by name, print the formatted physical plan and
  * per-stage wall times. `runMain graft.DevRun <query> <sfDir> [explain]` */
object DevRun {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Engine.session("graft-devrun")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]()
    // stageId -> owning job's callSite/description, so slow stages are
    // attributable to the operator that submitted them
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        js.stageIds.foreach(id => stageJob.put(id, desc.take(70)))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
        val nm = si.name.takeWhile(_ != '\n').take(40) +
          " | " + stageJob.getOrDefault(si.stageId, "")
        stages.add((si.stageId, nm, ms, si.numTasks))
      }
    })
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    println(f"[devrun] $name total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_._3).take(15).foreach { case (id, n, ms, tasks) =>
      println(f"[devrun] stage $id%4d ${ms}%7d ms $tasks%4d tasks  $n")
    }
    val all = stages.asScala.toSeq
    if (all.nonEmpty)
      println(f"[devrun] stages total: n=${all.size} sum=${all.map(_._3).sum / 1000.0}%.1f s " +
        f"median=${all.map(_._3).sorted.apply(all.size / 2)} ms")
    spark.stop()
  }
}
