package graft

/** Dev tool: run one query by name, print the formatted physical plan and
  * per-stage wall times. `runMain graft.DevRun <query> <sfDir> [explain]` */
object DevRun {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Engine.session("graft-devrun")
    // stages carry their owning job's description or call site, so slow
    // stages are attributable to the operator that submitted them
    val stageLog = new graft.tools.StageLog
    spark.sparkContext.addSparkListener(stageLog)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    println(f"[devrun] $name total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val all = stageLog.stages
    all.sortBy(-_.ms).take(15).foreach { s =>
      println(f"[devrun] stage ${s.id}%4d ${s.ms}%7d ms ${s.tasks}%4d tasks  " +
        s"${s.name.take(40)} | ${s.job.take(70)}")
    }
    if (all.nonEmpty)
      println(f"[devrun] stages total: n=${all.size} sum=${all.map(_.ms).sum / 1000.0}%.1f s " +
        f"median=${all.map(_.ms).sorted.apply(all.size / 2)} ms")
    spark.stop()
  }
}
