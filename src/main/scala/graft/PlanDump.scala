package graft

/** Dev tool: write the formatted physical plan of every declared query (or a
  * comma-separated subset) to `<outDir>/<query>_<suffix>.txt` — the
  * measurement artifact the optimization rounds commit under `plans/rNN/`
  * so plan-shape claims (Exchange counts, join strategies, PushedFilters)
  * are checkable without running Spark.
  *
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> [onlyCsv]`
  *
  * Construction side effects are the queries' own (the service/streaming
  * lifecycles run their folds at DataFrame-construction time; the plan
  * captured is the one the noop sink would execute — for those queries the
  * final state read, which is exactly what the bench times last). Plans are
  * captured BEFORE execution (AQE shows isFinalPlan=false), matching what
  * `.explain("formatted")` prints for a fresh frame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val only = if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = Engine.session("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = SparkEntry.select(only)
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"plandump:$name")
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
