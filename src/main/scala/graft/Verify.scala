package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()

    // Write the oracle SQL FIRST: if a query later hangs or the process is
    // killed, the completed queries can still be graded.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Two workers: sf0.01 queries are light enough to interleave (measured
    // 83s vs ~300s sequential); heavier pools serialize on driver
    // planning/codegen locks.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "2").toInt)
    // A failed or cancelled write can leave a partial parquet dir that the
    // checker would grade as real output — always remove it on failure.
    def deleteDir(path: String): Unit = {
      val root = Paths.get(path)
      if (Files.exists(root)) {
        val walk = Files.walk(root) // close the stream: it holds directory fds
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    // Dev aid: SPARK_GRAFT_ONLY=q56_range_join,q31_sim_topk restricts the run
    // to named queries (the driver never sets it, so its runs stay complete).
    val selected = SparkEntry.select(
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet))
    val futures = selected.map { case (name, fn) =>
      name -> pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          // Job group is thread-local: a timeout cancels THIS query's jobs
          // only, never the healthy query on the other worker thread.
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            try deleteDir(s"$outDir/$name")
            catch { case e2: Throwable =>
              System.err.println(s"[verify] $name cleanup failed: ${e2.getMessage}") }
          } finally spark.sparkContext.clearJobGroup()
        }
      })
    }
    // Per-query wall bound: a single wedged query (e.g. a host slow window)
    // must not starve the rest of the suite or the final exit.
    val perQuerySec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong
    futures.foreach { case (name, f) =>
      try f.get(perQuerySec, TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[verify] $name timed out after ${perQuerySec}s; cancelling")
          // cancelJobGroup (interruptOnCancel) makes the worker's write throw;
          // do NOT Future.cancel here — it flips isDone while the runnable is
          // still unwinding, and deleting immediately would race the dying
          // committer, which could re-create a partial dir AFTER the delete.
          // Wait (bounded) for the worker to actually finish — its own
          // catch-path cleans up; this delete is the backstop.
          spark.sparkContext.cancelJobGroup(name)
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (!f.isDone && System.nanoTime() < deadline) Thread.sleep(200)
          try deleteDir(s"$outDir/$name")
          catch { case e2: Throwable =>
            System.err.println(s"[verify] $name cleanup failed: ${e2.getMessage}") }
        case e: Throwable =>
          System.err.println(s"[verify] $name wait failed: ${e.getMessage}")
      }
    }
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    spark.stop()
  }
}
