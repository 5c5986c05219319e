package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** One-shot sink failure (a top-level object: the foreachBatch closure must
  * not capture the spec class). */
object SinkFailsOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class StreamRunSpec extends SparkSpec {

  /** A stream of three staged files (ids 0..29, ten a file), one file per
    * trigger, plus the outage write that stages a fourth file (ids 30..39).
    * In the shared session, not a derived one: a session that ran a job
    * starts an `rm -rf` process for its artifact dir when GC frees it,
    * inside whatever suite runs then. */
  private final class Staged {
    private val root = java.nio.file.Files.createTempDirectory("streamrun").toString
    val (stage, out, chk) = (s"$root/src", s"$root/out", s"$root/chk")
    private def stageIds(lo: Long): Unit =
      spark.range(lo, lo + 10).coalesce(1).write.mode("append").parquet(stage)
    (0 until 3).foreach(f => stageIds(f * 10L))
    def outage(): Unit = stageIds(30L)
    def source: DataFrame =
      spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(stage)
    def fileSink(): StreamingQuery = source.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk).start()
    def sinkIds: Seq[Long] =
      spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted
  }

  for (killAfter <- Seq(0L, 1L))
    test(s"killRestartDrain at killAfter $killAfter with an outage file " +
      "writes every input row exactly once") {
      val s = new Staged
      StreamRun.killRestartDrain(() => s.fileSink(), killAfter, outage = s.outage())
      assert(spark.streams.active.isEmpty)
      assert(s.sinkIds == (0L until 40L))
    }

  test("a body that throws stops the query and the throw surfaces") {
    val s = new Staged
    val e = intercept[IllegalStateException] {
      StreamRun.run(() => s.fileSink())(_ => throw new IllegalStateException("body"))
    }
    assert(e.getMessage == "body")
    assert(spark.streams.active.isEmpty)
  }

  test("a sink that fails once in run 1 makes killRestartDrain throw") {
    val s = new Staged
    val out = s.out
    def failingSink() = s.source.writeStream.option("checkpointLocation", s.chk)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (SinkFailsOnce.armed.compareAndSet(true, false))
          throw new IllegalStateException("sink failed once")
        batch.write.mode("append").parquet(out)
      }
      .start()
    SinkFailsOnce.armed.set(true)
    val e = intercept[StreamingQueryException] {
      StreamRun.killRestartDrain(() => failingSink(), killAfter = 1, outage = s.outage())
    }
    assert(e.getMessage.contains("sink failed once"))
    assert(spark.streams.active.isEmpty)
  }
}
