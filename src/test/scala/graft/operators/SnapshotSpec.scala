package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The one materialization primitive: eager, plan-truncating, owned by the
  * call that took it, never a CacheManager entry. */
class SnapshotSpec extends SparkSpec with Eventually {
  import spark.implicits._

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def frame = (1L to 200L).toDF("id").withColumn("sq", col("id") * col("id"))

  test("take leaves a LogicalRDD leaf and adds no CacheManager entry") {
    spark.catalog.clearCache()
    val snap = Snapshot.take(frame.filter(col("id") % 2 === 0))
    try {
      assert(snap.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        snap.queryExecution.analyzed.treeString)
      assert(cacheManagerEmpty, "take registered a CacheManager entry")
      assert(snap.count() == 100)
      assert(snap.agg(sum(col("sq"))).head().getLong(0) ==
        (2L to 200L by 2).map(i => i * i).sum)
    } finally Snapshot.release(snap)
  }

  test("a snapshot's job is named after the line that took it, and the prior call site restored") {
    val sc = spark.sparkContext
    val log = new graft.tools.StageLog
    sc.addSparkListener(log)
    try {
      sc.setCallSite("outer call site")
      val line = new Throwable().getStackTrace.head.getLineNumber + 1
      val snap = Snapshot.take(frame.filter(col("id") > 10))
      assert(sc.getLocalProperty("callSite.short") == "outer call site")
      Snapshot.release(snap)
      sc.clearCallSite()
      sc.setJobDescription("snapshot_marker")
      sc.parallelize(1 to 2, 1).count()
      eventually(timeout(Span(15, Seconds))) {
        assert(log.stages.exists(_.job == "snapshot_marker"))
      }
      val jobs = log.stages.map(_.job).filterNot(_ == "snapshot_marker").distinct
      assert(jobs == Seq(s"Snapshot.take at SnapshotSpec.scala:$line"), jobs)
    } finally {
      sc.clearCallSite()
      sc.setJobDescription(null)
      sc.removeSparkListener(log)
    }
  }

  /** `body` with `dir` as the context's checkpoint dir, unset afterwards. */
  private def withCheckpointDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("snapshot_chk").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite session unexpectedly has a checkpoint dir")
    sc.setCheckpointDir(dir)
    try body(dir) finally {
      // SparkContext has no unset API
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
    }
  }

  private def filesUnder(dir: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()

  private def checkpointFile(snap: org.apache.spark.sql.DataFrame): String =
    snap.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.getCheckpointFile
      .getOrElse(fail("a reliable snapshot without a checkpoint file"))

  test("with a checkpoint dir, take writes under it and release deletes what it wrote") {
    withCheckpointDir { dir =>
      val snap = Snapshot.take(frame)
      assert(checkpointFile(snap).contains(new java.io.File(dir).getName),
        s"${checkpointFile(snap)} is not under $dir")
      assert(filesUnder(dir) > 0, "no checkpoint files written under the configured dir")
      assert(snap.count() == 200)
      Snapshot.release(snap)
      assert(filesUnder(dir) == 0, "release left the reliable snapshot's files behind")
      val e = intercept[org.apache.spark.SparkException](snap.collect())
      assert(e.getMessage.contains(checkpointFile(snap).stripPrefix("file:")), e.getMessage)
    }
  }

  test("with a checkpoint dir, an unreleased snapshot's files go once its frame is garbage") {
    withCheckpointDir { dir =>
      // the frame and its RDD are unreachable once this returns
      def unreleased(): String = {
        val snap = Snapshot.take(frame)
        assert(snap.count() == 200)
        checkpointFile(snap)
      }
      val file = new org.apache.hadoop.fs.Path(unreleased())
      val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(file))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (fs.exists(file) && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(100)
      }
      assert(!fs.exists(file), s"$file outlived its garbage frame")
    }
  }

  test("release of a frame take did not return throws") {
    val snap = Snapshot.take(frame)
    try {
      for (df <- Seq(frame, snap.select(col("id"))))
        intercept[IllegalArgumentException](Snapshot.release(df))
      assert(snap.count() == 200, "a refused release dropped the snapshot")
    } finally Snapshot.release(snap)
  }

  test("release frees the snapshot's RDD from getPersistentRDDs") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val snap = Snapshot.take(frame)
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.size == 1, s"expected one snapshot RDD, got $held")
    Snapshot.release(snap)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(held).isEmpty,
      "release left the snapshot's RDD persisted")
  }

  test("scoped releases when its body throws") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var inside = Set.empty[Int]
    val e = intercept[IllegalStateException] {
      Snapshot.scoped(frame) { snap =>
        assert(snap.count() == 200)
        inside = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(inside.size == 1, s"expected one snapshot RDD inside the body, got $inside")
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(inside).isEmpty,
      "scoped left the snapshot persisted after its body threw")
  }

  test("a released local snapshot fails loudly when reused") {
    val snap = Snapshot.take(frame)
    val derived = snap.groupBy((col("id") % 7).as("k")).agg(sum(col("sq")).as("s"))
    assert(derived.count() == 7)
    Snapshot.release(snap)
    for (reuse <- Seq(() => snap.count(), () => derived.collect().length.toLong)) {
      val e = intercept[org.apache.spark.SparkException](reuse())
      assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
    }
  }
}
