package graft.tools

import graft.SparkSpec
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The one stage listener files each stage under the description its job
  * carried when it STARTED: back-to-back phases keep their own stages,
  * stages of jobs outside the selected descriptions stay out, a job
  * without a description is filed under its own call site, and a job a
  * SQL action ran from another thread under that action. */
class StageLogSpec extends SparkSpec with Eventually {

  test("stages are keyed <description>_s<ordinal> by their job's start-time description") {
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      def twoStages(): Unit = sc.parallelize(1 to 100, 2)
        .map(x => (x % 3, x)).reduceByKey(_ + _).count()
      sc.setJobDescription("p0_phase_a")
      twoStages()
      sc.setJobDescription("p0_phase_b")
      sc.parallelize(1 to 10, 2).count()
      sc.setJobDescription(null)
      twoStages() // no description: never keyed as a phase
      eventually(timeout(Span(10, Seconds))) {
        assert(log.stages.count(!_.job.startsWith("p0_")) >= 2)
      }
      val keyed = log.stageTimes(_.startsWith("p0_phase_"))
      assert(keyed.map(_._1) == Seq("p0_phase_a_s00", "p0_phase_a_s01", "p0_phase_b_s00"))
      assert(keyed.forall(_._2 >= 0.0))
      assert(log.stages.filter(_.job.startsWith("p0_")).forall(_.tasks == 2))
      // the undescribed job's stages are owned by its call site: the result
      // stage's name, which points at this file
      val undescribed = log.stages.filterNot(_.job.startsWith("p0_"))
      assert(undescribed.forall(_.job.nonEmpty) &&
        undescribed.count(_.job.contains("StageLogSpec.scala")) >= 2,
        s"undescribed stages lack a call-site owner: ${undescribed.map(_.job)}")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(log)
    }
  }

  test("an undescribed broadcast join files every stage under the action that ran it") {
    import org.apache.spark.sql.functions.broadcast
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      // the broadcast side is collected by a job submitted from a pool
      // thread, whose own call site names no query
      val small = spark.range(0, 50).toDF("k")
      val big = spark.range(0, 5000).selectExpr("id % 50 as k", "id")
      assert(big.join(broadcast(small), "k").collect().length == 5000)
      sc.setJobDescription("p0_marker")
      sc.parallelize(1 to 10, 2).count()
      // events arrive in order: once the marker's stage is in, so is
      // every stage the join ran
      eventually(timeout(Span(10, Seconds))) {
        assert(log.stages.exists(_.job == "p0_marker"))
      }
      val joined = log.stages.filterNot(_.job == "p0_marker")
      assert(joined.size >= 2, s"premise: the join ran its broadcast job: $joined")
      assert(joined.forall(_.job.contains("StageLogSpec.scala")),
        s"a stage's owner names no action in this spec: ${joined.map(_.job)}")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(log)
    }
  }
  test("a stage records its job id, shuffle write and task-result bytes") {
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      sc.setJobDescription("p0_shuffle")
      sc.parallelize(1 to 100, 2).map(x => (x % 7, x)).reduceByKey(_ + _, 3).collect()
      sc.setJobDescription("p0_marker")
      sc.parallelize(1 to 10, 2).count()
      eventually(timeout(Span(10, Seconds))) {
        assert(log.stages.exists(_.job == "p0_marker"))
      }
      val stages = log.stages.filter(_.job == "p0_shuffle")
      assert(stages.size == 2 && stages.map(_.jobId).distinct.size == 1, s"$stages")
      val (map, result) = (stages.minBy(_.id), stages.maxBy(_.id))
      // map-side combine: each of the 2 map tasks writes one record per key
      assert(map.shuffleRecords == 14 && map.shuffleBytes > 0, s"$map")
      assert(result.shuffleRecords == 0 && result.resultBytes > 0, s"$result")
      assert(log.stages.find(_.job == "p0_marker").get.jobId != map.jobId)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(log)
    }
  }
}
