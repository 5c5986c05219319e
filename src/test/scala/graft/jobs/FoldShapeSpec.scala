package graft.jobs

import graft.SparkSpec
import graft.operators.Dedup
import graft.tools.StageLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The shape of one fold of each state service: how many Spark jobs it
  * runs, and whether its shuffle and the bytes its tasks send to the
  * driver track the batch or the corpus. Counted from the [[StageLog]]
  * (records and bytes, never seconds, so host load does not matter). */
class FoldShapeSpec extends SparkSpec with Eventually {
  import spark.implicits._

  /** The completed stages of every job `body` ran. A marker job after it
    * flushes the listener bus: events arrive in order, so once the
    * marker's stage is in, so is every stage of `body`. */
  private def stagesOf(body: => Unit): Seq[StageLog.Stage] = {
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      body
      sc.setJobDescription("fold_shape_marker")
      sc.parallelize(1 to 2, 1).count()
      eventually(timeout(Span(15, Seconds))) {
        assert(log.stages.exists(_.job == "fold_shape_marker"))
      }
      log.stages.filterNot(_.job == "fold_shape_marker")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(log)
    }
  }

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  /** `n` pseudo-random 64-d vectors from `seed`, ids from `from`. */
  private def vectors(seed: Int, from: Long, n: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (from + i) -> Seq.fill(64)(rnd.nextGaussian().toFloat))
  }

  /** A copy of `v` moved by a small perturbation (cosine ≈ 0.999). */
  private def near(v: Seq[Float], seed: Int): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
  }

  test("one small ClusterMaintenance fold runs at most 10 Spark jobs") {
    // threshold 0.9: only the planted near-copies pair up
    val cfg = ClusterMaintenance.Config(threshold = 0.9, compactEvery = 1, snapshotEvery = 1)
    val root = tmp("fold_jobs")
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    val first = vectors(1, 0L, 40)
    val second = vectors(2, 40L, 36) ++
      first.take(4).zipWithIndex.map { case ((_, v), i) => (76L + i) -> near(v, i) }
    ClusterMaintenance.foldBatch(first.toDF("vec_id", "embedding"), 0L, state, corpus,
      "vec_id", "embedding", cfg)
    // fold 1 reads a prior, merges into old clusters, snapshots and compacts
    val stages = stagesOf(ClusterMaintenance.foldBatch(second.toDF("vec_id", "embedding"),
      1L, state, corpus, "vec_id", "embedding", cfg))
    val jobs = stages.map(_.jobId).distinct
    info(s"${jobs.size} jobs, ${stages.map(_.tasks).sum} tasks")
    assert(jobs.size <= 10, s"${jobs.size} jobs in one fold: " +
      stages.map(s => s"${s.jobId}:${s.job}").distinct.mkString("; "))
    val merged = ClusterMaintenance.latestAssignment(spark, state)
      .filter(col("cluster_size") > 1).count()
    assert(merged == 8, s"premise: the 4 near-copies joined their originals ($merged rows)")
  }

  test("scoped fold parts: the driver path equals the checkpointed path on generated fold sequences") {
    def rows(d: DataFrame) = d.select("id", "cluster_id", "cluster_size", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    for (seed <- Seq(3, 4)) {
      val rnd = new scala.util.Random(seed)
      val n0 = 60L
      var prior: DataFrame = Dedup.componentAssignments((0L until n0).toDF("id"), "id",
        Seq.fill(25)((rnd.nextLong(n0), rnd.nextLong(n0))).toDF("a", "b"), "a", "b")
      var next = n0
      var bridged = false
      // fold 1 has no new edge (empty fresh); the others touch old clusters
      for (fold <- 0 until 3) {
        val ids = (next until next + 12).toSeq
        val edges =
          if (fold == 1) Seq.empty[(Long, Long)]
          else ids.flatMap(i => Seq.fill(2)((rnd.nextLong(i), i))) :+
            ((rnd.nextLong(next), ids.head))
        val newU = ids.toDF("id")
        val newE = edges.toDF("a", "b")
        val (u1, r1) = Dedup.incrementalComponentAssignmentsScopedParts(prior, newU, "id",
          newE, "a", "b")
        val (u0, r0) = Dedup.incrementalComponentAssignmentsScopedParts(prior, newU, "id",
          newE, "a", "b", localBound = 0)
        val (ru1, rr1) = (rows(u1), rows(r1))
        assert(ru1 == rows(u0), s"seed $seed fold $fold: untouched rows differ")
        assert(rr1 == rows(r0), s"seed $seed fold $fold: recomputed rows differ")
        if (fold == 1) assert(rr1.map(_._1) == ids.toSet && rr1.forall(_._3 == 1L),
          s"seed $seed: with no new edge only the batch recomputes, as singletons")
        // a recomputed cluster spanning two prior clusters is a merge
        val before = rows(prior).map(r => r._1 -> r._2).toMap
        bridged ||= rr1.groupBy(_._2).values.exists(_.flatMap(r => before.get(r._1)).size > 1)
        prior = spark.createDataFrame((ru1 ++ rr1).toSeq)
          .toDF("id", "cluster_id", "cluster_size", "is_canonical")
        next += ids.size
      }
      assert(bridged, s"premise: seed $seed merged prior clusters across batches")
    }
  }

  /** Per-fold shuffle write and task-result bytes of one fold, and the
    * bytes its corpus dir holds. */
  private final case class Shape(shuffleRecords: Long, shuffleBytes: Long,
                                 resultBytes: Long, corpusBytes: Long)

  /** The [[Shape]] of folding the same batch (`fold(1)`) after a corpus of
    * `n` rows (`fold(0)`) whose state lives under `dir`. */
  private def shape(n: Int, dir: String, fold: (Int, Int) => Unit): Shape = {
    fold(0, n)
    val s = stagesOf(fold(1, n))
    Shape(s.map(_.shuffleRecords).sum, s.map(_.shuffleBytes).sum, s.map(_.resultBytes).sum,
      org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(dir)))
  }

  private def assertFlat(what: String, small: Shape, large: Shape): Unit = {
    info(s"$what: $small at N, $large at 8N")
    assert(large.corpusBytes >= 4 * small.corpusBytes, s"premise: the 8x corpus is larger " +
      s"on disk ($what: ${small.corpusBytes} vs ${large.corpusBytes} bytes)")
    Seq[(String, Shape => Long)]("shuffle records" -> (_.shuffleRecords),
        "shuffle bytes" -> (_.shuffleBytes), "task-result bytes" -> (_.resultBytes))
      .foreach { case (k, f) =>
        assert(f(large) <= 1.5 * f(small),
          s"$what: per-fold $k grew with the corpus: ${f(small)} at N, ${f(large)} at 8N")
      }
  }

  test("a cluster fold's shuffle and driver-bound bytes track the batch, not the corpus") {
    // threshold 0.9: random 64-d vectors never pass, so the batch's pairs
    // are its near-copies of the first corpus rows at every corpus size
    val cfg = ClusterMaintenance.Config(threshold = 0.9)
    val base = vectors(5, 0L, 1600)
    val batch = vectors(6, 10000L, 90) ++
      base.take(10).zipWithIndex.map { case ((_, v), i) => (10090L + i) -> near(v, i) }
    def run(n: Int) = {
      val root = tmp("cluster_shape")
      shape(n, s"$root/corpus", (k, size) => ClusterMaintenance.foldBatch(
        (if (k == 0) base.take(size) else batch).toDF("vec_id", "embedding"), k.toLong,
        s"$root/state", s"$root/corpus", "vec_id", "embedding", cfg))
    }
    assertFlat("cluster fold", run(200), run(1600))
  }

  test("a span fold's shuffle and driver-bound bytes track the batch, not the corpus") {
    def doc(id: Long, words: Seq[String]) = id -> words
    def random(id: Long) = doc(id, (0 until 40).map(j => s"w${id}_$j"))
    val corpus = (0L until 1600L).map(random)
    // batch docs: 10 repeat a 12-token phrase of an early corpus doc, two
    // repeat one phrase between themselves, the rest are new
    val batch = (10000L until 10040L).map { id =>
      val own = (0 until 30).map(j => s"w${id}_$j")
      if (id < 10010) doc(id, own ++ corpus((id - 10000).toInt)._2.take(12))
      else if (id < 10012) doc(id, own ++ (0 until 12).map(j => s"shared_$j"))
      else random(id)
    }
    def run(n: Int) = {
      val root = tmp("span_shape")
      val s = shape(n, s"$root/grams", (k, size) => SpanDedupMaintenance.foldBatch(
        (if (k == 0) corpus.take(size) else batch).toDF("doc_id", "toks"), k.toLong,
        s"$root/grams", s"$root/clean", "doc_id", "toks"))
      val covered = spark.read.parquet(s"$root/clean/b=1").filter(col("n_covered") > 0)
        .select(col("id")).as[Long].collect().toSet
      assert(covered == (10000L until 10012L).toSet,
        s"premise: both dup paths fired, and only for the planted docs: $covered")
      s
    }
    assertFlat("span fold", run(200), run(1600))
    // the public operator launches no job while its DataFrame is built
    val built = stagesOf(Dedup.removeDuplicateSpansIncrementalOfTokens(
      batch.toDF("doc_id", "toks"), "doc_id", "toks", 8, Seq(("g", 1L)).toDF("gram_md5", "cnt")))
    assert(built.isEmpty, s"building the span dedup ran jobs: ${built.map(_.job)}")
  }
}
