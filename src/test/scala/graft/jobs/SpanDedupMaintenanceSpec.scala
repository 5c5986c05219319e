package graft.jobs

import graft.SparkSpec
import graft.functions.TextFunctions.tokens
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class SpanDedupMaintenanceSpec extends SparkSpec {

  private def toks(d: org.apache.spark.sql.DataFrame) = d
    .select(col("doc_id").cast("long").as("doc_id"), tokens(col("text")).as("toks"))

  private def key(d: org.apache.spark.sql.DataFrame) = d
    .select(col("id"), col("n_tokens"), col("n_dup_starts"), col("n_spans"),
      col("n_covered"), concat_ws(" ", col("clean_toks")).as("clean"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getString(5))).toSet

  test("every fold equals the full recompute over its prefix; compaction bounds the dir count") {
    val docs = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 60)
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    def prefix(k: Int) = docs.filter(col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 6).foreach { k =>
      val got = key(SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
        grams, clean, "doc_id", "toks", cfg))
      // the service contract: fold k == the FULL span dedup over batches
      // 0..k restricted to batch k's docs (the operator's split identity,
      // folded across the whole sequence)
      val want = key(Dedup.removeDuplicateSpansOfTokens(prefix(k), "doc_id", "toks", n = 8)
        .filter(col("id") >= k * 10))
      assert(got == want, s"fold $k diverged from its prefix recompute")
    }
    // compactEvery=2 over 6 folds: gen=3 from fold 4; b=4, b=5 pending —
    // bounded by compactEvery+1 dirs, never the 6 an uncompacted run leaves
    val gdirs = new java.io.File(grams).listFiles()
      .map(_.getName).filter(n => n.startsWith("b=") || n.startsWith("gen=")).sorted.toSeq
    assert(gdirs == Seq("b=4", "b=5", "gen=3"), s"unexpected gram dirs: $gdirs")
    // the deliverable: every batch's clean output is present
    val cdirs = new java.io.File(clean).listFiles()
      .map(_.getName).filter(_.startsWith("b=")).sorted.toSeq
    assert(cdirs == (0 until 6).map(k => s"b=$k").sorted)
    // the operator-facing status mirror of the same facts: head fold,
    // committed generation, post-generation batch dirs
    val st = SpanDedupMaintenance.status(spark, grams)
    assert(st == SpanDedupMaintenance.Status(headFold = 5,
      generation = Some(3), batchDirs = Seq(4, 5), rebuildInProgress = false,
      configStamp = Some("n=8")),
      s"unexpected service status: $st")
  }

  /** Executions (SQL actions) whose physical plan scans a `gen=` parquet
    * dir — walks through AQE wrappers and write commands. Listener
    * callbacks are async, so callers poll until the count stabilizes. */
  private def genScanCounter(): (java.util.concurrent.atomic.AtomicInteger,
                                 org.apache.spark.sql.util.QueryExecutionListener) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansGen(p: SparkPlan): Boolean = {
      val self = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("/gen="))
        case _ => false
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self || kids.exists(scansGen)
    }
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (scansGen(qe.executedPlan)) { hits.incrementAndGet(); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    (hits, l)
  }

  private def stableCount(hits: java.util.concurrent.atomic.AtomicInteger): Int = {
    var last = -1
    var same = 0
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (same < 5 && System.nanoTime() < deadline) {
      val v = hits.get()
      if (v == last) same += 1 else { same = 0; last = v }
      Thread.sleep(100)
    }
    last
  }

  test("a post-generation fold scans the generation gram state exactly once") {
    // Synthetic docs with GUARANTEED cross-batch duplicate spans: phrase P
    // (10 tokens) recurs in batches 0 and 3, phrase Q recurs twice WITHIN
    // batch 3 — both dup paths (via-corpus semi join, in-batch count) are
    // live, so AQE cannot empty-relation-prune the generation scan out of
    // the plan (which it does on a dup-free slice, hiding the very scans
    // this test counts).
    val p = (0 until 10).map(i => s"p$i").mkString(" ")
    val q = (0 until 10).map(i => s"q$i").mkString(" ")
    def doc(id: Long): (Long, String) = {
      val uniq = (0 until 12).map(j => s"u${id}_$j").mkString(" ")
      val phrase = if (id < 5 || (id >= 30 && id < 35)) s" $p" // cross-batch
                   else if (id == 36 || id == 37) s" $q"       // in-batch (3)
                   else ""
      (id, uniq + phrase)
    }
    import spark.implicits._
    val docs = toks((0L until 40L).map(doc).toDF("doc_id", "text"))
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_scan").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 3).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg))
    assert(new java.io.File(grams, "gen=1/_SUCCESS").exists(),
      "premise: fold 2 compacted gen=1")
    // fold 3 (prior = gen=1 + b=2): the ONLY execution that scans the
    // generation gram state is the operator's exact semi join
    val (hits, l) = genScanCounter()
    spark.listenerManager.register(l)
    val scans =
      try {
        val got = key(SpanDedupMaintenance.foldBatch(batch(3), 3L,
          grams, clean, "doc_id", "toks", cfg))
        val want = key(Dedup.removeDuplicateSpansOfTokens(docs, "doc_id", "toks", n = 8)
          .filter(col("id") >= 30))
        assert(got == want, "post-generation fold diverged from prefix recompute")
        // premise: both dup paths actually fired (P covered via corpus,
        // Q covered in-batch) — a silent no-dup batch would make the
        // scan-count claim vacuous
        assert(got.exists(r => r._1 >= 30 && r._1 < 35 && r._3 > 0),
          "cross-batch dup premise broken: P spans not covered")
        assert(got.exists(r => (r._1 == 36 || r._1 == 37) && r._3 > 0),
          "in-batch dup premise broken: Q spans not covered")
        stableCount(hits)
      } finally spark.listenerManager.unregister(l)
    assert(scans == 1, s"expected exactly 1 gen-state scan, saw $scans")
  }

  test("a gram dir holding legacy Bloom filter files folds, compacts and rebuilds like a clean one") {
    val docs = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 50)
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    def prefix(k: Int) = docs.filter(col("doc_id") < (k + 1) * 10)
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    // Earlier versions persisted a Bloom filter over each generation's
    // grams beside it (`bloom=G.bin`). A dir upgraded from that layout
    // holds a readable one and, say, a corrupt one; neither may change a
    // result, and the first compaction (gen=1 at fold 2) sweeps both.
    val legacyNames = Seq("bloom=0.bin", "bloom=1.bin")
    def run(legacy: Boolean) = {
      val root = java.nio.file.Files.createTempDirectory("sdm_legacy").toString
      val (grams, clean) = (s"$root/grams", s"$root/clean")
      if (legacy) {
        new java.io.File(grams).mkdirs()
        val bf = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
        Dedup.spanGramCounts(prefix(0), "doc_id", "toks", n = 8)
          .collect().foreach(r => bf.putString(r.getString(0)))
        val out = new java.io.FileOutputStream(s"$grams/bloom=0.bin")
        try bf.writeTo(out) finally out.close()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$grams/bloom=1.bin"),
          Array[Byte](0, 0, 0, 99, 9, 9, 9, 9))
      }
      // each step: its output (a fold's clean rows, the rebuild's gram
      // counts), the status and the entries beside the state
      def observe(out: Set[_ <: Product]) = (out.toSet[Any],
        SpanDedupMaintenance.status(spark, grams), new java.io.File(grams).list().toSet)
      def fold(k: Int, corpus: org.apache.spark.sql.DataFrame) = {
        val got = key(SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
          grams, clean, "doc_id", "toks", cfg))
        val want = key(Dedup.removeDuplicateSpansOfTokens(
            corpus.unionByName(batch(k)), "doc_id", "toks", n = 8)
          .filter(col("id") >= k * 10))
        assert(got == want, s"fold $k diverged from its prefix recompute (legacy=$legacy)")
        observe(got)
      }
      val folded = (0 until 4).map(k => fold(k, docs.filter(col("doc_id") < k * 10)))
      val retained = prefix(3).filter(col("doc_id") % 7 =!= 0)
      SpanDedupMaintenance.rebuildState(retained, grams, "doc_id", "toks", cfg)
      val rebuilt = observe(SpanDedupMaintenance.gramCounts(spark, grams)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
      folded :+ rebuilt :+ fold(4, retained)
    }
    val plain = run(legacy = false)
    val legacy = run(legacy = true)
    assert(legacyNames.forall(legacy.head._3.contains),
      s"premise: the legacy filters sat beside fold 0's state: ${legacy.head._3}")
    plain.zip(legacy).zipWithIndex.foreach { case ((c, l), step) =>
      assert(l._1 == c._1, s"step $step: clean output diverged from the clean dir")
      assert(l._2 == c._2, s"step $step: status diverged from the clean dir: ${l._2} vs ${c._2}")
    }
    // gone from the first compaction on (fold 2 is index 2)
    legacy.drop(2).zipWithIndex.foreach { case (l, i) =>
      assert(!legacyNames.exists(l._3.contains),
        s"step ${i + 2}: legacy filters still beside the state: ${l._3}")
    }
  }

  test("tombstone rebuild recounts the retained corpus; retraction semantics reach the next fold") {
    // P recurs in batch-0 docs 0,1 and batch-3 doc 35; Q recurs in batch-1
    // doc 10 and batch-3 doc 36. Tombstoning docs 0,1 must UNCOVER doc
    // 35's P spans (its only other copies are retracted) while doc 36's Q
    // spans stay covered via the retained doc 10 — the rebuild visibly
    // changes dedup behavior, not just the state table.
    val p = (0 until 10).map(i => s"p$i").mkString(" ")
    val q = (0 until 10).map(i => s"q$i").mkString(" ")
    def doc(id: Long): (Long, String) = {
      val uniq = (0 until 12).map(j => s"w${id}_$j").mkString(" ")
      val phrase = if (id <= 1 || id == 35) s" $p"
                   else if (id == 10 || id == 36) s" $q"
                   else ""
      (id, uniq + phrase)
    }
    import spark.implicits._
    val all = (0L until 40L).map(doc).toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    def batch(k: Int) = all.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_tomb").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 3).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg))
    val retained = all.filter(col("doc_id") < 30 && col("doc_id") > 1)
    SpanDedupMaintenance.rebuildState(retained, grams, "doc_id", "toks", cfg)
    // the state is exactly a recount of the retained corpus
    val got = SpanDedupMaintenance.gramCounts(spark, grams)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = Dedup.spanGramCounts(retained, "doc_id", "toks", n = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "rebuilt gram state != recount of the retained corpus")
    // a single filtered generation
    val gdirs = new java.io.File(grams).listFiles()
      .map(_.getName).filter(n => n.startsWith("b=") || n.startsWith("gen=")).sorted.toSeq
    assert(gdirs == Seq("gen=2"), s"unexpected gram dirs after rebuild: $gdirs")
    // the stream resumes: fold 3 == full recompute over retained ∪ batch 3
    val folded = key(SpanDedupMaintenance.foldBatch(batch(3), 3L,
      grams, clean, "doc_id", "toks", cfg))
    val full = key(Dedup.removeDuplicateSpansOfTokens(
        retained.unionByName(batch(3)), "doc_id", "toks", n = 8)
      .filter(col("id") >= 30))
    assert(folded == full, "post-rebuild fold diverged from the filtered recompute")
    // retraction is VISIBLE: doc 35's P spans uncovered, doc 36's Q covered
    assert(folded.exists(r => r._1 == 35 && r._3 == 0),
      "doc 35 should be uncovered after its duplicates were retracted")
    assert(folded.exists(r => r._1 == 36 && r._3 > 0),
      "doc 36 should stay covered via the retained doc 10")

    // CRASH-WINDOW convergence: simulate a rebuild dying between its aside
    // and its swap-in — the single generation sits at .gen=N.old, nothing
    // committed (the state a delete-then-rename protocol would have simply
    // LOST). Re-running the rebuild must restore the aside and converge,
    // not throw "no ingested batches".
    val fs = new org.apache.hadoop.fs.Path(grams)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained2 = retained.unionByName(batch(3))
      .filter(col("doc_id") =!= 20L)
    // the state after fold 3 is gen=2 + b=3 or gen=3 (cadence-dependent);
    // move EVERY committed gen aside to simulate the worst window
    new java.io.File(grams).listFiles().map(_.getName)
      .filter(_.startsWith("gen=")).foreach { nm =>
        assert(fs.rename(new org.apache.hadoop.fs.Path(s"$grams/$nm"),
          new org.apache.hadoop.fs.Path(s"$grams/.$nm.old")), s"premise: aside $nm")
      }
    SpanDedupMaintenance.rebuildState(retained2, grams, "doc_id", "toks", cfg)
    val got2 = SpanDedupMaintenance.gramCounts(spark, grams)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want2 = Dedup.spanGramCounts(retained2, "doc_id", "toks", n = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got2 == want2,
      "rebuild after an interrupted aside swap diverged from the recount")
  }

  test("replaying the latest fold after compaction is idempotent (crash-recovery path)") {
    val docs = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 30)
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_rp").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    // compactEvery=2: fold 2 compacts gen=1 and deletes b=0/b=1, so the
    // replay must resolve its prior through the committed generation
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 3).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg))
    val cleanBefore = key(spark.read.parquet(s"$clean/b=2"))
    val gramsBefore = SpanDedupMaintenance.gramCounts(spark, grams)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val replayed = key(SpanDedupMaintenance.foldBatch(batch(2), 2L,
      grams, clean, "doc_id", "toks", cfg))
    val gramsAfter = SpanDedupMaintenance.gramCounts(spark, grams)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(replayed == cleanBefore, "replayed clean output diverged")
    assert(gramsAfter == gramsBefore, "replayed gram state diverged")
    // and the state equals a from-scratch recount of everything ingested
    val recount = Dedup.spanGramCounts(docs, "doc_id", "toks", n = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gramsAfter == recount, "accumulated gram state != full recount")
  }

  test("rebuildState derives its head from committed dirs only: a torn batch dir does not bump the generation") {
    val docs = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 30)
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_tornb").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 10)
    (0 until 2).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg))
    // fold 2 crashed mid-write: b=2 holds data but no _SUCCESS. Pre-fix,
    // the rebuild derived its head from RAW dir names, wrote gen=2, and
    // the stream's replay of fold 2 — whose own maxGen bound is 1 — could
    // not see it: empty prior, corpus dedup silently skipped.
    assert(new java.io.File(s"$grams/b=2").mkdirs())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$grams/b=2/part-00000"),
      "torn".getBytes("UTF-8"))
    val retained = docs.filter(col("doc_id") < 20 && col("doc_id") % 7 =!= 0)
    SpanDedupMaintenance.rebuildState(retained, grams, "doc_id", "toks", cfg)
    val st = SpanDedupMaintenance.status(spark, grams)
    assert(st.generation.contains(1L),
      s"a torn b=2 bumped the rebuilt generation past the last complete fold: $st")
    // the replayed fold resolves the rebuilt generation (non-empty prior)
    // and equals the full recompute over (retained ∪ batch 2)
    val folded = key(SpanDedupMaintenance.foldBatch(batch(2), 2L,
      grams, clean, "doc_id", "toks", cfg))
    val full = key(Dedup.removeDuplicateSpansOfTokens(
        retained.unionByName(batch(2)), "doc_id", "toks", n = 8)
      .filter(col("id") >= 20))
    assert(folded == full,
      "the replayed fold after the rebuild diverged from the filtered recompute")
  }

  test("foldBatch fails fast under a rebuild lease; re-running the rebuild releases it and folds resume") {
    val docs = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 30)
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_lease").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 2).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg))
    // a rebuild that crashed mid-run leaves exactly this: the lease held
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$grams/_REBUILD"),
      "rebuild in progress\n".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      SpanDedupMaintenance.foldBatch(batch(2), 2L, grams, clean, "doc_id", "toks", cfg)
    }
    assert(ex.getMessage.contains("_REBUILD") && ex.getMessage.contains("re-run"),
      s"the fold must fail fast with the operator remedy, got: ${ex.getMessage}")
    // the held lease is an operator's incident view: status must show it
    assert(SpanDedupMaintenance.status(spark, grams).rebuildInProgress,
      "status must report the held rebuild lease")
    val retained = docs.filter(col("doc_id") < 20)
    // the lease is EXCLUSIVE: a rebuild started without the resume flag
    // while it is held must fail loudly, not silently take over
    val ex2 = intercept[IllegalStateException] {
      SpanDedupMaintenance.rebuildState(retained, grams, "doc_id", "toks", cfg)
    }
    assert(ex2.getMessage.contains("already held"),
      s"concurrent rebuild must fail loudly: ${ex2.getMessage}")
    // the prescribed recovery: re-run the rebuild AS the explicit
    // crashed-rebuild resume; it converges and RELEASES the lease, after
    // which the fold lands normally
    SpanDedupMaintenance.rebuildState(retained, grams, "doc_id", "toks", cfg,
      resumeCrashedRebuild = true)
    assert(!new java.io.File(s"$grams/_REBUILD").exists(),
      "a completed rebuild must release the lease")
    assert(!SpanDedupMaintenance.status(spark, grams).rebuildInProgress,
      "status must report the released lease")
    val folded = key(SpanDedupMaintenance.foldBatch(batch(2), 2L,
      grams, clean, "doc_id", "toks", cfg))
    val full = key(Dedup.removeDuplicateSpansOfTokens(docs, "doc_id", "toks", n = 8)
      .filter(col("id") >= 20))
    assert(folded == full, "fold after the rebuild-release diverged from the recompute")
  }

  test("a changed gram length fails fast against the _GRAMCONF stamp; the prescribed rebuild recounts and re-stamps") {
    val all = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 40)
    val docs = all.filter(col("doc_id") < 30)
    def batch(k: Int) = all.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_gramconf").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg8 = SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 2).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg8))
    assert(new java.io.File(s"$grams/_GRAMCONF").exists(),
      "the first fold must stamp the gram geometry beside the state")
    // a service restarted with a DIFFERENT n: without the stamp this would
    // md5-join 6-gram batch digests against 8-gram corpus digests — zero
    // collisions, coverage silently collapsed. It must fail loudly instead,
    // naming both geometries and the rebuild remedy (never sweeping: the
    // counts are the only record).
    val cfg6 = SpanDedupMaintenance.Config(n = 6, compactEvery = 2)
    val ex = intercept[IllegalStateException] {
      SpanDedupMaintenance.foldBatch(batch(2), 2L, grams, clean, "doc_id", "toks", cfg6)
    }
    assert(ex.getMessage.contains("n=8") && ex.getMessage.contains("n=6") &&
      ex.getMessage.contains("rebuildState"),
      s"the mismatch must name both geometries and the remedy: ${ex.getMessage}")
    // the refused fold must not have touched the state: the original-n
    // service folds on exactly as before
    val resumed8 = key(SpanDedupMaintenance.foldBatch(batch(2), 2L,
      grams, clean, "doc_id", "toks", cfg8))
    assert(resumed8 == key(Dedup.removeDuplicateSpansOfTokens(docs, "doc_id", "toks", n = 8)
      .filter(col("id") >= 20)), "original-n fold after the refusal diverged")
    // the prescribed remedy: rebuildState recounts the retained corpus
    // (all three ingested batches) under the new n and RE-STAMPS; a fresh
    // new-n fold then lands and matches the full new-n recompute (the
    // usual split identity)
    SpanDedupMaintenance.rebuildState(docs, grams, "doc_id", "toks", cfg6)
    // the operator's pre-restart check: status reports the stamp the
    // rebuild moved
    assert(SpanDedupMaintenance.status(spark, grams).configStamp.contains("n=6"),
      "status must report the re-stamped gram geometry")
    val folded6 = key(SpanDedupMaintenance.foldBatch(batch(3), 3L,
      grams, clean, "doc_id", "toks", cfg6))
    assert(folded6 == key(Dedup.removeDuplicateSpansOfTokens(all, "doc_id", "toks", n = 6)
      .filter(col("id") >= 30)),
      "new-n fold after the prescribed rebuild diverged from the recompute")
    // ...and the stamp flipped: the OLD n is now the mismatch
    val ex2 = intercept[IllegalStateException] {
      SpanDedupMaintenance.foldBatch(batch(3), 4L, grams, clean, "doc_id", "toks", cfg8)
    }
    assert(ex2.getMessage.contains("n=6") && ex2.getMessage.contains("n=8"),
      s"the re-stamp must now refuse the old geometry: ${ex2.getMessage}")
    // pre-stamp upgrade window: a layout from before the stamp existed
    // (stamp deleted, state present) ADOPTS the configured geometry — the
    // dirs' n is unknowable after the fact, so the fold records the
    // operator's declaration and every LATER change is caught
    assert(new java.io.File(s"$grams/_GRAMCONF").delete())
    SpanDedupMaintenance.foldBatch(batch(2), 4L, grams, clean, "doc_id", "toks", cfg6)
    assert(new java.io.File(s"$grams/_GRAMCONF").exists(),
      "a pre-stamp layout must be adopted and stamped on the next fold")
  }

  test("foldBatch fails fast on a torn prior batch dir; gramCounts is committed-only") {
    val docs = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 30)
    def batch(k: Int) = docs.filter(col("doc_id") >= k * 10 && col("doc_id") < (k + 1) * 10)
    val root = java.nio.file.Files.createTempDirectory("sdm_foldgate").toString
    val (grams, clean) = (s"$root/grams", s"$root/clean")
    val cfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 10)
    (0 until 3).foreach(k => SpanDedupMaintenance.foldBatch(batch(k), k.toLong,
      grams, clean, "doc_id", "toks", cfg))
    // fold 1 "crashed mid-write": b=1 present, no _SUCCESS. Pre-fix, fold 3
    // read it as EMPTY parquet and silently missed batch 1's grams; the
    // gate must refuse with the replay remedy instead
    assert(new java.io.File(s"$grams/b=1/_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      SpanDedupMaintenance.foldBatch(batch(3), 3L, grams, clean, "doc_id", "toks", cfg)
    }
    assert(e.getMessage.contains("replay") && e.getMessage.contains("b=1"),
      s"fold must name the torn dir and the replay remedy: ${e.getMessage}")
    // ...and the standalone reader refuses the same middle gap loudly
    val e2 = intercept[IllegalArgumentException] {
      SpanDedupMaintenance.gramCounts(spark, grams).collect()
    }
    assert(e2.getMessage.contains("contiguous"),
      s"gramCounts must refuse a middle gap: ${e2.getMessage}")
    // a torn dir ABOVE the committed head is an in-flight fold: after the
    // replay of fold 1, tearing b=2 leaves committed state = batches 0..1
    SpanDedupMaintenance.foldBatch(batch(1), 1L, grams, clean, "doc_id", "toks", cfg)
    assert(new java.io.File(s"$grams/b=2/_SUCCESS").delete())
    val counts = SpanDedupMaintenance.gramCounts(spark, grams)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val prefix01 = Dedup.spanGramCounts(
        docs.filter(col("doc_id") < 20), "doc_id", "toks", n = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(counts == prefix01,
      "gramCounts over a torn trailing fold must equal the committed prefix")
    // the replay converges: re-fold 2, then fold 3 equals the recompute
    SpanDedupMaintenance.foldBatch(batch(2), 2L, grams, clean, "doc_id", "toks", cfg)
    val all = toks(spark.read.parquet(s"$sf/documents.parquet"))
      .filter(col("doc_id") < 40)
    val folded = key(SpanDedupMaintenance.foldBatch(
      all.filter(col("doc_id") >= 30), 3L, grams, clean, "doc_id", "toks", cfg))
    assert(folded == key(Dedup.removeDuplicateSpansOfTokens(all, "doc_id", "toks", n = 8)
      .filter(col("id") >= 30)),
      "post-replay fold diverged from the full recompute")
  }
}
