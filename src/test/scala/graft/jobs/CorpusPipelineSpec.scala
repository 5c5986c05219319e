package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {

  test("curate filters, dedups exactly and near-dup, and annotates") {
    import spark.implicits._
    val near1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val near2 = (near1.split(" ").dropRight(1) :+ "wX").mkString(" ") // ~97% shingle overlap
    val docs = Seq(
      (1L, near1, "en"),
      (2L, near1, "en"),            // exact dup of 1 → dropped
      (3L, near2, "en"),            // near-dup of 1 → dropped
      (4L, "tiny", "en"),           // < minTokens → dropped
      (5L, "the quick brown fox jumps over a lazy dog", "en"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusPipeline.curate(docs, CorpusPipeline.Config(nearDupThreshold = 0.5))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(1L, 5L))
  }

  test("curateStream gates quality and dedups content on a live micro-batch stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    final case class Doc(doc_id: Long, ingest_ts: java.sql.Timestamp, text: String, lang: String)
    val good = "the quick brown fox jumps over a lazy dog"
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val stream = mem.toDS().toDF("doc_id", "ingest_ts", "text", "lang")
    val q = CorpusPipeline.curateStream(stream)
      .writeStream.format("memory").queryName("curate_stream_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = new java.sql.Timestamp(86400000L + m * 60000L)
      mem.addData(
        (1L, ts(0), good, "en"),
        (2L, ts(1), "tiny", "en"),       // fails the quality gate
        (3L, ts(2), good, "en"))         // same content as 1 → deduped
      q.processAllAvailable()
      mem.addData((4L, ts(3), good + " again", "en"))
      q.processAllAvailable()
      val ids = spark.table("curate_stream_out").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids.contains(4L) && ids.intersect(Set(1L, 3L)).size == 1 && !ids.contains(2L),
        s"unexpected curated ids: $ids")
    } finally q.stop()
  }

  test("curate's PII scrub and repetition gate") {
    import spark.implicits._
    val looping = ("spam ham " * 30).trim                 // top 2-gram covers ~half
    val clean = "the quick brown fox jumps over a lazy dog"
    val docs = Seq(
      (1L, looping, "en"),
      (2L, clean, "en"),
      (3L, s"$clean mail bob@example.com today", "en"),
      (4L, s"$clean mail sue@example.org today", "en")) // after scrub: dup of 3
      .toDF("doc_id", "text", "lang")
    val cfg = CorpusPipeline.Config(minUniqRatio = 0.0, maxTop2gramFrac = 0.2,
      scrubPii = true)
    val out = CorpusPipeline.curate(docs, cfg).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(ids == Seq(2L, 3L)) // 1 repetition-gated; 4 dedups into 3 post-scrub
    val texts = out.map(_.getAs[String]("text"))
    assert(texts.exists(_.contains("<EMAIL>")) && !texts.exists(_.contains("@")))
  }

  test("curate's Unicode canonicalization: encoding variants of one page dedup together") {
    import spark.implicits._
    // docs 1 and 2 are the SAME text in composed vs combining-mark
    // encoding; doc 3 is genuinely different. Without normalizeUnicode the
    // digests differ and both variants survive; with it they exact-dedup.
    val composed = "café terrace at night with seven more words"
    val combining = "café terrace at night with seven more words"
    val docs = Seq((1L, composed, "en"), (2L, combining, "en"),
      (3L, "a completely different document with enough tokens here", "en"))
      .toDF("doc_id", "text", "lang")
    val base = CorpusPipeline.Config(minUniqRatio = 0.0)
    val without = CorpusPipeline.curate(docs, base)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(without == Seq(1L, 2L, 3L), "un-normalized variants must both survive")
    val out = CorpusPipeline.curate(docs, base.copy(normalizeUnicode = true)).collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 3L))
    // and the survivor's text is the canonical (composed) form
    assert(out.map(_.getAs[String]("text")).exists(_.startsWith(composed.take(5))))
    // the sequence tier shares the same canonicalize stage (one definition):
    // both variants land in ONE chunk lineage there too
    val dir = java.nio.file.Files.createTempDirectory("nfc-seq").toString
    val segs = CorpusPipeline.curateToSequences(docs, dir,
      base.copy(normalizeUnicode = true), chunkSize = 8, chunkStride = 8,
      capacity = 16)
    assert(segs.select("doc_id").distinct().count() == 2)
  }

  test("canonicalDedupKey: case + encoding variants share one dedup key, text stays raw") {
    import spark.implicits._
    // three encodings/casings of ONE page (combining vs composed vs
    // uppercase) + one genuinely different doc. Unlike normalizeUnicode,
    // the KEY folds but the stored text must stay exactly as ingested.
    val vCombining = "cafe\u0301 terrace at night with seven more words"
    val vComposed = "caf\u00e9 terrace at night with seven more words"
    val vUpper = "CAF\u00c9 TERRACE AT NIGHT WITH SEVEN MORE WORDS"
    val docs = Seq((1L, vCombining, "en"), (2L, vComposed, "en"),
      (3L, vUpper, "en"),
      (4L, "a completely different document with enough tokens here", "en"))
      .toDF("doc_id", "text", "lang")
    val base = CorpusPipeline.Config(minUniqRatio = 0.0)
    val without = CorpusPipeline.curate(docs, base)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(without == Seq(1L, 2L, 3L, 4L), "raw keys must keep all variants")
    val out = CorpusPipeline.curate(docs, base.copy(canonicalDedupKey = true))
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 4L))
    // the survivor's text is the RAW min-id variant — the key folded, the
    // content did not (that is the difference from normalizeUnicode)
    assert(out.map(_.getAs[String]("text")).contains(vCombining))
    // the sequence tier digests through the same Config switch
    val dir = java.nio.file.Files.createTempDirectory("canon-seq").toString
    val segs = CorpusPipeline.curateToSequences(docs, dir,
      base.copy(canonicalDedupKey = true), chunkSize = 8, chunkStride = 8,
      capacity = 16)
    assert(segs.select("doc_id").distinct().count() == 2)
  }

  test("spanDedupN: the sequence tier chunks the CLEANED token stream; token totals shrink by the covered spans") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // 8-token shared span
    // two UNRELATED docs (not near-dups — both survive cluster dedup)
    // sharing one 8-token span; with spanDedupN the span vanishes from BOTH
    val docs = Seq(
      (1L, s"$shared alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda mu nu xi omicron pi $shared"))
      .toDF("doc_id", "text")
    val base = CorpusPipeline.Config(minUniqRatio = 0.0)
    def totalTok(cfg: CorpusPipeline.Config): Long = {
      val dir = java.nio.file.Files.createTempDirectory("span-seq").toString
      val segs = CorpusPipeline.curateToSequences(docs, dir, cfg,
        chunkSize = 8, chunkStride = 8, capacity = 16)
      segs.agg(org.apache.spark.sql.functions.sum("n_tok")).head.getLong(0)
    }
    val without = totalTok(base)
    val withSpan = totalTok(base.copy(spanDedupN = Some(8)))
    assert(without == 32L, s"expected 2x16 tokens, got $without")
    assert(withSpan == 16L, s"both spans must vanish: got $withSpan of $without")
  }

  test("validateAndCurate: clean batch curates; violating batch stops at the gate with the report") {
    import spark.implicits._
    import graft.operators.Contracts._
    val clean = Seq(
      (1L, "the quick brown fox jumps over a lazy dog", "en"),
      (2L, "a completely different document with enough tokens", "en"))
      .toDF("doc_id", "text", "lang")
    val contract = Seq(NotNull("text"), Unique(Seq("doc_id")), RowCountMin(2))
    val out = CorpusPipeline.validateAndCurate(clean, contract,
      CorpusPipeline.Config(minUniqRatio = 0.0))
    assert(out.count() == 2)
    // duplicate ids + a null text: the gate must throw BEFORE curation,
    // naming every failed check
    val bad = Seq((1L, Some("some text here for doc one"), "en"),
      (1L, Some("other text entirely for the dup id"), "en"),
      (3L, None: Option[String], "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalStateException] {
      CorpusPipeline.validateAndCurate(bad, contract)
    }
    assert(e.getMessage.contains("not_null(text): 1"))
    assert(e.getMessage.contains("unique(doc_id): 1"))
  }

  test("curationReport stage counts are consistent with curate itself") {
    import spark.implicits._
    val near1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val near2 = (near1.split(" ").dropRight(1) :+ "wX").mkString(" ")
    val docs = Seq(
      (1L, near1, "en"),
      (2L, near1, "en"),            // exact dup of 1
      (3L, near2, "en"),            // near-dup of 1
      (4L, "tiny", "en"),           // fails the quality gate
      (5L, "the quick brown fox jumps over a lazy dog", "de"))
      .toDF("doc_id", "text", "lang")
    val cfg = CorpusPipeline.Config(nearDupThreshold = 0.5)
    val rep = CorpusPipeline.curationReport(docs, cfg)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_input"), r.getAs[Long]("n_quality"),
         r.getAs[Long]("n_exact"), r.getAs[Long]("n_final"))).toMap
    // en: 4 in, 3 pass quality (4 is tiny), 2 after exact (2 dups into 1),
    // 1 after near-dup (3 folds into 1); de: untouched at every stage
    assert(rep("en") == (4L, 3L, 2L, 1L))
    assert(rep("de") == (1L, 1L, 1L, 1L))
    // the final column agrees with what curate actually returns per language
    val curated = CorpusPipeline.curate(docs, cfg)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.view.mapValues(_._4).toMap.filter(_._2 > 0) == curated)
  }

  test("run() writes a partitioned curated corpus from testdata") {
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val back = CorpusPipeline.run(spark, sf, out)
    val n = back.count()
    assert(n > 0 && n <= 500)
    assert(back.columns.contains("predicted_lang"))
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("predicted_lang=")))
  }

  // ---- curateToSequences (q88): the composed end-to-end pipeline ----

  test("curateToSequences writes capacity-filling partitioned sequences from testdata") {
    val out = java.nio.file.Files.createTempDirectory("graft_seqs").toString
    val before = spark.sparkContext.getPersistentRDDs
    val back = CorpusPipeline.curateToSequences(
      new graft.Engine.Tables(spark, sf).documents, out, graft.Queries.CurationCfg,
      capacity = 256, seqsPerBucket = 4)
    // partitioned layout on disk: seq_bucket=N directories
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("seq_bucket=")))
    // THE invariant, on the real written files: every sequence except the
    // last is filled to exactly `capacity` tokens by its segments —
    // padding-free packing survived the full composition and the write
    val fills = back.groupBy("seq_id")
      .agg(sum("n_tok").as("fill")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fills.nonEmpty)
    val lastSeq = fills.keys.max
    fills.foreach { case (seq, fill) =>
      if (seq != lastSeq) assert(fill == 256L, s"seq $seq filled $fill != 256")
      else assert(fill >= 1 && fill <= 256L)
    }
    // each chunk's segments tile the chunk: offsets start at 0, contiguous
    val segs = back.select("doc_id", "chunk_idx", "chunk_from", "n_tok")
      .collect().groupBy(r => (r.getLong(0), r.getLong(1)))
    segs.values.foreach { rows =>
      val spans = rows.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(spans.head._1 == 0L)
      spans.sliding(2).foreach {
        case Array((f0, n0), (f1, _)) => assert(f0 + n0 == f1)
        case _ =>
      }
    }
    // cache lifecycle: no persisted entries survive beyond checkpoint-backed
    // RDDs (connected components' returned frame is localCheckpointed and
    // falls to the ContextCleaner once dereferenced). unpersist(blocking =
    // false) completes asynchronously — poll like PackingSpec does.
    def leaked() = (spark.sparkContext.getPersistentRDDs.keySet -- before.keySet)
      .flatMap(spark.sparkContext.getPersistentRDDs.get)
      .filterNot(_.isCheckpointed)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (leaked().nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked().isEmpty,
      s"stage caches leaked: ${leaked().map(_.toString).mkString(", ")}")
  }

  test("curateToSequences plan tokenizes the corpus exactly once") {
    val docs = new graft.Engine.Tables(spark, sf).documents
    // the plans of the jobs segmentPlan runs while it builds the frame (the
    // stage snapshot, the sketch, the components, the packer's snapshot)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = ran.add(qe.optimizedPlan.toString)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (segs, release) =
      try {
        val built = CorpusPipeline.segmentPlan(docs,
          graft.Queries.CurationCfg, 64, 48, 2048L, 1024L)
        // listener events arrive in order: once this marker job's plan is
        // in, every job segmentPlan ran is too
        spark.range(1).select(lit("segment-plan-marker").as("m")).collect()
        val deadline = System.nanoTime() + 30_000_000_000L
        while (!ran.toArray.exists(_.toString.contains("segment-plan-marker")) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        built
      } finally spark.listenerManager.unregister(listener)
    try {
      val plan = segs.queryExecution.optimizedPlan.toString
      // the lazy chunk→pack→segment tail must be tokenize-free: it
      // consumes the stage snapshot's toks attribute, never re-deriving
      // split()
      assert(!plan.contains("split("),
        s"pipeline tail re-derives tokenize:\n${plan.take(4000)}")
      // and everything that ran holds exactly ONE tokenize SITE: every line
      // that mentions split() is the same base projection of the curation
      // stage (distinct sites > 1 is the rot this pins against) ...
      import scala.jdk.CollectionConverters._
      val jobs = ran.asScala.toSeq
      assert(jobs.exists(_.contains("segment-plan-marker")),
        "the construction jobs' plans never reached the listener")
      val sites = jobs.flatMap(_.split("\n"))
        .filter(_.contains("split("))
        .map(_.replaceAll("#\\d+L?", "#x").replaceAll("^[\\s:+|-]+", "")
          .take(120)).toSet
      assert(sites.nonEmpty, "expected the single tokenize site in the plans")
      assert(sites.size == 1,
        s"chain re-derives tokenize at ${sites.size} distinct sites:\n" +
          sites.mkString("\n"))
      // ... in ONE job, the stage snapshot's: every other consumer reads
      // the toks through a snapshot, not through recomputation
      assert(jobs.count(_.contains("split(")) == 1,
        s"${jobs.count(_.contains("split("))} jobs tokenize the corpus")
      // the lazy tail reads the packer's snapshot
      assert(plan.contains("LogicalRDD"), plan.take(2000))
    } finally release()
  }

  test("curateToSequences applies the repetition gate and survives an empty survivor set") {
    import spark.implicits._
    val clean = (1 to 30).map(i => s"w$i").mkString(" ")
    val spammy = Seq.fill(15)("spam ham").mkString(" ") // top 2-gram frac ~0.5
    val docs = Seq((1L, clean, "en"), (2L, spammy, "en"))
      .toDF("doc_id", "text", "lang")
    val out1 = java.nio.file.Files.createTempDirectory("graft_rep").toString
    // minUniqRatio 0 so the spammy doc reaches the repetition gate (its
    // 2-token vocabulary would otherwise die at the uniq-ratio gate and
    // prove nothing about the stage under test)
    val kept = CorpusPipeline.curateToSequences(docs, out1,
        CorpusPipeline.Config(minTokens = 5, minUniqRatio = 0.0,
          maxTop2gramFrac = 0.2),
        capacity = 64, seqsPerBucket = 8)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L), s"repetition gate did not bind: $kept")
    // nothing survives → an EMPTY readable frame, not a schema-inference
    // crash on the data-less output directory
    val out2 = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val none = CorpusPipeline.curateToSequences(docs, out2,
      CorpusPipeline.Config(minTokens = 1000), capacity = 64)
    assert(none.count() == 0L)
    assert(none.columns.contains("seq_bucket"))
  }

  test("curateToSequences decontamination drops flagged chunks and survivors still fill capacity") {
    val docs = new graft.Engine.Tables(spark, sf).documents
    // benchmark = a slice of the corpus itself: its docs' own chunks are
    // self-contaminated by construction, so the stage MUST drop something
    val bench = docs.filter(col("doc_id") % 10 < 3).select(col("text"))
    val outB = java.nio.file.Files.createTempDirectory("graft_decon").toString
    val outN = java.nio.file.Files.createTempDirectory("graft_nodecon").toString
    val withB = CorpusPipeline.curateToSequences(docs, outB, graft.Queries.CurationCfg,
      capacity = 256, benchmark = Some((bench, "text")))
    val noB = CorpusPipeline.curateToSequences(docs, outN, graft.Queries.CurationCfg,
      capacity = 256)
    val nB = withB.count(); val nN = noB.count()
    assert(nB < nN, s"decontamination dropped nothing: $nB vs $nN")
    // the packing closed ranks over the survivors: full sequences still
    // fill to exactly capacity
    val fills = withB.groupBy("seq_id").agg(sum("n_tok").as("fill")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fills.nonEmpty)
    val last = fills.keys.max
    fills.foreach { case (s, f) =>
      if (s != last) assert(f == 256L, s"seq $s filled $f != 256") }
  }

  test("a crashed pipeline attempt is retryable; the retry overwrites stale output exactly") {
    import spark.implicits._
    val real = new graft.Engine.Tables(spark, sf).documents
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("lang"))
    // one-shot injected fault: the first task to see a matching doc dies —
    // in local mode tasks don't retry, so the job (and the whole attempt)
    // fails partway through the pipeline's eager stages
    val flaky = real.as[(Long, String, String)].map { t =>
      if (t._1 % 7 == 3 && PipelineCrashOnce.armed.compareAndSet(true, false))
        throw new RuntimeException("injected pipeline-attempt crash")
      t
    }.toDF("doc_id", "text", "lang")
    val out = java.nio.file.Files.createTempDirectory("graft_retry").toString
    // stale junk from a hypothetical dead prior attempt: rows the retry
    // must NOT let survive (mode=Overwrite is the claim under test)
    Seq((-999L, -1L, 0L, 0L, 0L, 0L, 0L))
      .toDF("doc_id", "chunk_idx", "seq_id", "seq_off", "chunk_from", "n_tok", "seq_bucket")
      .write.mode("overwrite").parquet(out)
    PipelineCrashOnce.armed.set(true)
    intercept[Exception] {
      CorpusPipeline.curateToSequences(flaky, out, graft.Queries.CurationCfg,
        capacity = 256)
    }
    // retry (fault disarmed) over the same output dir
    val back = CorpusPipeline.curateToSequences(flaky, out, graft.Queries.CurationCfg,
        capacity = 256)
      .collect().map(_.toSeq).toSet
    val cleanOut = java.nio.file.Files.createTempDirectory("graft_clean").toString
    val clean = CorpusPipeline.curateToSequences(real, cleanOut, graft.Queries.CurationCfg,
        capacity = 256)
      .collect().map(_.toSeq).toSet
    assert(back == clean, "retry output differs from a clean run")
    assert(!back.exists(_.head == -999L), "stale pre-attempt rows survived the overwrite")
  }

  test("cluster dedup keeps one canonical doc where pair-greedy would keep two") {
    import spark.implicits._
    // star shape: docs 2 and 3 are each near-dups of doc 1 but NOT of each
    // other (they share 1's prefix from opposite ends). Pair-greedy removal
    // (drop id_b per pair) sees (1,2) and (1,3) — component closure must
    // keep ONLY min-id 1; any chain drift that degrades to per-pair
    // semantics would keep a spurious survivor.
    val toks = (1 to 40).map(i => s"w$i")
    val center = toks.mkString(" ")
    val nearA = (toks.dropRight(1) :+ "xA").mkString(" ")
    val nearB = ("xB" +: toks.drop(1)).mkString(" ")
    val docs = Seq((1L, center, "en"), (2L, nearA, "en"), (3L, nearB, "en"))
      .toDF("doc_id", "text", "lang")
    val out = java.nio.file.Files.createTempDirectory("graft_star").toString
    val kept = CorpusPipeline.curateToSequences(docs, out,
        CorpusPipeline.Config(minTokens = 5, nearDupThreshold = 0.5),
        capacity = 64, seqsPerBucket = 8)
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L), s"expected only the canonical doc, got $kept")
  }
}

/** One-shot fault arm for the retry spec (object-level so executor-side
  * closures share the flag in local mode). */
object PipelineCrashOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
