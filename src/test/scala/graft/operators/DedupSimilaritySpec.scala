package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // The CC specs run on both paths: the default bound finishes their small
  // graphs by union-find on the driver, localBound = 0 pins the distributed
  // label-propagation rounds. The default path keeps the original test name.
  private val ccPaths = Seq("" -> Dedup.localComponentsBound, " [distributed]" -> 0L)

  /** Driver-side union-find reference: node -> min id of its component,
    * over the endpoints of `edges` (self-loops included as given). */
  private def unionFindComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // union toward the smaller root, so each root stays its component's min
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  test("exactDedup keeps exactly one row per duplicate group (min tiebreak)") {
    val df = Seq((1L, "same text here"), (2L, "same text here"), (3L, "unique"))
      .toDF("id", "text")
    val out = Dedup.exactDedup(df, Seq(col("text")), col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L))
  }

  test("exactDedup tuple digest is injective: null-position and embedded-NUL tuples stay distinct") {
    // concat_ws-style joining would merge rows 1/2 (concat_ws skips nulls)
    // and rows 3/4 (a NUL inside a key shifts the boundary between keys);
    // the fixed-width per-key digest blocks must keep all four distinct,
    // while rows 5/6 (genuinely equal tuples with nulls) still dedup
    val df = Seq(
      (1L, Some("x"), None: Option[String]),
      (2L, None: Option[String], Some("x")),
      (3L, Some("a\u0000b"), Some("c")),
      (4L, Some("a"), Some("b\u0000c")),
      (5L, None: Option[String], Some("y")),
      (6L, None: Option[String], Some("y"))).toDF("id", "k1", "k2")
    val out = Dedup.exactDedup(df, Seq(col("k1"), col("k2")), col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("exactDedup binary keys digest raw bytes, not the lossy string cast") {
    // two DISTINCT single-byte keys, both invalid as UTF-8 (lone lead
    // bytes): the r14 digest cast every key to string and re-encoded it,
    // which folds invalid bytes to U+FFFD — both keys digest identically
    // and dedup silently MERGES them. Binary keys must feed md5 their raw
    // bytes (rows 1/2 distinct); genuinely equal byte keys still dedup
    // (rows 1/3).
    val df = Seq(
      (1L, Array(0xC3.toByte)), (2L, Array(0xC4.toByte)),
      (3L, Array(0xC3.toByte))).toDF("id", "k")
    // the counterfactual premise: the old string-cast digest collides here
    val oldDigests = df.select(
        md5(to_binary(col("k").cast("string"), lit("utf-8"))).as("d"))
      .distinct().count()
    assert(oldDigests == 1L,
      s"premise: the string-cast path must fold both invalid bytes to one digest, got $oldDigests")
    val out = Dedup.exactDedup(df, Seq(col("k")), col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L))
  }

  test("minhash estimate tracks true jaccard for identical and disjoint docs") {
    val words = (0 until 50).map(i => s"w$i").mkString(" ")
    val other = (100 until 150).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words), (2L, words), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minhashCandidatePairs(df, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // identical docs: signature agreement must be 1.0; disjoint doc never pairs
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  /** Runs each query over a copy of the documents, replaces the input at
    * the same path with a third of the documents removed, and requires the
    * next run to equal a run over the new input. A file scan's plan compares
    * by root path only, so a cache keyed by plan would hand the second run
    * the first input's intermediate. The input is replaced outside Spark, as
    * another producer would: a Spark write to the path would refresh the
    * caches over it. */
  private def assertReadsRewrittenInput(
      queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Unit = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (dir, fresh) = (java.nio.file.Files.createTempDirectory("rewrite").toString,
      java.nio.file.Files.createTempDirectory("fresh").toString)
    def rows(name: String, at: String) =
      queries.toMap.apply(name)(spark, at).collect().map(_.toString).toSeq
    docs.write.parquet(s"$dir/documents.parquet")
    val first = queries.map { case (name, _) => name -> rows(name, dir) }.toMap
    val rewritten = docs.filter(col("doc_id") % 3 =!= 0)
    rewritten.write.parquet(s"$fresh/documents.parquet")
    import org.apache.commons.io.FileUtils.{copyDirectory, deleteDirectory}
    deleteDirectory(new java.io.File(s"$dir/documents.parquet"))
    copyDirectory(new java.io.File(s"$fresh/documents.parquet"),
      new java.io.File(s"$dir/documents.parquet"))
    for ((name, _) <- queries) {
      val expected = rows(name, fresh)
      assert(expected != first(name), s"premise: the rewrite changes $name's result")
      assert(rows(name, dir) == expected, s"$name returned a result of the replaced input")
    }
  }

  test("q25 and q74 read a rewritten input at the same path afresh in one session") {
    assertReadsRewrittenInput(Seq("q25" -> graft.Queries.minhashPairs _,
      "q74" -> graft.Queries.dedupClusters _))
  }

  test("q40 reads a rewritten input at the same path afresh in one session") {
    assertReadsRewrittenInput(Seq("q40" -> graft.Queries.simhashPairs _))
  }

  test("q25 leaves no persisted RDD behind once its pairs are collected") {
    // below the driver bound the signature snapshot is released inside the
    // call, not left for GC
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(graft.Queries.minhashPairs(spark, sf).collect().nonEmpty)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"q25 left persisted RDDs $left")
  }

  /** The explode + 64-column `min` aggregation the map-only signature
    * replaced, kept here as its reference. */
  private def explodedSignatures(df: org.apache.spark.sql.DataFrame, tokenHash:
      org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    import graft.functions.TextFunctions.{shinglesOfTokens, tokens}
    val (as, bs) = Dedup.permParams(64)
    val hs = df.select(col("id"), tokens(col("text")).as("toks"))
      .select(col("id"), explode(array_distinct(shinglesOfTokens(col("toks"), 3))).as("s"))
      .select(col("id"), tokenHash(col("s")).as("h"))
    val aggs = (0 until 64).map(i =>
      min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(4294967311L))).as(s"m$i"))
    hs.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Generated documents: near-dup stars (an original and variants that
    * each change a few of its tokens), chains (each doc a few token edits
    * from the previous), a group of identical docs, unrelated docs, and
    * docs with 0-2 tokens, empty, blank or null text. */
  private def generatedDocs(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int) = Vector.fill(n)(s"w${rnd.nextInt(5000)}")
    def edit(d: Vector[String], k: Int) =
      (0 until k).foldLeft(d)((v, _) => v.updated(rnd.nextInt(v.length), s"x${rnd.nextInt(5000)}"))
    val stars = (0 until 4).flatMap { _ =>
      val o = words(30 + rnd.nextInt(30))
      o +: Seq.fill(2 + rnd.nextInt(4))(edit(o, 1 + rnd.nextInt(2)))
    }
    val chains = (0 until 3).flatMap { _ =>
      Iterator.iterate(words(40))(edit(_, 2)).take(4 + rnd.nextInt(4)).toSeq
    }
    val identical = { val d = words(25); Seq.fill(6)(d) }
    val other = Seq.fill(20)(words(10 + rnd.nextInt(40)))
    val short = Seq(Vector.empty, words(1), words(2), Vector("a", "b"))
    val texts = rnd.shuffle((stars ++ chains ++ identical ++ other ++ short).map(_.mkString(" ")))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong * 3 + 1, t) }
    docs ++ Seq((100000L, ""), (100001L, "   "), (100002L, null))
  }

  test("map-only minhash signatures equal the explode/min aggregation") {
    // a local relation evaluates the expression on the driver, interpreted;
    // the exchange puts it in a whole-stage-codegen'd stage
    for (seed <- 1 to 2; (name, h) <- Seq(
        "xxhash" -> (graft.functions.TextFunctions.tokenHash32 _),
        "md5" -> (graft.functions.TextFunctions.md5Hash32 _));
         (df, form) <- Seq(generatedDocs(seed).toDF("id", "text") -> "local",
           generatedDocs(seed).toDF("id", "text").repartition(3) -> "codegen")) {
      def rows(sigs: org.apache.spark.sql.DataFrame) =
        sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val expected = rows(explodedSignatures(df, h))
      assert(expected.nonEmpty)
      assert(rows(Dedup.minhashSignatures(df, "id", "text", tokenHash = h)) == expected,
        s"seed $seed, $name, $form")
      val toks = df.select(col("id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      assert(rows(Dedup.minhashSignaturesOfTokens(toks, "id", "toks", tokenHash = h)) == expected,
        s"seed $seed, $name, $form, tokens")
    }
  }

  test("driver banding == distributed banding: pairs and components on generated documents") {
    def local(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]
    for (seed <- 1 to 3; maxBucket <- Seq(1000, 4)) {
      val docs = generatedDocs(seed).toDF("id", "text")
      val what = s"seed $seed, maxBucket $maxBucket"
      def pairsAndComponents(bound: Long, ccBound: Long) = {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val (pairs, release) = Dedup.candidatePairsOfSignatures(
          Dedup.minhashSignatures(docs, "id", "text"), threshold = 0.5,
          maxBucket = maxBucket, localBound = bound)
        assert(local(pairs) == (bound > 0), s"$what: bound $bound took the wrong path")
        if (bound > 0) assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
          s"$what: the driver path kept its signature snapshot")
        try {
          val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
          val cc = Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b",
              localBound = ccBound)._1
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          (p, cc)
        } finally release()
      }
      val (driverPairs, driverCc) = pairsAndComponents(Dedup.localBandingBound,
        Dedup.localComponentsBound)
      assert(driverPairs.nonEmpty && driverPairs.forall(p => p._1 < p._2), what)
      assert(driverCc == unionFindComponents(driverPairs.toSeq.map(p => (p._1, p._2))), what)
      for (ccBound <- Seq(Dedup.localComponentsBound, 0L)) {
        val (pairs, cc) = pairsAndComponents(0L, ccBound)
        assert(pairs == driverPairs, s"$what: the two bandings disagree")
        assert(cc == driverCc, s"$what, CC bound $ccBound: components disagree")
      }
    }
    // the premise of the maxBucket case: the six identical docs pair only
    // while their buckets are within the cap
    val docs = generatedDocs(1).toDF("id", "text")
    def exactPairs(cap: Int) = Dedup.minhashCandidatePairs(docs, "id", "text", maxBucket = cap)
      .filter(col("est_jaccard") === 1.0).count()
    assert(exactPairs(1000) >= 15 && exactPairs(4) < exactPairs(1000))
  }

  test("driver banding falls back to the distributed plan above its row and pair bounds") {
    // 120 ids in three groups of 40, each group sharing one signature:
    // every band has three 40-row buckets, 16 × 3 × C(40,2) = 37,440
    // candidate pairs, 2,340 distinct
    val sigs = spark.range(0, 120, 1, 4).select(col("id"),
      array((0 until 64).map(i => xxhash64(lit(i), col("id") % 3)): _*).as("sig"))
    def pairsAt(bound: Long) = {
      val (p, release) = Dedup.candidatePairsOfSignatures(sigs, localBound = bound)
      try (p.queryExecution.executedPlan.isInstanceOf[
          org.apache.spark.sql.execution.LocalTableScanExec],
        p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      finally release()
    }
    val (onDriver, expected) = pairsAt(Dedup.localBandingBound)
    assert(onDriver && expected.size == 3 * 40 * 39 / 2 && expected.forall(_._3 == 1.0))
    // bound 10: fewer than the rows; bound 1000: every row fits, but its
    // 16,000-pair budget is below the candidates
    for (bound <- Seq(10L, 1000L)) {
      val (local, got) = pairsAt(bound)
      assert(!local, s"bound $bound stayed on the driver")
      assert(got == expected, s"bound $bound")
    }
  }

  test("minhash signatures are deterministic across invocations") {
    val df = Seq((1L, "a b c d e f g h")).toDF("id", "text")
    val s1 = Dedup.minhashSignatures(df, "id", "text").collect().head.getSeq[Long](1)
    val s2 = Dedup.minhashSignatures(df, "id", "text").collect().head.getSeq[Long](1)
    assert(s1 == s2 && s1.length == 64)
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("id", "text")
    val m = Dedup.simhash(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("simhashNearDupPairs finds identical docs at hamming 0 via band join") {
    val df = Seq((1L, "alpha beta gamma delta eps"), (2L, "alpha beta gamma delta eps"),
      (3L, "totally different words here now")).toDF("id", "text")
    val out = Dedup.simhashNearDupPairs(df, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L, 0L)))
  }

  test("saltedJoin equals the plain join") {
    val fact = (1 to 500).map(i => (i % 7, i)).toDF("k", "v")
    val dim = (0 until 7).map(i => (i, s"d$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("ngramJaccardPairs computes exact jaccard") {
    // doc1/doc2 share half their 2-gram shingles
    val df = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z")).toDF("id", "text")
    // shingles(1) = {a b, b c}; shingles(2) = {a b, b d} → jaccard = 1/3
    val out = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 2L, 1.0 / 3.0)))
  }

  test("zero-norm vectors are excluded from similarity search, not fatal") {
    // a zero embedding (failed encoder output) has no direction: under ANSI
    // the norm-product division would abort the whole job; the operators
    // must instead exclude the row — nobody's neighbor, and no neighbors
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), (4L, Array(0.0f, 1.0f)))
      .toDF("id", "vec")
    val q = df.filter(col("id") === 1 || col("id") === 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val top = Similarity.cosineTopK(df, "id", "vec", q, "qid", "qvec", 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // qid 3 (zero query) returns nothing; id 3 never appears as a neighbor
    assert(top == Set((1L, 2L), (1L, 4L)))
    val pairs = Similarity.cosineNearDupPairs(df, "id", "vec",
        threshold = 0.9, numPlanes = 4, dim = 2, probeRadius = 4, numTables = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    val ivf = Similarity.ivfTopK(df, "id", "vec", q, "qid", "qvec", 10,
        nlist = 2, nprobe = 2)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == Set((1L, 2L), (1L, 4L)))
  }

  test("ivfTopK fails loudly when EVERY coarse centroid degenerates to zero") {
    // +v/-v pairs with nlist=1: the Lloyd mean cancels to exactly (0,0),
    // every centroid score is null (try_divide by a zero norm), array_max
    // is null — pre-fix, array_position(arr, null) gave every row a null
    // cid and the whole corpus silently dropped out of the bucketed join
    // (empty result, no error). The guard must name the degeneracy.
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, -1.0f))).toDF("id", "vec")
    val q = df.filter(col("id") === 1)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val e = intercept[Throwable] {
      Similarity.ivfTopK(df, "id", "vec", q, "qid", "qvec", 2,
        nlist = 1, nprobe = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("every coarse centroid scored null")),
      s"degenerate quantizer must fail loudly, got: ${messages(e).mkString(" | ")}")
  }

  test("cosine: orthogonal = 0, identical = 1") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(2.0f, 0.0f)))
      .toDF("id", "vec")
    val q = df.filter(col("id") === 1).select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Similarity.cosineTopK(df, "id", "vec", q, "qid", "qvec", 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(got(3L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
  }

  test("ivfTopK with nprobe == nlist is exactly brute force; nprobe=1 is a subset") {
    val rnd = new scala.util.Random(5)
    val rows = (1L to 80L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("id", "vec")
    val q = df.filter(col("id") <= 3).select(col("id").as("qid"), col("vec").as("qvec"))
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.cosineTopK(df, "id", "vec", q, "qid", "qvec", 5)
      .select("qid", "id"))
    val full = pairs(Similarity.ivfTopK(df, "id", "vec", q, "qid", "qvec", 5,
      nlist = 4, nprobe = 4).select("qid", "id"))
    assert(full == brute)
    val narrow = pairs(Similarity.ivfTopK(df, "id", "vec", q, "qid", "qvec", 5,
      nlist = 4, nprobe = 1).select("qid", "id"))
    assert(narrow.nonEmpty && narrow.subsetOf(
      pairs(Similarity.cosineTopK(df, "id", "vec", q, "qid", "qvec", 80)
        .select("qid", "id"))))
  }

  test("ivfTopKExact: exhaustive probing equals brute force; build is run-to-run identical") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 80L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("id", "vec")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qq = df.filter(col("id") <= 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val brute = pairs(Similarity.cosineTopK(df, "id", "vec", qq, "qid", "qvec", 5)
      .select("qid", "id"))
    val full = pairs(Similarity.ivfTopKExact(df, "id", "vec", qq, "qid", "qvec", 5,
      nlist = 4, nprobe = 4).select("qid", "id"))
    assert(full == brute)
    // determinism: the pruned configuration returns identical RANKED rows on
    // repeated builds (exact-integer Lloyd — no avg() merge-order wobble)
    def ranked() = Similarity.ivfTopKExact(df, "id", "vec", qq, "qid", "qvec", 5,
      nlist = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val r1 = ranked()
    assert(r1.nonEmpty && r1 == ranked())
  }

  test("lshCosineTopK returns a subset of brute-force results per query") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 60L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("id", "vec")
    val q = df.filter(col("id") <= 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val brute = Similarity.cosineTopK(df, "id", "vec", q, "qid", "qvec", 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosineTopK(df, "id", "vec", q, "qid", "qvec", 60,
      numPlanes = 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty && lsh.subsetOf(brute))
  }

  test("LSH ANN: exhaustive probing equals brute force; multi-table recall >= 0.9 on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.cosineTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5))
    val exhaustive = pairs(Similarity.lshCosineTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1))
    assert(exhaustive == brute, "exhaustive probing must equal brute force (the q32 oracle claim)")
    // These embeddings are near-random (top-5 neighbor cos ~ 0.33 -> per-plane
    // flip prob ~ 0.39): the hard case for LSH. 16 tables x 4 bits, radius 1
    // is the config the operator doc derives for recall ~ 0.99 here.
    val probed = pairs(Similarity.lshCosineTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16))
    val recall = probed.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, f"multi-table LSH recall $recall%.3f < 0.9")
  }

  test("topKRecall: exact per-query hit counts against a known truth/ann pair") {
    // truth: q1 -> {1,2,3}, q2 -> {4,5}; ann finds {1,3} for q1, {4,5,9} for
    // q2 (9 is a false positive — must not count); q2's recall is exact 1.0
    val truth = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)).toDF("qid", "id")
    val ann = Seq((1L, 1L), (1L, 3L), (2L, 4L), (2L, 5L), (2L, 9L)).toDF("qid", "id")
    val rows = Similarity.topKRecall(truth, ann).orderBy("qid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, 3L, 2L, 0.666667), (2L, 2L, 2L, 1.0)))
  }

  test("quantizeInt8: exact scale/floor values, zero-vector guard, integer range") {
    val df = Seq(
      (1L, Array(12.7f, -6.35f, 0.0f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val got = df.select(col("id"), Similarity.quantizeInt8(col("vec")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // scale = 12.7/127 = 0.1; floor semantics: -6.35/0.1 = -63.5 -> -64
    assert(got(1L) == Seq(127.0f, -64.0f, 0.0f, 10.0f))
    assert(got(2L) == Seq(0.0f, 0.0f, 0.0f, 0.0f))
    // real embeddings stay in int8 range
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bounds = emb.select(Similarity.quantizeInt8(col("embedding")).as("q"))
      .select(array_min(col("q")).as("lo"), array_max(col("q")).as("hi"))
      .agg(min(col("lo")), max(col("hi"))).collect().head
    assert(bounds.getFloat(0) >= -128.0f && bounds.getFloat(1) <= 127.0f)
  }

  test("cosineNearDupPairs: exhaustive config is exact; pruned config is a high-recall subset") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1))
    assert(exact.nonEmpty)
    val pruned = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16))
    assert(pruned.subsetOf(exact), "pruned candidates must never invent pairs")
    val recall = pruned.size.toDouble / exact.size
    assert(recall >= 0.9, f"near-dup recall $recall%.3f < 0.9")
  }

  test("q103: pruned cluster build plans a bucket join (no cartesian) and refines the exhaustive clustering") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val prunedPairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
    // the scale claim: the candidate stage is the (t, sig) bucket join —
    // never a cartesian/nested-loop product anywhere in the physical plan
    val physical = prunedPairs.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"), physical)
    // pruned edges ⊆ exhaustive edges ⇒ pruned components REFINE the
    // exhaustive ones: all members of a pruned cluster share one
    // exhaustive cluster label (missed pairs can split clusters, never
    // merge distinct ones)
    val ids = emb.select(col("vec_id").cast("long").as("vec_id"))
    def asg(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.componentAssignments(ids, "vec_id", pairs, "id_a", "id_b")
        .select("id", "cluster_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = asg(prunedPairs)
    val ex = asg(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1))
    val prunedClusters = pr.groupBy(_._2).values
    assert(prunedClusters.forall(m => m.map(kv => ex(kv._1)).size >= 1 &&
      m.map(kv => ex(kv._1)).toSet.size == 1),
      "a pruned cluster spans two exhaustive clusters")
    assert(pr.keySet == ex.keySet) // full coverage on both sides
  }

  test("removeDuplicateSpans: corpus-wide coverage, overlap merge, adjacency, cleaned text") {
    val a = (1 to 8).map(i => s"a$i").mkString(" ") // the shared 8-gram
    val docs = Seq(
      (1L, s"alpha $a beta"),     // one covered span [1,9)
      (2L, s"$a gamma delta"),    // span at position 0
      (3L, s"x y $a $a"),         // SAME gram twice in one doc: adjacent spans [2,10)+[10,18)
      (4L, "seven unique tokens never repeated anywhere here"), // 7 tokens < n: no grams
      (5L, s"p $a q"),            // starts 1 (a1..a8) and 2 (a2..a8 q) OVERLAP -> one span [1,10)
      (6L, (2 to 8).map(i => s"a$i").mkString(" ") + " q r s t u v w x")) // shares doc5's start-2 gram
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(out(1L) == ((10L, 1L, 1L, 8L, "alpha beta")))
    assert(out(2L) == ((10L, 1L, 1L, 8L, "gamma delta")))
    // adjacent equal-length spans stay two spans but cover contiguously
    assert(out(3L) == ((18L, 2L, 2L, 16L, "x y")))
    assert(out(4L) == ((7L, 0L, 0L, 0L,
      "seven unique tokens never repeated anywhere here")))
    // overlapping dup starts merge into ONE span [1,10): 9 covered
    assert(out(5L) == ((10L, 2L, 1L, 9L, "p")))
    assert(out(6L)._2 == 1L && out(6L)._4 == 8L) // its shared prefix window
  }

  test("span dedup shuffles the gram digest, never the raw gram string") {
    // The corpus-wide movements of the gram column (count groupBy + join
    // back) must exchange the fixed 32-hex md5, not the ~n-token string:
    // after optimization NO node in the plan may output a raw `gram`
    // attribute, and the digest must be the attribute the dup-gram
    // aggregation and join carry (≈3-5x less shuffle payload at n=8).
    val docs = Seq((1L, "a b c d e f g h i"), (2L, "a b c d e f g h j"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 8)
    val attrs = out.queryExecution.optimizedPlan
      .collect { case p => p.output.map(_.name) }.flatten.toSet
    assert(attrs.contains("gram_md5"),
      s"expected the gram digest attribute in the plan, got $attrs")
    assert(!attrs.contains("gram"),
      "raw gram string attribute survived optimization — the exchanges " +
        "would shuffle the full n-token string")
  }

  test("incremental span dedup == full recompute over batch ∪ corpus restricted to batch") {
    val a = (1 to 8).map(i => s"a$i").mkString(" ") // gram shared batch<->corpus
    val b = (1 to 8).map(i => s"b$i").mkString(" ") // gram duplicated INSIDE the batch
    val corpus = Seq(
      (1L, s"old text $a more old text"),
      (2L, "completely unrelated corpus content here okay then")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"x $a y"),            // covered only VIA THE CORPUS (batch count 1)
      (11L, s"$b p q"),            // covered via the batch's own other doc
      (12L, s"r s $b"),
      (13L, "wholly novel tokens never seen in either side at all")) // batch-unique, absent from the corpus
      .toDF("doc_id", "text")
    import graft.functions.TextFunctions.tokens
    def toks(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id").as("id"), tokens(col("text")).as("toks"))
    def key(d: org.apache.spark.sql.DataFrame) = d
      .select(col("id"), col("n_tokens"), col("n_dup_starts"), col("n_spans"),
        col("n_covered"), concat_ws(" ", col("clean_toks")).as("clean"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSet
    val full = key(Dedup.removeDuplicateSpansOfTokens(
        toks(corpus.unionByName(batch)), "id", "toks", n = 8)
      .filter(col("id") >= 10L))
    val grams = Dedup.spanGramCounts(toks(corpus), "id", "toks", n = 8)
    val incr = key(Dedup.removeDuplicateSpansIncrementalOfTokens(
      toks(batch), "id", "toks", n = 8, grams))
    assert(incr == full, s"incremental diverged:\n$incr\nvs full:\n$full")
    // the crafted rows did exercise all three paths
    val byId = incr.map(t => t._1 -> t._4).toMap
    assert(byId(10L) == 1L && byId(11L) == 1L && byId(13L) == 0L)
  }

  test("q113 gate premise: the 80/20 split exercises BOTH dup paths on the gate corpus") {
    // the gated row only pins the cross-batch arithmetic if the corpus
    // actually contains: grams duplicated within the batch alone AND
    // batch-unique grams covered only via the corpus side — measured
    // 88/386 grams at sf0.001 and 76/299 at sf0.01
    import graft.functions.TextFunctions.tokens
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0)
    val h = maxId * 4 / 5
    def toks(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id").cast("long").as("doc_id"), tokens(col("text")).as("toks"))
    val corpusGrams = Dedup.spanGramCounts(
      toks(docs.filter(col("doc_id") < h)), "doc_id", "toks", n = 8)
    val batchGrams = Dedup.spanGramCounts(
      toks(docs.filter(col("doc_id") >= h)), "doc_id", "toks", n = 8)
    val dupInBatch = batchGrams.filter(col("cnt") > 1).count()
    val viaCorpusOnly = batchGrams.filter(col("cnt") === 1)
      .join(corpusGrams.select("gram_md5"), Seq("gram_md5"), "left_semi").count()
    assert(dupInBatch > 0, "no gram duplicated within the batch alone")
    assert(viaCorpusOnly > 0, "no batch-unique gram covered via the corpus " +
      "— q113 would never exercise the cross-batch join")
  }

  for ((path, bound) <- ccPaths)
  test(s"warm-started CC from a prior assignment equals cold start with no extra rounds$path") {
    // the incremental-fold shape: star edges from a prior assignment plus
    // new-batch pairs that bridge two old clusters through a chain of new
    // nodes — the case where labels must travel farthest
    val star = ((1L to 15L).map(i => (i, 0L)) ++ (17L to 31L).map(i => (i, 16L)))
      .toDF("s", "d")
    val fresh = ((32L to 39L).map(i => (i, i + 1)) ++ Seq((15L, 32L), (40L, 31L)))
      .toDF("s", "d")
    val edges = star.unionByName(fresh)
    val seed = ((0L to 15L).map(i => (i, 0L)) ++ (16L to 31L).map(i => (i, 16L)))
      .toDF("node", "lbl")
    val (coldDf, coldRounds) =
      Dedup.connectedComponentsWithRounds(edges, "s", "d", localBound = bound)
    val cold = coldDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (warmDf, warmRounds) = Dedup.connectedComponentsWithRounds(edges, "s", "d",
      seed = Some(seed), localBound = bound)
    val warm = warmDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(warm == cold, "warm-started labels diverged from cold start")
    assert(cold.forall(_._2 == 0L), "everything bridges into component 0")
    assert(warmRounds <= coldRounds,
      s"warm start took MORE rounds ($warmRounds) than cold ($coldRounds)")
    assert((coldRounds == 0) == (bound > 0), s"wrong path: $coldRounds rounds")
  }

  test("CC truncation uses the RELIABLE checkpoint path when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("cc_chk").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite session unexpectedly has a checkpoint dir")
    sc.setCheckpointDir(dir)
    // the Dataset actions the CC runs, by name: a reliable snapshot is a
    // "checkpoint" action, an executor-local one a "localCheckpoint"
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit = actions.add(funcName)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // not a local relation: those are closed from their rows, no snapshot
      val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("s", "d").repartition(2)
      val got = Dedup.connectedComponents(edges, "s", "d")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
      // listener events arrive in order: the result's collect comes last
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!actions.contains("collect") && System.nanoTime() < deadline) Thread.sleep(50)
      assert(actions.contains("collect"), s"no collect event among $actions")
      // the durable path checkpointed, never locally
      assert(actions.contains("checkpoint") && !actions.contains("localCheckpoint"),
        s"no reliable checkpoint despite configured dir: $actions")
      // and the CC released what it wrote: no checkpoint file is left behind
      val left = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(left == 0, s"$left checkpoint files left under the configured dir")
    } finally {
      spark.listenerManager.unregister(listener)
      // SparkContext has no unset API; empty string disables the dir again
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
    }
  }

  test("ngramJaccardPairs df-cap keeps a stop-shingle corpus near-linear") {
    // 40 docs, pairwise-disjoint content except ONE ubiquitous shingle
    // ("the same") present in every doc. Uncapped, that shingle alone fans
    // out C(40,2) = 780 candidate pairs; capped, it is dropped from the
    // inverted index and no pair survives.
    val docs = (1L to 40L).map(i => (i, s"the same a$i b$i c$i")).toDF("id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, "id", "text", 2, 0.0)
    assert(uncapped.count() == 780L)
    val capped = Dedup.ngramJaccardPairs(docs, "id", "text", 2, 0.0, maxDocFreq = 10)
    assert(capped.count() == 0L)
  }

  test("saltedJoin equals plain join when the hot branch carries rows, incl. left join") {
    val fact = (1 to 500).map(i => (i % 7, i)).toDF("k", "v")
    val dim = (0 until 5).map(i => (i, s"d$i")).toDF("k", "name") // keys 5,6 unmatched
    // threshold 10: every key (~71 rows) is classified hot -> salted path
    val plainInner = fact.join(dim, Seq("k")).collect().map(_.toSeq).toSet
    val saltedInner = Skew.saltedJoin(fact, dim, Seq("k"), 8, hotKeyThreshold = 10)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(saltedInner == plainInner)
    val plainLeft = fact.join(dim, Seq("k"), "left").collect().map(_.toSeq).toSet
    val saltedLeft = Skew.saltedJoin(fact, dim, Seq("k"), 8, how = "left", hotKeyThreshold = 10)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(saltedLeft == plainLeft)
    // threshold 72: no key exceeds it -> pure cold path, still identical
    val mixed = Skew.saltedJoin(fact, dim, Seq("k"), 8, hotKeyThreshold = 72)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(mixed == plainInner)
  }

  test("hotKeysBySampling finds the dominant key; saltedJoin with it stays exact") {
    // key 0 is 100x hotter than the rest — a full-fraction sample (exactness
    // baseline) and a 30% sample must both flag it and nothing lukewarm
    val fact = ((1 to 20000).map(i => (0, i)) ++ (1 to 200).map(i => (i % 10 + 1, i)))
      .toDF("k", "v")
    val dim = (0 until 11).map(i => (i, s"d$i")).toDF("k", "name")
    val full = Skew.hotKeysBySampling(fact, Seq("k"), threshold = 1000, fraction = 1.0)
      .collect().map(_.getInt(0)).toSeq
    assert(full == Seq(0))
    val sampled = Skew.hotKeysBySampling(fact, Seq("k"), threshold = 1000, fraction = 0.3)
      .collect().map(_.getInt(0)).toSeq
    assert(sampled == Seq(0))
    // join results are identical regardless of detection strategy
    val plain = fact.join(dim, Seq("k")).collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), 8, hotKeyThreshold = 1000,
        detect = Skew.hotKeysBySampling(_, _, _))
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  for ((path, bound) <- ccPaths)
  test(s"connectedComponents: long path, mixed components, noisy edge list$path") {
    // a 200-node path (diameter 199 — bare propagation would need 199
    // rounds; pointer jumping must close it within the 64-round cap),
    // a triangle, an isolated pair, plus reversed duplicates + a self-loop
    val chain = (0L until 199L).map(i => (i, i + 1))
    val noise = Seq((300L, 301L), (301L, 302L), (302L, 300L), (400L, 401L),
      (302L, 301L), (401L, 400L), (500L, 500L))
    val edges = (chain ++ noise).toDF("a", "b")
    val got = Dedup.connectedComponentsWithRounds(edges, "a", "b", localBound = bound)
      ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 199L).foreach(v => assert(got(v) == 0L, s"node $v"))
    Seq(300L, 301L, 302L).foreach(v => assert(got(v) == 300L))
    Seq(400L, 401L).foreach(v => assert(got(v) == 400L))
    // the self-loop-only node has no real edge → not a member of any component
    assert(!got.contains(500L))
    assert(got.size == 205)
  }

  for ((path, bound) <- ccPaths)
  test(s"connectedComponents matches union-find on a pseudo-random graph$path") {
    // deterministic LCG edge list over 400 nodes, ~300 edges
    var st = 12345L
    def next(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st }
    val edges = (0 until 300).map { _ =>
      (math.floorMod(next(), 400L), math.floorMod(next(), 400L))
    }.filter { case (a, b) => a != b }
    val got = Dedup.connectedComponentsWithRounds(edges.toDF("a", "b"), "a", "b",
        localBound = bound)
      ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFindComponents(edges))
  }

  test("CC property: local == distributed == union-find on generated graphs, cold and warm") {
    // seed 1 is the empty graph; the others mix a long chain, random edges
    // over a small id range (duplicates, reversed pairs, merged chains) and
    // nodes that appear only in self-loops
    for (gen <- 1 to 4) {
      val rnd = new scala.util.Random(gen)
      val edges: Seq[(Long, Long)] = if (gen == 1) Seq.empty else {
        val base = 1000L * (1 + rnd.nextInt(9))
        val chain = (0 until 20 + rnd.nextInt(60)).map(i => (base + i, base + i + 1))
        val random = Seq.fill(10 + rnd.nextInt(40))(
          (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        val loops = Seq.fill(3) { val v = 50000L + rnd.nextInt(100); (v, v) }
        rnd.shuffle(chain ++ random ++ loops :+ (base, rnd.nextInt(120).toLong))
      }
      val expect = unionFindComponents(edges.filter(e => e._1 != e._2))
      // a warm start valid under the seed contract: a random subset of the
      // nodes, each labelled by a member of its own component ≤ itself
      val members = expect.groupBy(_._2).map { case (c, m) => c -> m.keys.toVector.sorted }
      val warm = expect.toSeq.filter(_ => rnd.nextBoolean()).map { case (v, c) =>
        val below = members(c).takeWhile(_ <= v)
        (v, below(rnd.nextInt(below.size)))
      }.toDF("node", "lbl")
      val df = edges.toDF("a", "b")
      // a local relation (closed straight from its rows on the local path)
      // and a frame that is not (snapshotted first)
      for (seed <- Seq(None, Some(warm)); (path, bound) <- ccPaths;
           (frame, form) <- Seq(df -> "", df.repartition(2) -> " [exchange]")) {
        val (out, rounds) = Dedup.connectedComponentsWithRounds(frame, "a", "b",
          seed = seed, localBound = bound)
        val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        val what = s"graph $gen, ${if (seed.isEmpty) "cold" else "warm"}$path$form"
        assert(got.sorted == expect.toSeq.sorted, what)
        assert((rounds == 0) == (bound > 0), s"$what: wrong path, $rounds rounds")
      }
    }
  }

  for ((path, bound) <- ccPaths)
  test(s"connectedComponents releases per-round snapshots (storage stays O(1) tables)$path") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 64-node path → ~7 rounds; without the explicit release every round's
    // localCheckpoint would linger in persistent storage until driver GC
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponentsWithRounds(edges, "a", "b", localBound = bound)._1
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    // at most the result's own checkpoint survives the call; the local
    // path's result is a driver-side relation, so nothing survives it
    val allowed = if (bound > 0) 0 else 1
    assert(after.size <= allowed, s"leaked ${after.size} persisted RDDs: $after")
    assert(out.count() == 64)
  }

  for ((path, bound) <- ccPaths)
  test(s"connectedComponents rejects non-integral id columns loudly$path") {
    val bad = Seq(("a", "b")).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsWithRounds(bad, "x", "y", localBound = bound)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("componentAssignments: full coverage, singleton fill, canonical = min member") {
    // universe 0..9; edges cluster {1,3,5} and {7,8}; 0,2,4,6,9 isolated
    val universe = (0L to 9L).toDF("id")
    val edges = Seq((3L, 1L), (5L, 3L), (8L, 7L)).toDF("a", "b")
    val rows = Dedup.componentAssignments(universe, "id", edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.length == 10, "every universe id gets exactly one row")
    val byId = rows.map(r => r._1 -> r).toMap
    Seq(1L, 3L, 5L).foreach(v => assert(byId(v)._2 == 1L && byId(v)._3 == 3L))
    Seq(7L, 8L).foreach(v => assert(byId(v)._2 == 7L && byId(v)._3 == 2L))
    Seq(0L, 2L, 4L, 6L, 9L).foreach(v =>
      assert(byId(v)._2 == v && byId(v)._3 == 1L, s"singleton $v fills own label"))
    // exactly one canonical per cluster, and it is the min member
    val canon = rows.filter(_._4 == 1).map(_._1).toSet
    assert(canon == Set(0L, 1L, 2L, 4L, 6L, 7L, 9L))
    assert(rows.forall(r => (r._4 == 1) == (r._1 == r._2)))
  }

  for ((path, bound) <- ccPaths)
  test(s"incrementalComponentAssignments == full recompute, incl. a new doc bridging two old clusters$path") {
    // old universe 0..9 with clusters {0,1,2} and {5,6}; new batch 10..12:
    // 10 bridges the two OLD clusters (the merge case the star reduction
    // must get right), 11 joins nothing (stays singleton), 12 pairs with 9
    // (an old singleton gets pulled into a new 2-cluster)
    val oldEdges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    val oldU = (0L to 9L).toDF("id")
    val prior = Dedup.componentAssignments(oldU, "id", oldEdges, "a", "b",
      localBound = bound)
    val newEdges = Seq((2L, 10L), (6L, 10L), (9L, 12L)).toDF("a", "b")
    val newU = (10L to 12L).toDF("id")
    // the full recompute over every pair
    val full = Dedup.componentAssignments((0L to 12L).toDF("id"), "id",
        oldEdges.unionByName(newEdges), "a", "b", localBound = bound)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // the SCOPED form must survive the hardest case — a new doc merging two
    // old clusters (both become "affected"; their stars enter the scoped
    // graph together)
    val scoped = Dedup.incrementalComponentAssignmentsScoped(prior, newU, "id",
        newEdges, "a", "b", localBound = bound)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(scoped == full)
    // the bridged mega-cluster kept the older label 0 and counts 10,
    // the merged members {0,1,2,5,6,10}
    assert(scoped.contains((10L, 0L, 6L, 0)))
  }

  for ((path, bound) <- ccPaths)
  test(s"scoped incremental: untouched clusters pass through verbatim; touched recompute$path") {
    // clusters {0,1,2} (label 0) and {5,6} (label 5); singletons 3,4,7,8,9.
    // The batch touches ONLY cluster 0 (edge 2-10) and singleton 9 (edge
    // 9-12): cluster {5,6} and singletons 3,4,7,8 are untouched — the
    // scoped fold must emit their EXACT prior rows (same size, same
    // canonical bit), while the affected subgraph recomputes.
    val oldEdges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("a", "b")
    val oldU = (0L to 9L).toDF("id")
    val prior = Dedup.componentAssignments(oldU, "id", oldEdges, "a", "b",
      localBound = bound)
    val newEdges = Seq((2L, 10L), (9L, 12L)).toDF("a", "b")
    val newU = (10L to 12L).toDF("id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val scoped = rows(Dedup.incrementalComponentAssignmentsScoped(prior, newU,
      "id", newEdges, "a", "b", localBound = bound))
    val full = rows(Dedup.componentAssignments((0L to 12L).toDF("id"), "id",
      oldEdges.unionByName(newEdges), "a", "b", localBound = bound))
    assert(scoped == full)
    val priorRows = rows(prior)
    Seq(3L, 4L, 5L, 6L, 7L, 8L).foreach { v =>
      val p = priorRows.find(_._1 == v).get
      assert(scoped.contains(p), s"untouched prior row for id $v must pass through verbatim")
    }
    // touched side really recomputed: cluster 0 grew to 4, old singleton 9
    // became a 2-cluster's canonical
    assert(scoped.contains((10L, 0L, 4L, 0)))
    assert(scoped.contains((9L, 9L, 2L, 1)))
    assert(scoped.contains((11L, 11L, 1L, 1)), "edge-free batch id stays singleton")
  }

  test("scoped incremental with zero new edges: prior verbatim, batch all singletons") {
    val prior = Dedup.componentAssignments((0L to 5L).toDF("id"), "id",
      Seq((0L, 1L)).toDF("a", "b"), "a", "b")
    val out = Dedup.incrementalComponentAssignmentsScoped(prior,
        Seq(10L, 11L).toDF("id"), "id",
        Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val priorRows = prior.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(out == priorRows ++ Set((10L, 10L, 1L, 1), (11L, 11L, 1L, 1)))
  }

  test("scoped fold's shuffle volume tracks the batch, not the corpus") {
    // 20k-id corpus in 10k 2-clusters; a 3-id batch touching ONE cluster.
    // The corpus-wide closure over star(prior) ∪ new edges shuffles the
    // whole star set through the CC loop (plus the corpus-wide distinct
    // and size groupBy); the scoped fold's only corpus-sized work is
    // broadcast-probe SCANS — its total shuffle write records must be a
    // small fraction of the corpus-wide closure's. Records (not seconds):
    // deterministic under host load.
    val n = 20000L
    val oldEdges = spark.range(n / 2)
      .select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b"))
    val prior = Dedup.componentAssignments(spark.range(n).toDF("id"), "id",
      oldEdges, "a", "b").localCheckpoint(true) // materialize OUTSIDE the measurement
    val newU = Seq(n, n + 1, n + 2).toDF("id")
    val newEdges = Seq((1L, n)).toDF("a", "b")
    def measured(body: => Set[(Long, Long, Long, Int)]): (Set[(Long, Long, Long, Int)], Long) = {
      val recs = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          recs.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = body
        // listener bus is async — poll until the counter stabilizes
        var last = -1L; var same = 0
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (same < 5 && System.nanoTime() < deadline) {
          val v = recs.get()
          if (v == last) same += 1 else { same = 0; last = v }
          Thread.sleep(100)
        }
        (r, last)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val (scopedRows, scopedRecs) = measured(rows(
      Dedup.incrementalComponentAssignmentsScoped(prior, newU, "id", newEdges, "a", "b")))
    // the same fold over the whole star graph, warm-started from the prior
    // labels like the scoped fold
    val star = prior.select(col("id").as("a"), col("cluster_id").as("b"))
    val (wideRows, wideRecs) = measured(rows(Dedup.componentAssignments(
      prior.select(col("id")).unionByName(newU).distinct(), "id",
      star.unionByName(newEdges), "a", "b",
      seed = Some(prior.select(col("id").as("node"), col("cluster_id").as("lbl"))))))
    assert(scopedRows == wideRows, "the scoped fold and the corpus-wide closure must agree")
    assert(scopedRows.contains((n, 0L, 3L, 0)), "premise: the batch merged into cluster 0")
    assert(scopedRows.count(_._3 == 2L) == (n / 2 - 1) * 2,
      "premise: all other 2-clusters untouched")
    assert(wideRecs > 10L * scopedRecs,
      s"scoped fold should shuffle <10% of the corpus-wide closure's records " +
        s"(scoped=$scopedRecs, corpus-wide=$wideRecs)")
  }

  test("q94 theorem on real embeddings: incremental semantic clustering equals full recompute") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "cluster_id", "cluster_size", "is_canonical")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1)
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
      pairs, "id_a", "id_b"))
    val h = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0) * 4 / 5
    val old = emb.filter(col("vec_id") < h)
    val prior = Dedup.componentAssignments(
      old.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(old, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1),
      "id_a", "id_b")
    // the scoped (affected-subgraph) form — the path q94 and the service
    // fold run — must equal the full recompute over every pair
    val scoped = rows(Dedup.incrementalComponentAssignmentsScoped(prior,
      emb.filter(col("vec_id") >= h).select(col("vec_id").cast("long").as("vec_id")),
      "vec_id", pairs.filter(col("id_b") >= h), "id_a", "id_b"))
    assert(scoped == full)
  }

  test("rankMetrics: exact MRR/NDCG on crafted rankings, zero rows for misses and absent queries") {
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: relevant at ranks 2,3 of truth size 3; q2: nothing relevant found;
    // q3: in truth but absent from the ranked table; q4: perfect ranking
    val truth = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 7L), (3L, 8L),
      (4L, 40L)).toDF("qid", "id")
    val ranked = Seq((1L, 10L, 1), (1L, 2L, 2), (1L, 3L, 3), (1L, 99L, 4),
      (2L, 50L, 1), (2L, 51L, 2), (4L, 40L, 1)).toDF("qid", "id", "rank")
    val got = Similarity.rankMetrics(truth, ranked, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val dcg1 = 1.0 / lg2(3) + 1.0 / lg2(4)
    val idcg1 = 1.0 / lg2(2) + 1.0 / lg2(3) + 1.0 / lg2(4)
    assert(got == Set(
      (1L, 0.5, r6(dcg1 / idcg1)),
      (2L, 0.0, 0.0),
      (3L, 0.0, 0.0),
      (4L, 1.0, 1.0)))
    // ranks beyond k are ignored: a relevant hit at rank 6 adds nothing
    val far = Similarity.rankMetrics(Seq((9L, 1L)).toDF("qid", "id"),
        Seq((9L, 1L, 6)).toDF("qid", "id", "rank"), k = 5)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    assert(far == Seq((0.0, 0.0)))
    // duplicated truth rows change nothing: membership and ideal are over
    // the distinct set (no join fan-out into the DCG sum)
    val dup = Similarity.rankMetrics(
        Seq((4L, 40L), (4L, 40L), (4L, 40L)).toDF("qid", "id"),
        Seq((4L, 40L, 1)).toDF("qid", "id", "rank"), k = 5)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    assert(dup == Seq((1.0, 1.0)))
  }

  test("rankMetricsGraded: exact graded values; reduces to binary rankMetrics at rel=1") {
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: grades 3 (found at rank 2) and 1 (found at rank 1) — the BETTER
    // doc ranked lower, so ndcg < 1; duplicate truth row keeps max grade
    val truth = Seq((1L, 10L, 1L), (1L, 20L, 3L), (1L, 20L, 2L),
      (2L, 30L, 0L)).toDF("qid", "id", "rel")
    val ranked = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 30L, 1))
      .toDF("qid", "id", "rank")
    val rows = Similarity.rankMetricsGraded(truth, ranked, k = 5)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    val dcg1 = 1.0 / lg2(2) + 7.0 / lg2(3)
    val idcg1 = 7.0 / lg2(2) + 1.0 / lg2(3)
    assert(rows(1L) == ((1.0, r6(dcg1 / idcg1))))
    // all-zero grades: idcg 0 -> ndcg 0, mrr 0 (rel > 0 never fires)
    assert(rows(2L) == ((0.0, 0.0)))
    // binary reduction: rel=1 truth gives exactly rankMetrics' numbers
    val bt = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 7L), (3L, 8L),
      (4L, 40L)).toDF("qid", "id")
    val br = Seq((1L, 10L, 1), (1L, 2L, 2), (1L, 3L, 3), (1L, 99L, 4),
      (2L, 50L, 1), (2L, 51L, 2), (4L, 40L, 1)).toDF("qid", "id", "rank")
    def rows3(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val binary = rows3(Similarity.rankMetrics(bt, br, k = 5))
    val graded = rows3(Similarity.rankMetricsGraded(
      bt.withColumn("rel", lit(1L)), br, k = 5))
    assert(graded == binary)
  }

  test("cosineNearDupPairsAgainst == full-corpus pairs restricted to batch-touching, both configs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val h = 400L
    val old = emb.filter(col("vec_id") < h)
    val batch = emb.filter(col("vec_id") >= h)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((planes, radius, tables) <- Seq((8, 8, 1), (4, 1, 16))) {
      val full = rows(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.3, numPlanes = planes, dim = 64,
        probeRadius = radius, numTables = tables))
      val touching = full.filter { case (a, b) => a >= h || b >= h }
      val against = rows(Similarity.cosineNearDupPairsAgainst(batch, old,
        "vec_id", "embedding", threshold = 0.3, numPlanes = planes, dim = 64,
        probeRadius = radius, numTables = tables))
      assert(against == touching,
        s"config ($planes,$radius,$tables): one-sided probe must equal the " +
          s"symmetric two-sided restriction (${against.size} vs ${touching.size})")
    }
  }

  test("LSH candidates of all three operators are exactly the Hamming-ball predicate") {
    // generated 16-d vectors: 16 random bases, each with an exact copy, a
    // close and a far neighbour, so narrow geometries still see hits
    val dim = 16
    val rnd = new scala.util.Random(11)
    val bases = Seq.fill(16)(Array.fill(dim)(rnd.nextGaussian()))
    def near(b: Array[Double], eps: Double): Seq[Float] =
      b.map(x => (x + eps * rnd.nextGaussian()).toFloat).toSeq
    val corpusRows = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq(3L * i -> near(b, 0), (3L * i + 1) -> near(b, 0.02), (3L * i + 2) -> near(b, 0.2))
    }
    // queries: three corpus rows (self-matches must be excluded) and eight
    // perturbed bases under ids the corpus does not hold
    val queryRows = Seq(0, 7, 20).map(i => corpusRows(i)) ++
      bases.take(8).zipWithIndex.map { case (b, i) => (100L + i) -> near(b, 0.05) }
    val corpus = corpusRows.toDF("id", "vec")
    val queries = queryRows.toDF("qid", "qvec")
    val h = 36L // Against: ids >= h are the batch, the rest its prior corpus
    val ids = corpusRows.map(_._1)
    def check(what: String, d: org.apache.spark.sql.DataFrame, a: String, b: String,
              want: Seq[(Long, Long)]): Unit = {
      val got = d.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (missing, extra) = (want.toSet -- got, got -- want.toSet)
      if (missing.nonEmpty || extra.nonEmpty)
        fail(s"$what: ${missing.size} pairs missing (${missing.take(3)}), " +
          s"${extra.size} extra (${extra.take(3)}) of ${want.size}")
    }
    for ((planes, tables, radius) <- Seq((4, 16, 1), (18, 2, 0), (6, 4, 0), (8, 1, 8))) {
      val geometry = s"$planes planes / $tables tables / radius $radius"
      def sigs(rows: Seq[(Long, Seq[Float])]): Map[Long, Seq[Long]] =
        rows.toDF("id", "vec").select(col("id"),
            graft.plans.VectorExpressions.rp_signatures(col("vec"),
              Similarity.randomPlanes(planes * tables, dim), tables, planes, dim))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val (cs, qs) = (sigs(corpusRows), sigs(queryRows))
      def hit(x: Seq[Long], y: Seq[Long]) =
        x.zip(y).exists { case (u, v) => java.lang.Long.bitCount(u ^ v) <= radius }
      val self = for (a <- ids; b <- ids if a < b && hit(cs(a), cs(b))) yield (a, b)
      val against = self.filter { case (a, b) => a >= h || b >= h }
      val topK = for ((q, _) <- queryRows; id <- ids if q != id && hit(qs(q), cs(id)))
        yield (q, id)
      assert(self.nonEmpty && against.nonEmpty && topK.nonEmpty, geometry)
      // a threshold below -1 passes every candidate through the cosine gate
      check(s"cosineNearDupPairs, $geometry", Similarity.cosineNearDupPairs(corpus, "id",
        "vec", threshold = -2.0, numPlanes = planes, dim = dim, probeRadius = radius,
        numTables = tables), "id_a", "id_b", self)
      check(s"cosineNearDupPairsAgainst, $geometry", Similarity.cosineNearDupPairsAgainst(
        corpus.filter(col("id") >= h), corpus.filter(col("id") < h), "id", "vec",
        threshold = -2.0, numPlanes = planes, dim = dim, probeRadius = radius,
        numTables = tables), "id_a", "id_b", against)
      // k >= |corpus|: the rank window keeps every candidate
      check(s"lshCosineTopK, $geometry", Similarity.lshCosineTopK(corpus, "id", "vec",
        queries, "qid", "qvec", k = ids.size, numPlanes = planes, dim = dim,
        probeRadius = radius, numTables = tables), "qid", "id", topK)
    }
  }

  test("rp_signatures equals the per-table literal-tree rpSignature, zero and negative components included") {
    // generated 16-d vectors: gaussian components (half negative), exact
    // zeros sprinkled in, an all-zero vector (every dot is 0, so every bit
    // is set on both sides) and an all-negative one
    val dim = 16
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 60L).map {
      case 0L => 0L -> Seq.fill(dim)(0f)
      case 1L => 1L -> Seq.fill(dim)(-1f)
      case i => i -> Seq.fill(dim)(if (rnd.nextInt(4) == 0) 0f else rnd.nextGaussian().toFloat)
    }.toDF("id", "vec")
    for ((planes, tables) <- Seq((4, 16), (18, 2), (8, 1))) {
      val ps = Similarity.randomPlanes(planes * tables, dim)
      // table t owns planes [t * planes, (t + 1) * planes), bit i = its plane i
      val tree = (0 until tables).map(t =>
        Similarity.rpSignature(col("vec"), ps.slice(t * planes, (t + 1) * planes)))
      val got = vecs.select(col("id"),
          graft.plans.VectorExpressions.rp_signatures(col("vec"), ps, tables, planes, dim),
          array(tree: _*))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      assert(got.length == 60)
      val diff = got.filter { case (_, native, literal) => native != literal }
      assert(diff.isEmpty, s"$planes planes / $tables tables: ${diff.length} rows differ, " +
        s"first ${diff.headOption}")
      assert(got.find(_._1 == 0L).get._2.forall(_ == (1L << planes) - 1),
        "premise: the zero vector sets every bit")
    }
  }

  test("cluster-keyed split: no near-dup pair ever crosses a split boundary (q95 leakage property)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1)
    val asg = Dedup.componentAssignments(
      emb.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
      pairs, "id_a", "id_b")
    val split = CorpusQuality.hashSplit(asg, col("cluster_id").cast("string"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("id"), col("split"))
    val crossing = pairs
      .join(split.select(col("id").as("id_a"), col("split").as("sa")), Seq("id_a"))
      .join(split.select(col("id").as("id_b"), col("split").as("sb")), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(crossing == 0L, s"$crossing near-dup pairs straddle a split boundary")
    // and the split is non-degenerate: at least two splits actually occur
    assert(split.select("split").distinct().count() >= 2)
    // NEGATIVE CONTROL: the standard per-DOCUMENT split leaks on this very
    // corpus — some near-dup pair straddles a boundary — which is exactly
    // the failure the cluster key exists to close
    val docKeyed = CorpusQuality.hashSplit(asg, col("id").cast("string"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("id"), col("split"))
    val leaky = pairs
      .join(docKeyed.select(col("id").as("id_a"), col("split").as("sa")), Seq("id_a"))
      .join(docKeyed.select(col("id").as("id_b"), col("split").as("sb")), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(leaky > 0L,
      "control failed: a doc-keyed split shows no leakage on this corpus, " +
        "so the test would not detect a regression to doc keying")
  }
}
