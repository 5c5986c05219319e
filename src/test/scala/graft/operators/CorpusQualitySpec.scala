package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class CorpusQualitySpec extends SparkSpec {
  import spark.implicits._

  test("repetitionSignals: hand-computed fractions on a looping document") {
    // "a a a b": 1-grams = [a,a,a,b] -> top a=3/4, dup 3/4
    //            2-grams = [a a, a a, a b] -> top 2/3, dup 2/3
    //            3-grams = [a a a, a a b] -> top 1/2, dup 0
    val df = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val out = CorpusQuality.repetitionSignals(df, "doc_id", "text")
      .orderBy("n")
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(out == Seq(
      (1, 4L, 0.75, 0.75),
      (2, 3L, 0.666667, 0.666667),
      (3, 2L, 0.5, 0.0)))
  }

  test("repetitionSignals: all-distinct text has top_frac 1/n_grams, dup_frac 0") {
    val df = Seq((7L, "one two three four five")).toDF("doc_id", "text")
    val out = CorpusQuality.repetitionSignals(df, "doc_id", "text", ns = Seq(1))
      .collect().map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(out == Seq((5L, 0.2, 0.0)))
  }

  test("repetitionSignals emits no row for n beyond the document length") {
    val df = Seq((1L, "only two")).toDF("doc_id", "text")
    val ns = CorpusQuality.repetitionSignals(df, "doc_id", "text", ns = Seq(1, 2, 3))
      .collect().map(_.getInt(1)).toSeq.sorted
    assert(ns == Seq(1, 2)) // no 3-gram row: the doc has 2 tokens
  }

  test("removeFrequentUnits drops corpus-common lines, keeps order, keeps rare") {
    // the cookie-banner line appears in all 3 docs (df=3 > maxDocFreq=2);
    // repeats WITHIN one doc must not count toward document frequency
    val df = Seq(
      (1L, Seq("accept cookies", "real content one", "accept cookies", "more one")),
      (2L, Seq("real content two", "accept cookies")),
      (3L, Seq("accept cookies", "unique three"))).toDF("doc_id", "lines")
    val out = CorpusQuality.removeFrequentUnits(df, "doc_id", col("lines"), maxDocFreq = 2)
      .select("doc_id", "kept_units")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out(1L) == List("real content one", "more one")) // order preserved
    assert(out(2L) == List("real content two"))
    assert(out(3L) == List("unique three"))
  }

  test("removeFrequentUnits: a doc whose units are all boilerplate yields empty, not null") {
    val df = Seq(
      (1L, Seq("x")), (2L, Seq("x")), (3L, Seq("x")), (4L, Seq("x", "keep me"))
    ).toDF("doc_id", "lines")
    val out = CorpusQuality.removeFrequentUnits(df, "doc_id", col("lines"), maxDocFreq = 2)
      .select("doc_id", "kept_units")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out(1L) == Nil && out(2L) == Nil && out(3L) == Nil)
    assert(out(4L) == List("keep me"))
  }

  test("hashSplit is deterministic, exhaustive, and near the target proportions") {
    val df = (1L to 4000L).map(i => (i, s"doc$i")).toDF("id", "text")
    val split = CorpusQuality.hashSplit(df, col("id").cast("string"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 4000L)
    assert(math.abs(counts("train") - 3200.0) < 200, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 400.0) < 100)
    // pure function of the key: a second run assigns identically
    val a = split.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = CorpusQuality.hashSplit(df, col("id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("stratifiedHashSample: fraction 1 keeps all, 0 keeps none, samples nest") {
    val df = (1L to 2000L).map(i => (i, if (i % 4 == 0) "zh" else "en")).toDF("id", "lang")
    def keep(fEn: Double): Set[Long] =
      CorpusQuality.stratifiedHashSample(df, col("lang"), col("id").cast("string"),
          Map("en" -> fEn, "zh" -> 1.0))
        .collect().map(_.getLong(0)).toSet
    val all = keep(1.0)
    assert(all.size == 2000)
    val none = CorpusQuality.stratifiedHashSample(df, col("lang"),
        col("id").cast("string"), Map("zh" -> 1.0), defaultFraction = 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(none.size == 500 && none.forall(_ % 4 == 0)) // only zh survives
    // monotone nesting: the 25% en sample is a subset of the 50% one
    val half = keep(0.5); val quarter = keep(0.25)
    assert(quarter.subsetOf(half) && half.subsetOf(all))
    assert(math.abs(half.count(_ % 4 != 0) - 750.0) < 120)
  }

  test("unitRetentionStats agrees with removeFrequentUnits' kept counts") {
    val df = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "the cat sat somewhere else entirely today ok"),
      (3L, "the cat sat in another document completely now"),
      (4L, "nothing shared with the others at all here")).toDF("doc_id", "text")
    val withToks = df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val units = TextFunctions.shinglesOfTokens(col("toks"), 3)
    val stats = CorpusQuality.unitRetentionStats(withToks, "doc_id", units, maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val kept = CorpusQuality.removeFrequentUnits(withToks, "doc_id", units, maxDocFreq = 2)
      .select(col("doc_id"), size(col("kept_units")).cast("long").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.keySet == kept.keySet)
    stats.foreach { case (id, (_, nKept)) => assert(nKept == kept(id), s"doc $id") }
    // "the cat sat" is in 3 docs -> dropped for docs 1,2,3; doc 4 untouched
    assert(stats(4L)._1 == stats(4L)._2)
    assert(stats(1L)._2 < stats(1L)._1)
  }

  test("topTermsByRarity ranks by tf x N/df with term tie-break") {
    // N=3 docs. "rare" appears only in doc 1 (df=1), "mid" in docs 1,2 (df=2),
    // "common" in all (df=3).
    val docs = Seq(
      (1L, "common mid rare rare"),
      (2L, "common mid common"),
      (3L, "common common common")).toDF("doc_id", "text")
    val got = CorpusQuality.topTermsByRarity(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1: rare tf=2 df=1 -> 6.0; mid tf=1 df=2 -> 1.5; common tf=1 df=3 -> 1.0
    assert(got((1L, 1)) == ("rare", 2L, 6.0))
    assert(got((1L, 2)) == ("mid", 1L, 1.5))
    // doc 2: common tf=2 df=3 -> 2.0 beats mid tf=1 df=2 -> 1.5
    assert(got((2L, 1)) == ("common", 2L, 2.0))
    assert(got((2L, 2)) == ("mid", 1L, 1.5))
    // doc 3 has only one distinct term -> a single row
    assert(got((3L, 1)) == ("common", 3L, 3.0))
    assert(!got.contains((3L, 2)))
  }

  test("topTermsByRarity is lazy: constructing the plan runs no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
      val plan = CorpusQuality.topTermsByRarity(docs, "doc_id", "text")
      // the listener bus is async — give a queued JobStart time to surface
      Thread.sleep(500)
      assert(jobs.get() == 0, "plan construction triggered a Spark job")
      assert(plan.collect().nonEmpty) // sanity: the listener does see real jobs
      Thread.sleep(500)
      assert(jobs.get() > 0, "listener never observed any job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("decontamination flags docs overlapping the benchmark, by exact shingle counts") {
    // benchmark: "a b c d" -> bigrams {a b, b c, c d}
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c x"),   // bigrams {a b, b c, c x}: 2/3 overlap -> contaminated
      (2L, "x y z a"),   // {x y, y z, z a}: 0/3
      (3L, "c d"),       // {c d}: 1/1 -> contaminated
      (4L, "solo")       // no bigrams -> no row
    ).toDF("doc_id", "text")
    val got = CorpusQuality.decontamination(corpus, "doc_id", "text", bench, "text",
        n = 2, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(got == Map(1L -> (3L, 2L, 1L), 2L -> (3L, 0L, 0L), 3L -> (1L, 1L, 1L)))
  }

  test("contaminatedChunks maps shingle positions to exactly the overlapping windows") {
    import spark.implicits._
    // 200 tokens w0..w199; 64/48 windows -> chunks 0..3 covering
    // [0,64) [48,112) [96,160) [144,208)
    val doc = (0 until 200).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, doc)).toDF("doc_id", "text")
    def contam(benchText: String): Set[(Long, Long)] =
      CorpusQuality.contaminatedChunks(corpus, "doc_id", "text",
          Seq(Tuple1(benchText)).toDF("btext"), "btext",
          n = 5, size = 64, stride = 48)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 5-gram at p=100 spans [100,105): inside chunks 1 ([48,112)) and
    // 2 ([96,160)) only — not 0 (ends at 64) and not 3 (starts at 144)
    assert(contam((100 to 104).map(i => s"w$i").mkString(" ")) ==
      Set((1L, 1L), (1L, 2L)))
    // head shingle [0,5): chunk 0 alone
    assert(contam((0 to 4).map(i => s"w$i").mkString(" ")) == Set((1L, 0L)))
    // tail shingle [195,200): chunk 3 alone
    assert(contam((195 to 199).map(i => s"w$i").mkString(" ")) == Set((1L, 3L)))
    // no overlap -> empty
    assert(contam("z1 z2 z3 z4 z5").isEmpty)
  }

  test("lmFamiliarity equals an in-memory recomputation (integer log2 magnitudes)") {
    val docs = Seq(
      (1L, "the cat sat"),        // bigrams: "the cat", "cat sat"
      (2L, "the cat ran"),        // "the cat" again -> corpus count 2
      (3L, "the cat sat the cat sat"), // repeats its own bigrams + "sat the"
      (4L, "unique words only here"),
      (5L, "solo"))               // no bigrams -> no row
    val got = CorpusQuality.lmFamiliarity(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

    // in-memory: corpus bigram counts, mag = floor(log2(c)) via bitLength
    val bi = docs.flatMap { case (id, t) =>
      t.split("\\s+").filter(_.nonEmpty).toSeq.sliding(2).filter(_.size == 2)
        .map(p => id -> p.mkString(" "))
    }
    val cnt = bi.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def mag(c: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(c)
    val exp = bi.groupBy(_._1).view.mapValues { gs =>
      val mags = gs.map { case (_, g) => mag(cnt(g)) }
      val s = mags.sum
      (gs.size.toLong, s,
        BigDecimal(s.toDouble / gs.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    assert(got == exp)
    assert(!got.contains(5L)) // no bigrams, no row
    // all-unique bigrams score 0 (count 1 -> magnitude 0); repeated corpus
    // bigrams score higher — the familiarity ordering a quality gate needs
    assert(got(4L)._3 == 0.0)
    assert(got(1L)._3 > got(4L)._3)
  }

  test("temperatureMixture takes floor(T*sqrt(c)/sum) per stratum via the md5 rule") {
    // strata: a=100 docs, b=25, c=4 -> integer sqrt weights 10, 5, 2 (denom 17)
    val docs = (1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 125).map(i => (i.toLong, "b")) ++ (126 to 129).map(i => (i.toLong, "c"))
    val df = docs.toDF("doc_id", "lang")
    val got = CorpusQuality.temperatureMixture(df, col("lang"),
        col("doc_id").cast("string"), targetTotal = 34L)
      .collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("__stratum")),
        r.getLong(r.fieldIndex("n_target")))).toSeq

    // expected takes: floor(34*10/17)=20, floor(34*5/17)=10, floor(34*2/17)=4=c
    val nTarget = Map("a" -> 20L, "b" -> 10L, "c" -> 4L)
    assert(got.map(t => t._2 -> t._3).toMap == nTarget)
    // membership replays the md5 rule exactly (in-memory recompute)
    def u32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val counts = Map("a" -> 100L, "b" -> 25L, "c" -> 4L)
    val exp = docs.filter { case (id, g) =>
      u32(id.toString).toDouble < (nTarget(g).toDouble * 4294967296.0) / counts(g)
    }.map(_._1).toSet
    assert(got.map(_._1).toSet == exp)
    // low-resource stratum keeps a LARGER share than its raw frequency
    val shareC = nTarget("c").toDouble / counts("c")
    val shareA = nTarget("a").toDouble / counts("a")
    assert(shareC > shareA)
  }

  test("tokenBudgetSample: exact md5-prefix draw, atomic docs, boundary/zero/salt behavior") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = (1L to 40L).map(i => (i, 1L + (i * 7) % 13)) // cnt in 1..13
    val df = docs.toDF("doc_id", "cnt")
    def drawn(budget: Long, salt: String = "") =
      CorpusQuality.tokenBudgetSample(df, "doc_id", "cnt", budget, salt)._1
        .collect().map(_.getLong(0)).toSet
    // driver-side recompute: walk in (md5, id) order; a doc is kept iff
    // its own span fits, and the position advances by EVERY doc's cnt
    // (exclusive-prefix-sum semantics — a skipped doc does not free its
    // slot for later docs)
    val order = docs.sortBy { case (id, _) => (md5hex(s"draw-:$id"), id) }
    def expected(budget: Long): Set[Long] = {
      var pos = 0L
      val kept = scala.collection.mutable.Set[Long]()
      order.foreach { case (id, cnt) =>
        if (pos + cnt <= budget) kept += id
        pos += cnt // position advances regardless (prefix-sum semantics)
      }
      kept.toSet
    }
    for (b <- Seq(0L, 1L, 17L, 50L, 1000L))
      assert(drawn(b) == expected(b), s"budget $b")
    assert(drawn(0L).isEmpty)
    assert(drawn(1000L) == docs.map(_._1).toSet, "huge budget keeps everything")
    // a different salt draws a different prefix (overwhelmingly likely on
    // 40 docs at a partial budget) but the SAME salt is deterministic
    assert(drawn(50L) == drawn(50L))
    assert(drawn(50L, salt = "b") != drawn(50L))
    // zero-token docs are never kept
    val withZero = (docs :+ (99L, 0L)).toDF("doc_id", "cnt")
    val z = CorpusQuality.tokenBudgetSample(withZero, "doc_id", "cnt", 1000L)._1
      .collect().map(_.getLong(0)).toSet
    assert(!z.contains(99L) && z == docs.map(_._1).toSet)
  }

  test("temperatureMixture integer sqrt corrects the k^2-1 boundary") {
    // 3 docs -> isqrt(3) must be 1 (floor path), 4 -> 2, and a stratum of
    // 48 docs -> isqrt 6 (6*6=36 <= 48 < 49); huge targets cap at c
    val docs = (1 to 3).map(i => (i.toLong, "x")) ++
      (4 to 7).map(i => (i.toLong, "y")) ++ (8 to 55).map(i => (i.toLong, "z"))
    val ws = CorpusQuality.temperatureMixture(docs.toDF("doc_id", "lang"),
        col("lang"), col("doc_id").cast("string"), targetTotal = 1000000L)
      .select("__stratum", "w", "n_target", "c").distinct()
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ws("x") == ((1L, 3L, 3L)))   // w=isqrt(3)=1, capped at c=3
    assert(ws("y") == ((2L, 4L, 4L)))   // w=isqrt(4)=2, capped at c=4
    assert(ws("z") == ((6L, 48L, 48L))) // w=isqrt(48)=6, capped at c=48
  }
}
