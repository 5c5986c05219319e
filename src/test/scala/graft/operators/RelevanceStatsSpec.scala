package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden-by-recomputation specs (SURVEY §5 idiom 3) for the round-8 ranked
  * retrieval and quantile-sketch operators: the distributed result must equal
  * (or provably bound) a plain in-memory Scala recomputation. */
class RelevanceStatsSpec extends SparkSpec {
  import spark.implicits._

  // ---- BM25 (Relevance.bm25, q78) ----

  private val docs = Seq(
    1L -> "the cat sat on the mat",
    2L -> "the dog",
    3L -> "cat cat cat dog",
    4L -> "entirely unrelated words here",
    5L -> "the the the the the the the the") // long, repetitive

  test("bm25 equals an in-memory recomputation (per-term, rank-ordered sum)") {
    val probe = Seq("the", "cat", "dog") // term_rank 1..3
    val terms = probe.zipWithIndex.map { case (t, i) => (t, i + 1) }
      .toDF("term", "term_rank")
    val got = Relevance.bm25(docs.toDF("doc_id", "text"), "doc_id", "text",
        terms, nTerms = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val k1 = 1.2; val b = 0.75
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
    val dl = toks.map { case (id, ws) => id -> ws.size }.toMap
    val n = toks.size
    val avgdl = dl.values.sum.toDouble / n
    val tf: Map[(Long, Int), Int] = (for {
      (id, ws) <- toks; (term, i) <- probe.zipWithIndex
      c = ws.count(_ == term) if c > 0
    } yield (id, i) -> c).toMap
    val dfm: Map[Int, Int] = probe.indices.map(i => i -> tf.keys.count(_._2 == i)).toMap
    val exp = toks.map(_._1).flatMap { id =>
      // rank-ordered left-to-right sum, the operator's exact associativity
      val score = probe.indices.foldLeft(0.0) { (acc, i) =>
        acc + tf.get(id -> i).fold(0.0) { c =>
          val idf = (n.toDouble - dfm(i) + 0.5) / (dfm(i) + 0.5)
          idf * ((c * (k1 + 1.0)) /
            (c + (k1 * ((1.0 - b) + (b * (dl(id).toDouble / avgdl))))))
        }
      }
      if (score == 0.0) None else Some(id -> score)
    }.toMap

    assert(got.keySet == exp.keySet) // doc 4 (no probe terms) absent
    got.foreach { case (id, s) =>
      assert(math.abs(s - exp(id)) < 1e-6, s"doc $id: $s vs ${exp(id)}")
    }
  }

  test("bm25PerQuery scores N probe sets in one pass, equal to N single runs") {
    val probesA = Seq(("the", 1), ("cat", 2))
    val probesB = Seq(("dog", 1), ("unrelated", 2), ("the", 3))
    val multi = probesA.map { case (t, r) => (10L, t, r) } ++
      probesB.map { case (t, r) => (20L, t, r) }
    val docsDf = docs.toDF("doc_id", "text")
    val got = Relevance.bm25PerQuery(docsDf, "doc_id", "text",
        multi.toDF("query_id", "term", "term_rank"), nTerms = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // per-query results equal the single-probe operator run per set
    def single(ps: Seq[(String, Int)]) =
      Relevance.bm25(docsDf, "doc_id", "text", ps.toDF("term", "term_rank"),
          nTerms = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expA = single(probesA); val expB = single(probesB)
    assert(got.keys.count(_._1 == 10L) == expA.size)
    assert(got.keys.count(_._1 == 20L) == expB.size)
    expA.foreach { case (d, s) => assert(got((10L, d)) == s, s"A doc $d") }
    expB.foreach { case (d, s) => assert(got((20L, d)) == s, s"B doc $d") }
    assert(got.size == expA.size + expB.size)
    // one corpus pass for N probe sets: the multi-probe plan reads the
    // corpus relation exactly as often as the single-probe plan (adding a
    // probe set adds broadcast rows, never another corpus scan)
    def relScans(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.optimizedPlan.toString
      p.sliding("LocalRelation".length).count(_ == "LocalRelation")
    }
    val nMulti = relScans(Relevance.bm25PerQuery(docsDf, "doc_id", "text",
      multi.toDF("query_id", "term", "term_rank"), nTerms = 3))
    val nSingle = relScans(Relevance.bm25(docsDf, "doc_id", "text",
      probesA.toDF("term", "term_rank"), nTerms = 3))
    assert(nMulti == nSingle,
      s"multi-probe multiplies corpus scans: $nMulti vs $nSingle")
  }

  test("q78 probe derivation is a distributed top-k, not a vocab-wide window") {
    // The probe terms come from ranking the WHOLE vocabulary by count; at
    // web scale that frame is ~10^9 rows. The plan must therefore cut it
    // with TakeOrderedAndProject (per-partition heaps) — a single-partition
    // Sort over the vocab frame is the scale-killer this pins against.
    val q = graft.Queries.bm25TopDocs(spark, sf)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"),
      s"expected a distributed top-k in:\n$physical")
    // the only window operators allowed are over already-limited frames
    // (the 3 probe rows, the 10 result rows) — each must sit ABOVE a
    // GlobalLimit in the plan tree, never directly over the vocab aggregate
    val opt = q.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, GlobalLimit}
    opt.foreach {
      case w: LWindow =>
        val limited = w.child.collectFirst { case g: GlobalLimit => g }
        assert(limited.nonEmpty,
          s"window over an unlimited frame:\n${w.treeString}")
      case _ =>
    }
  }

  test("bm25 ranks a rare-term doc above a common-term doc despite lower tf") {
    val terms = Seq(("cat", 1), ("the", 2)).toDF("term", "term_rank")
    val scores = Relevance.bm25(docs.toDF("doc_id", "text"), "doc_id", "text",
        terms, nTerms = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 has tf(cat)=3 of the rarer term; doc 5 has tf(the)=8 of the
    // near-ubiquitous one — rarity must dominate raw frequency
    assert(scores(3L) > scores(5L))
  }

  test("rrfFuse: exact reciprocal-rank sums; one-sided docs score one term; agreement wins") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: doc 10 is #1 dense and #2 sparse (agreement), doc 20 only dense #2,
    // doc 30 only sparse #1; agreement must outrank either single #1
    val dense = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("qid", "id", "rank")
    val sparse = Seq((1L, 30L, 1), (1L, 10L, 2)).toDF("qid", "id", "rank")
    val got = Relevance.rrfFuse(Seq(dense, sparse), k0 = 60)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(got(10L) == r6(1.0 / 61 + 1.0 / 62))
    assert(got(20L) == r6(1.0 / 62))
    assert(got(30L) == r6(1.0 / 61))
    assert(got(10L) > got(30L) && got(30L) > got(20L))
  }

  test("q114 gate premise: full-precision and int8-quantized top-5 lists overlap on the gate corpus") {
    // q114 exists to gate the BOTH-lists summed-rank branch of rrfFuse on
    // real data (q108's dense/sparse lists are disjoint on this testdata);
    // that only holds if quantization actually preserves most of the
    // ranking here — measured 47/50 fused rows at sf0.001, 50/50 at sf0.01
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 13)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val full = Similarity.cosineTopK(emb, "vec_id", "embedding", queries,
        "qid", "qvec", k = 5)
      .select("qid", "id")
    val qemb = emb.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).as("qv"))
    val qq = qemb.filter(col("vec_id") % 50 === 13)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val quant = Similarity.cosineTopK(qemb, "vec_id", "qv", qq,
        "qid", "qvec", k = 5)
      .select("qid", "id")
    val both = full.join(quant, Seq("qid", "id")).count()
    val fullN = full.count()
    assert(both > 0, "no overlap — q114 would gate only the disjoint interleave")
    assert(both * 2 >= fullN, s"overlap $both of $fullN fused rows unexpectedly low")
  }

  // ---- Histogram quantile sketch (Sketches.histogramQuantiles, q77) ----

  test("histogram quantile bounds the true quantile from above within 1/scale") {
    val rnd = new scala.util.Random(77)
    val rows = (1 to 2000).map(_ => ("a", rnd.nextDouble() * 50.0)) ++
      (1 to 500).map(_ => ("b", rnd.nextGaussian() * 5.0)) // includes negatives
    val df = rows.toDF("g", "v")
    val probs = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    val scale = 10
    val out = Sketches.histogramQuantiles(df, Seq("g"), col("v"), scale, probs)
      .collect().map(r => r.getString(0) -> r).toMap
    for ((g, vs) <- rows.groupBy(_._1)) {
      val sorted = vs.map(_._2).sorted
      val row = out(g)
      assert(row.getLong(1) == sorted.size) // n
      probs.zipWithIndex.foreach { case ((tag, p), i) =>
        val rank = math.ceil(p * sorted.size).toLong
        val trueQ = sorted((rank - 1).toInt)
        val est = row.getDouble(2 + i)
        assert(est >= trueQ - 1e-12, s"$g $tag: est $est < true $trueQ")
        assert(est - trueQ <= 1.0 / scale + 1e-12,
          s"$g $tag: est $est too far above true $trueQ")
      }
    }
  }

  test("histogram quantile state is bounded by touched bins, not rows") {
    // 100k rows over 10 distinct values -> exactly 10 bins reach the shuffle
    val df = spark.range(0, 100000)
      .select(lit("g").as("g"), (col("id") % 10).cast("double").as("v"))
    val bins = df.groupBy(col("g"), floor(col("v") * 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("c")).count()
    assert(bins == 10)
    val q = Sketches.histogramQuantiles(df, Seq("g"), col("v"), 10,
      Seq("p50" -> 0.5)).collect().head
    // p50 over 0..9 uniform: rank 50000 falls in bin 40 (value 4.0); the
    // estimate is that bin's upper edge 41/10
    assert(q.getDouble(2) == 4.1)
  }

  // ---- Trailing point-in-time features (q79 window shape) ----

  test("trailing-hour features equal hand-computed frames and never look ahead") {
    val base = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    // u1: events at 0s, 1800s, 3600s, 3601s, 7300s; u2: a lone event
    val rows = Seq(
      ("e1", "u1", ts(0), 1.00), ("e2", "u1", ts(1800), 2.00),
      ("e3", "u1", ts(3600), 4.00), ("e4", "u1", ts(3601), 8.00),
      ("e5", "u1", ts(7300), 16.00), ("e6", "u2", ts(100), 32.00))
    val df = rows.toDF("event_id", "user_id", "ts", "value")
    // exercises the PRODUCTION operator (q79's body), not a re-implementation
    val got = Sessions.trailingFeatures(df, "event_id", "user_id", "ts", "value")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // e3 at 3600s: frame [0s, 3600s] is inclusive at both ends -> e1,e2,e3
    assert(got("e3") == ((3L, 700L)))
    // e4 at 3601s: frame [1s, 3601s] -> e2,e3,e4 (e1 aged out)
    assert(got("e4") == ((3L, 1400L)))
    // e5 at 7300s: nothing within the trailing hour but itself
    assert(got("e5") == ((1L, 1600L)))
    // no lookahead: e1 sees only itself though later events exist
    assert(got("e1") == ((1L, 100L)))
    assert(got("e6") == ((1L, 3200L)))
  }
}
