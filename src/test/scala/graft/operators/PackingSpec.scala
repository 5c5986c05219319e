package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // chunk starts for a doc of n tokens at (size, stride), the operator's rule
  private def starts(n: Int, size: Int, stride: Int): Seq[Int] = {
    val k = math.max(0L, math.ceil((n - size).toDouble / stride).toLong).toInt
    (0 to k).map(_ * stride)
  }

  test("chunk equals an in-memory recomputation across edge lengths") {
    val docs = Seq(
      1L -> "a b c",                                    // n < size: one chunk
      2L -> (1 to 8).map(i => s"w$i").mkString(" "),    // n == size
      3L -> (1 to 9).map(i => s"w$i").mkString(" "),    // n == size + 1
      4L -> (1 to 30).map(i => s"t$i").mkString(" "),   // several chunks
      5L -> "  x   y  ",                                // ragged whitespace
      6L -> "")                                         // token-less: dropped
    val (size, stride) = (8, 5)
    val got = Packing.chunk(docs.toDF("doc_id", "text"), "doc_id", "text", size, stride)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap

    val exp = (for {
      (id, text) <- docs
      toks = text.split("\\s+").filter(_.nonEmpty).toSeq if toks.nonEmpty
      (st, i) <- starts(toks.size, size, stride).zipWithIndex
      piece = toks.slice(st, st + size)
    } yield (id, i.toLong) -> ((piece.size.toLong, md5hex(piece.mkString(" "))))).toMap

    assert(got == exp)
    assert(!got.keySet.exists(_._1 == 6L)) // empty doc produced nothing
  }

  test("chunk carries pass-through columns unchanged and identical text chunks hash equal") {
    val docs = Seq(
      (1L, "web", "a b c d e f"), (2L, "web", "a b c d e f"), // same text
      (3L, "book", "a b c d e f"), (4L, "book", "x y z"))
    val got = Packing.chunk(docs.toDF("doc_id", "source", "text"),
        "doc_id", "text", size = 4, stride = 3, carry = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(4)))
    assert(got.forall { case (id, src, _, _) =>
      src == docs.find(_._1 == id).get._2 }) // carry intact per row
    // duplicate-text docs produce identical chunk hash sequences
    val byDoc = got.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
    assert(byDoc(1L) == byDoc(2L) && byDoc(2L) == byDoc(3L))
    assert(byDoc(1L) != byDoc(4L))
  }

  test("chunk windows tile the token stream: every token covered, overlap = size - stride") {
    val n = 103; val (size, stride) = (16, 12)
    val st = starts(n, size, stride)
    // contiguous coverage of [0, n) with the designed overlap
    assert(st.head == 0)
    st.sliding(2).foreach { case Seq(a, b) => assert(b - a == stride && b < a + size) }
    assert(st.last + size >= n)   // tail reached
    assert(st.last < n)           // no chunk starts past the data
  }

  test("packSequences equals an in-memory concat-and-chop recomputation") {
    val cap = 100L
    val cnts = Seq(3L -> 40L, 7L -> 95L, 8L -> 10L, 12L -> 260L, 20L -> 55L,
      21L -> 0L /* dropped */, 40L -> 1L)
    val got = Packing.packSequences(cnts.toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", capacity = cap)._1
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))

    var pos = 0L
    val exp = cnts.filter(_._2 > 0).sortBy(_._1).map { case (id, c) =>
      val seq = pos / cap; val off = pos % cap
      val spans = (pos + c - 1) / cap - seq + 1
      pos += c
      id -> ((c, seq, off, spans))
    }
    assert(got.toSeq == exp)
    // spot-check the straddle: doc 12 starts at pos 145 -> seq 1 offset 45,
    // ends at pos 404 -> spans sequences 1..4
    assert(got.toMap.apply(12L) == ((260L, 1L, 45L, 4L)))
  }

  test("packSegments reconstructs every doc exactly and fills full sequences to capacity") {
    val cap = 100L
    val cnts = Seq(1L -> 40L, 2L -> 95L, 3L -> 10L, 4L -> 260L, 5L -> 55L, 6L -> 1L)
    val packed = Packing.packSequences(cnts.toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", capacity = cap)._1
    val segs = Packing.packSegments(packed, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    // every doc's segments cover [0, cnt) contiguously in seq order
    val byDoc = segs.groupBy(_._1)
    cnts.foreach { case (id, c) =>
      val ss = byDoc(id).sortBy(_._2).toSeq
      assert(ss.head._3 == 0L) // doc_from starts at 0
      assert(ss.map(_._5).sum == c, s"doc $id token coverage")
      ss.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 == a._3 + a._5) // contiguous doc ranges
          assert(b._2 == a._2 + 1)    // consecutive sequences
          assert(b._4 == 0L)          // continuation lands at sequence start
        case _ => ()
      }
    }
    // within a sequence, segments tile [0, capacity) with no gaps or overlap;
    // all but the last sequence are filled exactly to capacity
    val bySeq = segs.groupBy(_._2)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (s, ss) =>
      val sorted = ss.sortBy(_._4).toSeq
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b._4 == a._4 + a._5, s"seq $s gap/overlap")
        case _ => ()
      }
      assert(sorted.head._4 == 0L)
      if (s != lastSeq)
        assert(sorted.map(_._5).sum == cap, s"seq $s not filled to capacity")
    }
  }

  test("packSequences basePos makes batched packing equal a full repack") {
    val cap = 50L
    val cnts = (1 to 60).map(i => (i.toLong, 1L + (i * 7) % 40))
    val df = cnts.toDF("doc_id", "n_tokens")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val full = rows(Packing.packSequences(df, "doc_id", "n_tokens", cap)._1)
    // three arbitrary id-ordered batches, each continued from the previous
    // high-water token position
    val cuts = Seq(0L, 17L, 42L, 60L)
    var base = 0L
    val batched = cuts.sliding(2).flatMap { case Seq(lo, hi) =>
      val slice = df.filter(col("doc_id") > lo && col("doc_id") <= hi)
      val out = rows(Packing.packSequences(slice, "doc_id", "n_tokens", cap,
        basePos = base)._1)
      base += cnts.filter { case (id, _) => id > lo && id <= hi }.map(_._2).sum
      out
    }.toSeq
    assert(batched == full)
  }

  test("packSequences drops its internal snapshot on release") {
    val df = (1 to 40).map(i => (i.toLong, 1L + i % 9)).toDF("doc_id", "n_tokens")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (packed, release) = Packing.packSequences(
      df, "doc_id", "n_tokens", capacity = 32)
    assert(packed.count() > 0)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "expected the (id, cnt) snapshot to exist")
    release()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (spark.sparkContext.getPersistentRDDs.keySet.intersect(during).nonEmpty
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(during).isEmpty,
      "snapshot survived release()")
    // and the released frame fails loudly (never recomputes)
    val e = intercept[org.apache.spark.SparkException](packed.count())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }

  test("chunk and packSequences plans tokenize once (no re-derived split in hot paths)") {
    // q80's chunk: the whole operator is one scan + one Generate; exactly
    // ONE split() in the optimized plan (the tokenize-once rule the q24/q25
    // round-2 fix established). Parquet-backed source — a LocalRelation
    // would constant-fold the tokenize away and make the grep vacuous.
    val docs = new graft.Engine.Tables(spark, sf).documents
    val chunkPlan = Packing.chunk(docs, "doc_id", "text", 4, 3)
      .queryExecution.optimizedPlan.toString
    assert(chunkPlan.sliding("split(".length).count(_ == "split(") == 1, chunkPlan)
    // packSequences: the (id, cnt) projection is a snapshot, read through
    // its Scan ExistingRDD leaf in the executed plan, so tokenize ran once
    // (when the snapshot was taken) across the three plan references
    val counts = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    val (packed, release) = Packing.packSequences(counts, "doc_id", "n_tokens", 64)
    val packPlan = try packed.queryExecution.executedPlan.toString finally release()
    assert(packPlan.contains("Scan ExistingRDD"), packPlan.take(2000))
    assert(!packPlan.contains("split("), packPlan.take(2000))
  }

  test("packSequences positions are invariant under the bucket width") {
    // sparse, skewed ids exercise multi-bucket prefix sums; the hierarchical
    // sum must equal the single-bucket (bucketTarget >= maxId) result exactly
    val rnd = new scala.util.Random(81)
    val cnts = (1 to 500).map(_ => (rnd.nextInt(1000000).toLong, 1L + rnd.nextInt(300)))
      .distinctBy(_._1).map { case (id, c) => (id, c.toLong) }
    val df = cnts.toDF("doc_id", "n_tokens")
    def run(bt: Int) = Packing.packSequences(df, "doc_id", "n_tokens",
        capacity = 2048, bucketTarget = bt)._1
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val coarse = run(8)        // 8 wide buckets: intra-bucket windows do the work
    val fine = run(2000000)    // width 1: every id its own bucket, all work in the base window
    assert(fine == coarse)
  }

  test("packSequences: mixed-sign ids pack correctly; all-negative ids fail loudly") {
    import spark.implicits._
    // mixed sign: max id positive keeps the bucket width positive, negative
    // ids land in negative buckets that still order before the positives
    val mixed = Seq(-7L -> 10L, -2L -> 20L, 3L -> 30L).toDF("doc_id", "n_tokens")
    val got = Packing.packSequences(mixed, "doc_id", "n_tokens", capacity = 25L)._1
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    // id order -7, -2, 3 at positions 0, 10, 30
    assert(got == Seq((-7L, 0L, 0L), (-2L, 0L, 10L), (3L, 1L, 5L)))
    // all-negative: the bucket width derivation would go non-positive and
    // null out every bucket (rows silently vanish) — must raise instead
    val allNeg = Seq(-7L -> 10L, -2L -> 20L).toDF("doc_id", "n_tokens")
    val e = intercept[Exception] {
      Packing.packSequences(allNeg, "doc_id", "n_tokens", capacity = 25L)._1.collect()
    }
    assert(e.getMessage.contains("all doc ids are negative"))
    // empty input stays empty, no error
    assert(Packing.packSequences(mixed.filter(col("doc_id") > 100),
      "doc_id", "n_tokens", capacity = 25L)._1.collect().isEmpty)
  }

  test("lengthBuckets and tokenBudgetSample drop their snapshots on release") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, 1L + i % 9)).toDF("id", "len")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (buckets, releaseB) = Packing.lengthBuckets(docs, "id", "len", 8)
    assert(buckets.count() == 50)
    val (draw, releaseD) = CorpusQuality.tokenBudgetSample(
      docs, "id", "len", budget = 60L)
    assert(draw.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.size > before.size,
      "the operators' internal snapshots should be registered while live")
    releaseB(); releaseD()
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.keySet.size > before.size
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.size <= before.size,
      s"snapshots leaked: ${spark.sparkContext.getPersistentRDDs.keySet -- before}")
  }

  test("lengthBuckets: exact batch assignment, monotone batches, padding formula") {
    import spark.implicits._
    // 10 docs, lengths deliberately out of id order; batchSize 3 → batches
    // of 3,3,3,1 over the length-sorted order (ties broken by id)
    val docs = Seq((1L, 50L), (2L, 10L), (3L, 30L), (4L, 10L), (5L, 70L),
      (6L, 20L), (7L, 60L), (8L, 40L), (9L, 10L), (10L, 25L))
      .toDF("id", "len")
    val got = Packing.lengthBuckets(docs, "id", "len", batchSize = 3)._1
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("batch_id"), r.getAs[Long]("batch_pos")))
      .sortBy(r => (r._2, r._3))
    // sorted order: (2,10)(4,10)(9,10) | (6,20)(10,25)(3,30) | (8,40)(1,50)(7,60) | (5,70)
    assert(got.map(_._1).toSeq ==
      Seq(2L, 4L, 9L, 6L, 10L, 3L, 8L, 1L, 7L, 5L))
    assert(got.map(_._2).toSeq == Seq(0L, 0L, 0L, 1L, 1L, 1L, 2L, 2L, 2L, 3L))
    assert(got.map(_._3).toSeq == Seq(0L, 1L, 2L, 0L, 1L, 2L, 0L, 1L, 2L, 0L))
    // batches are length-monotone: max(batch i) <= min(batch i+1)
    val byBatch = Packing.lengthBuckets(docs, "id", "len", batchSize = 3)._1
      .groupBy("batch_id").agg(min(col("len")).as("lo"), max(col("len")).as("hi"))
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    byBatch.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ => ()
    }
  }
}
