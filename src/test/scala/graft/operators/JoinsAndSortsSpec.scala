package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JoinsAndSortsSpec extends SparkSpec {
  import spark.implicits._

  test("overrideJoin: rightmost source wins per key") {
    val s1 = Seq((1, "a1"), (2, "a2"), (3, "a3")).toDF("k", "v")
    val s2 = Seq((2, "b2"), (4, "b4")).toDF("k", "v")
    val s3 = Seq((3, "c3"), (4, "c4")).toDF("k", "v")
    val out = Joins.overrideJoin(Seq(s1, s2, s3), "k", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(1 -> "a1", 2 -> "b2", 3 -> "c3", 4 -> "c4"))
  }

  test("naryInner / naryOuter row semantics") {
    val a = Seq((1, "x"), (2, "y")).toDF("k", "a")
    val b = Seq((2, "p"), (3, "q")).toDF("k", "b")
    assert(Joins.naryInner(Seq(a, b), "k").collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(Joins.naryOuter(Seq(a, b), "k").count() == 3)
  }

  test("tagged cogroup join reproduces the per-key cross product") {
    val left = Seq((1, "l1"), (1, "l2"), (2, "l3")).toDS()
    val right = Seq((1, "r1"), (3, "r2")).toDS()
    val out = Joins.tagged(left, right)(_._1, _._1) { (k, ls, rs) =>
      val rsList = rs.toSeq
      ls.flatMap(l => rsList.map(r => (k, l._2, r._2)))
    }.collect().toSet
    assert(out == Set((1, "l1", "r1"), (1, "l2", "r1")))
  }

  test("semi/anti joins") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "a")
    val b = Seq((2, "p")).toDF("k", "b")
    assert(Joins.semi(a, b, "k").collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(Joins.anti(a, b, "k").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("asOf join picks greatest right time <= left time, ties by largest tie id") {
    val left = Seq((1L, 100L, "p1"), (1L, 50L, "p2"), (2L, 10L, "p3"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 40L, 900L), (1L, 100L, 901L), (1L, 100L, 902L), (1L, 120L, 903L),
      (2L, 11L, 904L)).toDF("k", "rt", "rid")
    val out = Joins.asOf(left, right, Seq("k"), "t", "rt", "rid")
      .collect().map(r => (r.getAs[String]("name"), Option(r.getAs[Any]("r_rid")))).toMap
    assert(out("p1").contains(902L)) // rt=100 <= 100, tie → larger rid
    assert(out("p2").contains(900L)) // rt=40 is the only one <= 50
    assert(out("p3").isEmpty)        // no click at or before t=10
  }

  test("asOfForward picks smallest right time >= left time, ties by smallest tie id") {
    val left = Seq((1L, 100L, "p1"), (1L, 50L, "p2"), (2L, 12L, "p3"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 40L, 900L), (1L, 100L, 901L), (1L, 100L, 902L), (1L, 120L, 903L),
      (2L, 11L, 904L)).toDF("k", "rt", "rid")
    val out = Joins.asOfForward(left, right, Seq("k"), "t", "rt", "rid")
      .collect().map(r => (r.getAs[String]("name"), Option(r.getAs[Any]("r_rid")))).toMap
    assert(out("p1").contains(901L)) // rt=100 >= 100, tie → SMALLER rid
    assert(out("p2").contains(901L)) // earliest at-or-after 50 is rt=100, smaller tie
    assert(out("p3").isEmpty)        // nothing at or after t=12 for key 2
  }

  test("typed secondarySort streams values in sorted order per group") {
    val ds = Seq((1, 30, "c"), (1, 10, "a"), (1, 20, "b"), (2, 5, "z")).toDS()
    val out = Sorts.secondarySort(ds, (t: (Int, Int, String)) => t._1, Seq(col("_2"))) {
      (k, it) => Iterator(k -> it.map(_._3).mkString(","))
    }.collect().toMap
    assert(out == Map(1 -> "a,b,c", 2 -> "z"))
  }

  test("columnar sortedGroupList equals typed secondary sort") {
    val ds = Seq((1, 30, "c"), (1, 10, "a"), (1, 20, "b"), (2, 5, "z")).toDS()
      .toDF("k", "o", "p")
    val out = Sorts.sortedGroupList(ds, Seq(col("k")), Seq(col("o")), col("p"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).mkString(",")).toMap
    assert(out == Map(1 -> "a,b,c", 2 -> "z"))
  }

  test("topKPerGroup takes k per group with deterministic tiebreak") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 5.0), ("b", 4, 1.0))
      .toDF("g", "id", "v")
    val out = Sorts.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc, col("id").asc), 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("a", 1), ("a", 2), ("b", 4)))
  }

  test("global topK is a true limit-k of the total order") {
    val df = (1 to 100).map(i => (i, (i * 37 % 100).toDouble)).toDF("id", "v")
    val got = Sorts.topK(df, Seq(col("v").desc, col("id").asc), 5)
      .collect().map(_.getInt(0)).toSeq
    val exp = (1 to 100).map(i => (i, (i * 37 % 100).toDouble))
      .sortBy { case (id, v) => (-v, id) }.take(5).map(_._1)
    assert(got == exp)
  }

  test("globalOrderIndex assigns the exact 0..n-1 total-order positions, no global window") {
    // keys deliberately non-contiguous and shuffled relative to insertion
    val rows = (1 to 5000).map(i => ((i * 2654435761L) % 100003L, i))
    val df = rows.toDF("k", "payload").repartition(7)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (got, release1) = Sorts.globalOrderIndex(df, Seq(col("k")), posAlias = "pos")
    val collected = got.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val exp = rows.map(_._1).distinct.sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(collected.size == rows.map(_._1).distinct.size)
    assert(collected == exp)
    // determinism across runs with GENUINELY fresh range sampling: release
    // the first run's pinned snapshot first, so the rerun below samples its
    // own boundaries over its own snapshot
    val firstRun = spark.sparkContext.getPersistentRDDs.keySet -- before
    release1()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (spark.sparkContext.getPersistentRDDs.keySet.intersect(firstRun).nonEmpty
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(firstRun).isEmpty,
      "first run's pinned cache not released — the rerun below would be vacuous")
    val again = Sorts.globalOrderIndex(df, Seq(col("k")), posAlias = "pos")._1
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(again == exp)
    // the scale property: no unpartitioned window anywhere in the plan —
    // the single bounded window is the per-partition-count prefix (numParts
    // rows); every row-level window is partitioned by __pid
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    got.queryExecution.optimizedPlan.foreach {
      case w: LWindow if w.partitionSpec.isEmpty =>
        // the only unpartitioned window allowed is the per-partition-count
        // prefix sum: its frame is the __pid aggregate — one row per
        // shuffle partition, bounded by the configured parallelism
        val agg = w.child.collectFirst { case a: Aggregate => a }
        assert(agg.exists(_.groupingExpressions.exists(_.toString.contains("__pid"))),
          s"unbounded unpartitioned window:\n${w.treeString}")
      case _ =>
    }
  }

  test("md5-keyed epoch shuffle: same epoch reproduces, different epoch permutes") {
    val seqs = (0L to 400L).toDF("seq_id")
    def perm(epoch: Int): Seq[(Long, Long)] = {
      val keyed = seqs.withColumn("k",
        md5(concat(lit(s"epoch-$epoch:"), col("seq_id").cast("string")).cast("binary")))
      val (out, release) = Sorts.globalOrderIndex(keyed, Seq(col("k")), "pos")
      try out.collect().map(r => r.getLong(0) -> r.getLong(2)).sortBy(_._1).toSeq
      finally release()
    }
    val e0 = perm(0); val e0again = perm(0); val e1 = perm(1)
    assert(e0 == e0again, "same epoch must reproduce the permutation exactly")
    assert(e0 != e1, "a different epoch constant must reshuffle")
    // both are true permutations of 0..n-1
    Seq(e0, e1).foreach { p =>
      assert(p.map(_._2).sorted == (0L to 400L).toSeq)
    }
  }

  test("rangeJoin equals naive join on randomized instances (seeded fuzz)") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      val w = 1L << rnd.nextInt(6) // bucket widths 1..32
      val pts = Seq.fill(60)(rnd.nextLong() % 1000L).toDF("p")
      val ivs = Seq.fill(25) {
        val lo = rnd.nextLong() % 1000L
        (lo, lo + rnd.nextInt(120))
      }.toDF("lo", "hi")
      val got = Joins.rangeJoin(pts, "p", ivs, "lo", "hi", w)
        .collect().map(_.toSeq).toSet
      val naive = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
        .collect().map(_.toSeq).toSet
      assert(got == naive, s"trial $trial width $w")
    }
  }

  test("rangeJoin narrow-point guard spreads by (bucket, point) under a broadcast window side, bucket alone otherwise") {
    // one wide bucket over every point: with __b alone the whole explode
    // hashes into ONE task however many shuffle partitions the session has
    val pts = (0L until 50L).toDF("p")
    val ivs = Seq((0L, 49L), (10L, 20L)).toDF("lo", "hi")
    def spreadKeys(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.partitionExpressions.length
      }
    // window side under the broadcast threshold: no co-partitioning to
    // protect, so the guard must spread by BOTH keys (full fan-out even
    // with one distinct bucket)
    val broad = Joins.rangeJoin(pts, "p", ivs, "lo", "hi", bucketWidth = 1000)
    assert(spreadKeys(broad) == Seq(2),
      s"broadcast window side must spread by (bucket, point): ${spreadKeys(broad)}")
    // ...and the WINDOW side must be the build side: left to its size
    // economics Spark broadcasts the smaller 1-column point side
    // (BuildLeft), which streams the whole explode through the window
    // side's AQE-coalesced partitions — the hint pins BuildRight so the
    // explosion streams on the spread point side
    assert(broad.queryExecution.executedPlan.toString.contains("BuildRight"),
      "the window side must be hinted broadcast (BuildRight)")
    // broadcast disabled: the window side shuffles on the bucket key, and
    // only a subset-keyed left exchange avoids a second one — __b alone
    val naive = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .collect().map(_.toSeq).toSet
    assert(broad.collect().map(_.toSeq).toSet == naive)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = Joins.rangeJoin(pts, "p", ivs, "lo", "hi", bucketWidth = 1000)
      assert(spreadKeys(shuffled) == Seq(1),
        s"non-broadcast window side must keep the co-partitionable bucket key: ${spreadKeys(shuffled)}")
      assert(shuffled.collect().map(_.toSeq).toSet == naive,
        "spread-key choice must never change rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("rangeJoin matches naive between-join, incl. negatives and equi-keys") {
    val points = Seq((1, -95L), (1, -10L), (1, 0L), (1, 7L), (2, 7L), (1, 211L), (2, 500L))
      .toDF("g", "p")
    // Dirty rows go straight into the operator: one mildly inverted interval
    // and one sentinel-style inversion (lo=1e12, hi=0) whose naive sequence()
    // would be a ~1e11-element descending array. rangeJoin must guard these
    // itself — no pre-filtering here.
    val intervals = Seq((1, -100L, -90L), (1, -5L, 8L), (2, 5L, 9L), (1, 200L, 220L),
        (2, 490L, 480L), (1, 1000000000000L, 0L))
      .toDF("g", "lo", "hi")
    val got = Joins.rangeJoin(points, "p", intervals,
        "lo", "hi", bucketWidth = 7, keys = Seq("g"))
      .select("g", "p", "lo", "hi").collect().map(_.toSeq).toSet
    val naive = points.as("l").join(intervals.as("r"),
        col("l.g") === col("r.g") && col("p") >= col("lo") && col("p") <= col("hi"))
      .select(col("l.g"), col("p"), col("lo"), col("hi")).collect().map(_.toSeq).toSet
    assert(got == naive && got.nonEmpty)
    // without the equi-key, group 2's points can match group 1's intervals
    val keyless = Joins.rangeJoin(points.select("p"), "p",
        intervals.select("lo", "hi"), "lo", "hi", 100)
      .collect().map(_.toSeq).toSet
    val naiveKeyless = points.select("p").join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "lo", "hi").collect().map(_.toSeq).toSet
    assert(keyless == naiveKeyless)
  }

  test("rangeJoin survives null bounds (BETWEEN never matches on null)") {
    val points = Seq(5L, 50L).toDF("p")
    val intervals = Seq((Some(0L), Some(10L)), (None, Some(100L)), (Some(0L), None))
      .toDF("lo", "hi")
    val got = Joins.rangeJoin(points, "p", intervals, "lo", "hi", 8)
      .collect().map(_.toSeq).toSet
    assert(got == Set(Seq(5L, 0L, 10L)))
  }
}
