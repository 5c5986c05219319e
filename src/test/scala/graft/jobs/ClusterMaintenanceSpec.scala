package graft.jobs

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class ClusterMaintenanceSpec extends SparkSpec {

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.select("id", "cluster_id", "cluster_size", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

  test("foldBatch over ascending batches equals the full pruned build; replay is idempotent; retention keeps two versions") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    def batch(w: Int) = emb.filter(
      col("vec_id") >= (maxId + 1) * w / 3 && col("vec_id") < (maxId + 1) * (w + 1) / 3)

    val root = java.nio.file.Files.createTempDirectory("cmaint").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    ClusterMaintenance.foldBatch(batch(0), 0, state, corpus, "vec_id", "embedding", cfg)
    ClusterMaintenance.foldBatch(batch(1), 1, state, corpus, "vec_id", "embedding", cfg)
    // REPLAY of batch 1 (the crash-recovery path): keyed overwrites make
    // the second invocation rewrite identical state, not corrupt it
    ClusterMaintenance.foldBatch(batch(1), 1, state, corpus, "vec_id", "embedding", cfg)
    ClusterMaintenance.foldBatch(batch(2), 2, state, corpus, "vec_id", "embedding", cfg)

    val got = rows(ClusterMaintenance.latestAssignment(spark, state))
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(got == full,
      s"incremental service diverged from the full pruned build (${got.size} vs ${full.size})")

    // delta layout (default snapshotEvery=8): fold 0 anchors the snapshot,
    // folds 1/2 wrote batch-proportional deltas (fold 1's REPLAY above went
    // through the delta path — keyed overwrite of d=1), nothing swept yet
    val versions = new java.io.File(state).listFiles()
      .map(_.getName).filter(n => n.startsWith("v=") || n.startsWith("d="))
      .sorted.toSeq
    assert(versions == Seq("d=1", "d=2", "v=0"), s"unexpected versions: $versions")
    // the operator-facing status mirror: head fold resolved through the
    // snapshot + delta chain, committed dirs only, no compaction yet at
    // the default compactEvery=8 over three folds
    val st = ClusterMaintenance.status(spark, state, corpus)
    assert(st == ClusterMaintenance.Status(headFold = 2, snapshots = Seq(0),
      deltas = Seq(1, 2), corpusGeneration = None, corpusBatches = Seq(0, 1, 2),
      rebuildInProgress = false,
      configStamp = Some("threshold=0.35,planes=4,dim=64,probe=1,tables=16")),
      s"unexpected service status: $st")
  }

  test("delta-state cadence: snapshots + deltas reconstruct exactly; retention bounds the dirs; snapshotEvery=1 restores the legacy layout") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 120)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    def foldAll(snapEvery: Int): (Seq[Set[(Long, Long, Long, Int)]], Seq[String]) = {
      val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
        dim = 64, probeRadius = 1, numTables = 16, snapshotEvery = snapEvery)
      val root = java.nio.file.Files.createTempDirectory("cmaint_ds").toString
      val perFold = (0 until 6).map { w =>
        ClusterMaintenance.foldBatch(batch(w), w.toLong,
          s"$root/state", s"$root/corpus", "vec_id", "embedding", cfg)
        rows(ClusterMaintenance.latestAssignment(spark, s"$root/state"))
      }
      val dirs = new java.io.File(s"$root/state").listFiles()
        .map(_.getName).filter(n => n.startsWith("v=") || n.startsWith("d="))
        .sorted.toSeq
      (perFold, dirs)
    }
    val (deltaSeq, deltaDirs) = foldAll(snapEvery = 2)
    val (legacySeq, legacyDirs) = foldAll(snapEvery = 1)
    // the reconstruction must be right at EVERY fold, not just the last —
    // the legacy cadence (a full snapshot per fold) is the ground truth
    // the delta layout's (snapshot, deltas) merge must reproduce at each
    // point of the trajectory, whatever mix of tiers is on disk
    (0 until 6).foreach { w =>
      assert(deltaSeq(w) == legacySeq(w),
        s"delta-state reconstruction diverged from legacy at fold $w")
    }
    val (delta, legacy) = (deltaSeq.last, legacySeq.last)
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(delta == full, "delta-state reconstruction diverged from the full build")
    assert(legacy == full, "legacy snapshot-every-fold state diverged from the full build")
    // snapshotEvery=2 over folds 0..5: snapshots at 0/2/4, deltas between;
    // retention keeps the newest snapshot needed for replay plus its chain
    assert(deltaDirs == Seq("d=5", "v=4"), s"unexpected delta-state dirs: $deltaDirs")
    // snapshotEvery=1 is exactly the pre-delta layout: two full versions
    assert(legacyDirs == Seq("v=4", "v=5"), s"unexpected legacy dirs: $legacyDirs")
  }

  test("latestAssignment ignores a torn newest delta and resolves to the last complete fold") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 40)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    val root = java.nio.file.Files.createTempDirectory("cmaint_torn_d").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    ClusterMaintenance.foldBatch(batch(0), 0, state, corpus, "vec_id", "embedding", cfg)
    val afterFold0 = rows(ClusterMaintenance.latestAssignment(spark, state))
    ClusterMaintenance.foldBatch(batch(1), 1, state, corpus, "vec_id", "embedding", cfg)
    // tear fold 1's delta the way a crash mid-overwrite does (no _SUCCESS):
    // the reader must resolve to fold 0's snapshot, not merge torn rows
    assert(new java.io.File(s"$state/d=1/_SUCCESS").delete(),
      "premise: fold 1 wrote the delta d=1")
    assert(rows(ClusterMaintenance.latestAssignment(spark, state)) == afterFold0,
      "a torn delta leaked into the reconstructed assignment")
    // status reports the head fold READERS resolve, not the torn write
    assert(ClusterMaintenance.status(spark, state, corpus).headFold == 0,
      "status reported a torn fold as the head")
  }

  test("latestAssignment ignores a torn newest SNAPSHOT and resolves through the prior snapshot + delta chain") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 60)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    // snapshotEvery=2: fold 0 → v=0, fold 1 → d=1, fold 2 → v=2
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16, snapshotEvery = 2)
    val root = java.nio.file.Files.createTempDirectory("cmaint_torn_s").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    ClusterMaintenance.foldBatch(batch(0), 0, state, corpus, "vec_id", "embedding", cfg)
    ClusterMaintenance.foldBatch(batch(1), 1, state, corpus, "vec_id", "embedding", cfg)
    val afterFold1 = rows(ClusterMaintenance.latestAssignment(spark, state))
    ClusterMaintenance.foldBatch(batch(2), 2, state, corpus, "vec_id", "embedding", cfg)
    // tear fold 2's snapshot: the reader must fall back to the previous
    // snapshot and walk its committed deltas — fold 1's state, exactly
    assert(new java.io.File(s"$state/v=2/_SUCCESS").delete(),
      "premise: fold 2 wrote the snapshot v=2")
    assert(rows(ClusterMaintenance.latestAssignment(spark, state)) == afterFold1,
      "a torn snapshot did not resolve to the prior snapshot + delta chain")
  }

  test("reconstructAssignment with a finite upTo errors clearly on a broken delta chain instead of serving stale state") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 60)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    val root = java.nio.file.Files.createTempDirectory("cmaint_gap").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 3).foreach(w =>
      ClusterMaintenance.foldBatch(batch(w), w, state, corpus, "vec_id", "embedding", cfg))
    // destroy a MID-chain delta wholesale (lost state, not a torn newest
    // write — a crash can only tear the newest fold). A fold's read-prior
    // path (finite upTo) must fail loudly: silently resolving to the
    // older prefix would fold batch 3 onto batch-1 state and drop batch 2.
    val d1 = new java.io.File(s"$state/d=1")
    d1.listFiles().foreach(_.delete()); assert(d1.delete(), "premise: d=1 removed")
    val e = intercept[IllegalArgumentException] {
      ClusterMaintenance.reconstructAssignment(spark, state, upTo = 2L)
    }
    assert(e.getMessage.contains("no complete chain"),
      s"gap error message unhelpful: ${e.getMessage}")
  }

  test("corpus compaction mid-sequence changes nothing and bounds the dir count") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 120)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16, compactEvery = 2)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val root = java.nio.file.Files.createTempDirectory("cmaint_cpt").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 6).foreach { w =>
      ClusterMaintenance.foldBatch(batch(w), w.toLong, state, corpus,
        "vec_id", "embedding", cfg)
    }
    val got = rows(ClusterMaintenance.latestAssignment(spark, state))
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(got == full,
      s"compacted service diverged from the full build (${got.size} vs ${full.size})")
    // compactEvery=2 over 6 folds: gen=1 at fold 2 (superseded), gen=3 at
    // fold 4; folds 5 leaves b=4,b=5 pending — bounded by compactEvery+1
    // dirs total, never the 6 b= dirs an uncompacted service accumulates
    val cdirs = new java.io.File(corpus).listFiles()
      .map(_.getName).filter(n => n.startsWith("b=") || n.startsWith("gen=")).sorted.toSeq
    assert(cdirs == Seq("b=4", "b=5", "gen=3"), s"unexpected corpus dirs: $cdirs")
  }

  test("a corpus dir holding legacy bucket-cache entries folds, compacts and rebuilds like a clean one") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 100)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16, compactEvery = 2)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    import spark.implicits._
    val tomb = (0L until 80L).filter(_ % 7 == 0).toDF("vec_id")
    // Earlier versions kept per-batch LSH bucket rows (id, t, sig) in
    // `bk=N`, their compacted `bkgen=G` and a `_BKCONF` geometry stamp
    // beside the corpus. Such entries, committed and naming ids the
    // takedown retracts, must change nothing: the folds, the compaction
    // (gen=1 at fold 2) and the rebuild (gen=3) read exact name prefixes,
    // and the first compaction sweeps them.
    val legacyNames = (0 to 4).map(i => s"bk=$i") ++ Seq("bkgen=1", "bkgen=3", "_BKCONF")
    def run(legacy: Boolean) = {
      val root = java.nio.file.Files.createTempDirectory("cmaint_legacy").toString
      val (state, corpus) = (s"$root/state", s"$root/corpus")
      if (legacy) {
        val bucketRows = spark.range(0, 100).select(col("id"),
          (col("id") % 16).cast("int").as("t"), (col("id") * 31).as("sig"))
        legacyNames.filter(_.contains("=")).foreach(nm =>
          bucketRows.write.parquet(s"$corpus/$nm"))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$corpus/_BKCONF"),
          "planes=4,dim=64,tables=16\n".getBytes("UTF-8"))
      }
      def observe() = (rows(ClusterMaintenance.latestAssignment(spark, state)),
        ClusterMaintenance.status(spark, state, corpus),
        new java.io.File(corpus).list().toSet)
      val folded = (0 until 4).map { w =>
        ClusterMaintenance.foldBatch(batch(w), w.toLong, state, corpus,
          "vec_id", "embedding", cfg)
        observe()
      }
      ClusterMaintenance.rebuildWithoutTombstones(spark, state, corpus, tomb,
        "vec_id", cfg)
      val rebuilt = observe()
      ClusterMaintenance.foldBatch(batch(4), 4L, state, corpus, "vec_id", "embedding", cfg)
      val resumed = observe()
      folded :+ rebuilt :+ resumed
    }
    val clean = run(legacy = false)
    val legacy = run(legacy = true)
    clean.zip(legacy).zipWithIndex.foreach { case ((c, l), step) =>
      assert(l._1 == c._1, s"step $step: assignment diverged from the clean dir")
      assert(l._2 == c._2, s"step $step: status diverged from the clean dir: ${l._2} vs ${c._2}")
    }
    assert(legacyNames.forall(legacy.head._3.contains),
      s"premise: the legacy entries sat beside fold 0's corpus: ${legacy.head._3}")
    // gone after the first compaction (fold 2 is step 2) and never back
    legacy.drop(2).zipWithIndex.foreach { case (l, i) =>
      assert(!legacyNames.exists(l._3.contains),
        s"step ${i + 2}: legacy entries still beside the corpus: ${l._3}")
    }
    val retained = emb.filter(col("vec_id") >= 80 || col("vec_id") % 7 =!= 0)
    val full = rows(Dedup.componentAssignments(
      retained.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(retained, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(legacy.last._1 == full, "the legacy-layout service diverged from the full pruned build")
  }

  test("tombstone rebuild == from-scratch on the filtered corpus; the stream resumes exactly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 80)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16, compactEvery = 2)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val root = java.nio.file.Files.createTempDirectory("cmaint_tomb").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 3).foreach(w => ClusterMaintenance.foldBatch(batch(w), w.toLong,
      state, corpus, "vec_id", "embedding", cfg))
    // takedown: every id divisible by 7 among the ingested 0..59
    import spark.implicits._
    val tomb = (0L until 60L).filter(_ % 7 == 0).toDF("vec_id")
    val retained = emb.filter(col("vec_id") < 60 && col("vec_id") % 7 =!= 0)
    val rebuilt = rows(ClusterMaintenance.rebuildWithoutTombstones(
      spark, state, corpus, tomb, "vec_id", cfg))
    val fromScratch = rows(Dedup.componentAssignments(
      retained.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(retained, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(rebuilt == fromScratch,
      s"rebuild diverged from the filtered from-scratch build (${rebuilt.size} vs ${fromScratch.size})")
    // no tombstoned id survives in the assignment
    assert(!rebuilt.exists(_._1 % 7 == 0), "tombstoned ids leaked into the rebuilt assignment")
    // the corpus collapsed to the single filtered generation
    val cdirs = new java.io.File(corpus).listFiles()
      .map(_.getName).filter(n => n.startsWith("b=") || n.startsWith("gen=")).sorted.toSeq
    assert(cdirs == Seq("gen=2"), s"unexpected corpus dirs after rebuild: $cdirs")
    // the rebuild found the HEAD fold through the delta dirs (state was
    // v=0/d=1/d=2 — rebuilding at v=0 would have dropped batches 1/2) and
    // collapsed the state to the single rebuilt snapshot
    val sdirs = new java.io.File(state).listFiles()
      .map(_.getName).filter(n => n.startsWith("v=") || n.startsWith("d=")).sorted.toSeq
    assert(sdirs == Seq("v=2"), s"unexpected state dirs after rebuild: $sdirs")
    // the stream resumes: the next fold over the rebuilt state equals the
    // full pruned build over (retained ∪ new batch) — the incremental
    // theorem on the filtered corpus
    ClusterMaintenance.foldBatch(batch(3), 3L, state, corpus, "vec_id", "embedding", cfg)
    val resumed = rows(ClusterMaintenance.latestAssignment(spark, state))
    val union = retained.unionByName(batch(3))
    val fullUnion = rows(Dedup.componentAssignments(
      union.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(union, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(resumed == fullUnion, "post-rebuild fold diverged from the filtered full build")

    // CRASH-WINDOW convergence: simulate a SECOND takedown dying between
    // its aside and its swap-in — the corpus generation sits at
    // .gen=N.old, nothing committed (the state a delete-then-rename
    // protocol would have simply LOST). Re-running the rebuild must
    // restore the aside and converge, not fail with "no corpus state".
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    new java.io.File(corpus).listFiles().map(_.getName)
      .filter(_.startsWith("gen=")).foreach { nm =>
        assert(fs.rename(new org.apache.hadoop.fs.Path(s"$corpus/$nm"),
          new org.apache.hadoop.fs.Path(s"$corpus/.$nm.old")), s"premise: aside $nm")
      }
    val tomb2 = (0L until 80L).filter(i => i % 7 == 0 || i % 11 == 0).toDF("vec_id")
    val retained2 = union.filter(col("vec_id") % 7 =!= 0 && col("vec_id") % 11 =!= 0)
    val rebuilt2 = rows(ClusterMaintenance.rebuildWithoutTombstones(
      spark, state, corpus, tomb2, "vec_id", cfg))
    val fromScratch2 = rows(Dedup.componentAssignments(
      retained2.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(retained2, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(rebuilt2 == fromScratch2,
      "rebuild after an interrupted aside swap diverged from the filtered build")
  }

  test("latestAssignment skips torn (uncommitted) versions and errors clearly on empty state") {
    val root = java.nio.file.Files.createTempDirectory("cmaint_torn").toString
    val state = s"$root/state"
    // empty state dir: a service restart before any fold commits must get
    // a clear error, not an empty-collection UnsupportedOperationException
    new java.io.File(state).mkdirs()
    val err = intercept[IllegalArgumentException] {
      ClusterMaintenance.latestAssignment(spark, state)
    }
    assert(err.getMessage.contains("no committed assignment version"))
    // one committed version + one TORN overwrite (dir without _SUCCESS —
    // the crash-mid-write shape): the reader must resolve to the committed one
    import spark.implicits._
    Seq((1L, 1L, 2L, 1), (2L, 1L, 2L, 0))
      .toDF("id", "cluster_id", "cluster_size", "is_canonical")
      .write.parquet(s"$state/v=0")
    val torn = new java.io.File(s"$state/v=1")
    torn.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$state/v=1/part-00000.parquet"),
      Array[Byte](1, 2, 3)) // garbage a parquet reader would choke on
    val got = ClusterMaintenance.latestAssignment(spark, state)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), "latestAssignment read a torn version")
  }

  test("a changed LSH geometry fails fast against the _CLCONF stamp; the rebuild under the new geometry lets the next fold land") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 60)
    val cfgA = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 4)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val root = java.nio.file.Files.createTempDirectory("cmaint_geom").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 2).foreach(w => ClusterMaintenance.foldBatch(batch(w), w.toLong,
      state, corpus, "vec_id", "embedding", cfgA))
    // geometry is part of the STATE's semantic fingerprint (`_CLCONF`): a
    // fold under cfgB refuses up front — the geometry decides which
    // candidate pairs entered the accumulated assignment
    val cfgB = cfgA.copy(numTables = 8)
    intercept[IllegalStateException] {
      ClusterMaintenance.foldBatch(batch(2), 2L, state, corpus, "vec_id", "embedding", cfgB)
    }
    // the prescribed path to the new geometry is the rebuild recompute,
    // which re-stamps; folds then proceed under B on the rebuilt state
    import spark.implicits._
    ClusterMaintenance.rebuildWithoutTombstones(spark, state, corpus,
      Seq.empty[Long].toDF("vec_id"), "vec_id", cfgB)
    assert(ClusterMaintenance.status(spark, state, corpus).configStamp
      .contains("threshold=0.35,planes=4,dim=64,probe=1,tables=8"),
      "the rebuild must re-stamp the new geometry")
    ClusterMaintenance.foldBatch(batch(2), 2L, state, corpus, "vec_id", "embedding", cfgB)
    val full = rows(Dedup.componentAssignments(emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", threshold = 0.35,
        numPlanes = 4, dim = 64, probeRadius = 1, numTables = 8),
      "id_a", "id_b"))
    assert(rows(ClusterMaintenance.latestAssignment(spark, state)) == full,
      "the fold after the geometry-change rebuild diverged from the full build under B")
  }

  test("a changed threshold fails fast against the _CLCONF stamp; the prescribed rebuild recomputes and re-stamps") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 80)
    val cfgA = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    def fullUnder(cfg: ClusterMaintenance.Config, upTo: Long) = {
      val e = emb.filter(col("vec_id") < upTo)
      rows(Dedup.componentAssignments(e.select(col("vec_id")), "vec_id",
        Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
          threshold = cfg.threshold, numPlanes = cfg.numPlanes, dim = cfg.dim,
          probeRadius = cfg.probeRadius, numTables = cfg.numTables),
        "id_a", "id_b"))
    }
    val root = java.nio.file.Files.createTempDirectory("cmaint_clconf").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 2).foreach(w => ClusterMaintenance.foldBatch(batch(w), w.toLong,
      state, corpus, "vec_id", "embedding", cfgA))
    assert(new java.io.File(s"$state/_CLCONF").exists(),
      "the first fold must stamp the semantic config beside the state")
    // a service restarted with a TIGHTER threshold: without the stamp the
    // accumulated assignment keeps every looser-threshold cluster forever —
    // silent permanent drift from the full-recompute identity. It must
    // fail loudly instead, naming both configs and the rebuild remedy
    // (never sweeping: the state is the record).
    val cfgT = cfgA.copy(threshold = 0.45)
    val ex = intercept[IllegalStateException] {
      ClusterMaintenance.foldBatch(batch(2), 2L, state, corpus, "vec_id", "embedding", cfgT)
    }
    assert(ex.getMessage.contains("threshold=0.35") &&
      ex.getMessage.contains("threshold=0.45") &&
      ex.getMessage.contains("rebuildWithoutTombstones"),
      s"the mismatch must name both configs and the remedy: ${ex.getMessage}")
    // the refused fold must not have touched the state: the original-config
    // service folds on exactly as before
    ClusterMaintenance.foldBatch(batch(2), 2L, state, corpus, "vec_id", "embedding", cfgA)
    assert(rows(ClusterMaintenance.latestAssignment(spark, state)) == fullUnder(cfgA, 60L),
      "original-config fold after the refusal diverged")
    // the prescribed remedy: rebuildWithoutTombstones with NO tombstones is
    // the full recompute of the retained corpus under the new config, and
    // the one writer allowed to move the stamp; a fresh new-config fold
    // then lands and matches the full new-config recompute
    import spark.implicits._
    ClusterMaintenance.rebuildWithoutTombstones(spark, state, corpus,
      Seq.empty[Long].toDF("vec_id"), "vec_id", cfgT)
    // the operator's pre-restart check: status reports the stamp the
    // rebuild moved
    assert(ClusterMaintenance.status(spark, state, corpus).configStamp
      .contains("threshold=0.45,planes=4,dim=64,probe=1,tables=16"),
      "status must report the re-stamped semantic config")
    ClusterMaintenance.foldBatch(batch(3), 3L, state, corpus, "vec_id", "embedding", cfgT)
    assert(rows(ClusterMaintenance.latestAssignment(spark, state)) == fullUnder(cfgT, 80L),
      "new-config fold after the prescribed rebuild diverged from the recompute")
    // ...and the stamp flipped: the OLD config is now the mismatch
    val ex2 = intercept[IllegalStateException] {
      ClusterMaintenance.foldBatch(batch(3), 4L, state, corpus, "vec_id", "embedding", cfgA)
    }
    assert(ex2.getMessage.contains("threshold=0.45") &&
      ex2.getMessage.contains("threshold=0.35"),
      s"the re-stamp must now refuse the old config: ${ex2.getMessage}")
    // pre-stamp upgrade window: a layout from before the stamp existed
    // (stamp deleted, state present) ADOPTS the configured fingerprint —
    // the dirs' config is unknowable after the fact, so the fold records
    // the operator's standing declaration and every LATER change is caught
    assert(new java.io.File(s"$state/_CLCONF").delete())
    ClusterMaintenance.foldBatch(batch(3), 4L, state, corpus, "vec_id", "embedding", cfgT)
    assert(new java.io.File(s"$state/_CLCONF").exists(),
      "a pre-stamp layout must be adopted and stamped on the next fold")
  }

  test("foldBatch fails fast under a rebuild lease; re-running the rebuild releases it and folds resume") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 40)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val root = java.nio.file.Files.createTempDirectory("cmaint_lease").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    ClusterMaintenance.foldBatch(batch(0), 0L, state, corpus, "vec_id", "embedding", cfg)
    // a rebuild that crashed mid-run leaves exactly this: the lease held
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$state/_REBUILD"),
      "rebuild in progress\n".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      ClusterMaintenance.foldBatch(batch(1), 1L, state, corpus, "vec_id", "embedding", cfg)
    }
    assert(ex.getMessage.contains("_REBUILD") && ex.getMessage.contains("re-run"),
      s"the fold must fail fast with the operator remedy, got: ${ex.getMessage}")
    // the held lease is an operator's incident view: status must show it
    assert(ClusterMaintenance.status(spark, state, corpus).rebuildInProgress,
      "status must report the held rebuild lease")
    import spark.implicits._
    val noTomb = Seq.empty[Long].toDF("vec_id")
    // the lease is EXCLUSIVE: a rebuild started without the resume flag
    // while it is held must fail loudly, not silently take over
    val ex2 = intercept[IllegalStateException] {
      ClusterMaintenance.rebuildWithoutTombstones(spark, state, corpus, noTomb, "vec_id", cfg)
    }
    assert(ex2.getMessage.contains("already held"),
      s"concurrent rebuild must fail loudly: ${ex2.getMessage}")
    // the prescribed recovery: re-run the rebuild AS the explicit
    // crashed-rebuild resume; it converges and RELEASES the lease
    ClusterMaintenance.rebuildWithoutTombstones(spark, state, corpus, noTomb, "vec_id", cfg,
      resumeCrashedRebuild = true)
    assert(!new java.io.File(s"$state/_REBUILD").exists(),
      "a completed rebuild must release the lease")
    assert(!ClusterMaintenance.status(spark, state, corpus).rebuildInProgress,
      "status must report the released lease")
    ClusterMaintenance.foldBatch(batch(1), 1L, state, corpus, "vec_id", "embedding", cfg)
    val got = rows(ClusterMaintenance.latestAssignment(spark, state))
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(got == full, "fold after the rebuild-release diverged from the full build")
  }

  test("rebuild fails loudly when a corpus batch dir is uncommitted instead of baking the loss into the generation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 40)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val root = java.nio.file.Files.createTempDirectory("cmaint_tornb").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 2).foreach(w => ClusterMaintenance.foldBatch(batch(w), w.toLong,
      state, corpus, "vec_id", "embedding", cfg))
    // fold 1 commits d=1 BEFORE b=1 — tear b=1 the way a crash between
    // those commits does (data present, no _SUCCESS). Rebuilding over it
    // would read a torn batch into gen=V and then sweep the original:
    // permanent silent loss of batch 1. The rebuild must refuse.
    assert(new java.io.File(s"$corpus/b=1/_SUCCESS").delete(),
      "premise: fold 1 committed b=1")
    import spark.implicits._
    val noTomb = Seq.empty[Long].toDF("vec_id")
    val ex = intercept[IllegalArgumentException] {
      ClusterMaintenance.rebuildWithoutTombstones(spark, state, corpus, noTomb, "vec_id", cfg)
    }
    assert(ex.getMessage.contains("b=1") && ex.getMessage.contains("replay"),
      s"the rebuild must name the missing dir and the remedy, got: ${ex.getMessage}")
    // the precondition failed BEFORE the lease was taken — folds not blocked
    assert(!new java.io.File(s"$state/_REBUILD").exists(),
      "a refused rebuild must not leave the lease held")
    // the prescribed repair: replay the crashed fold (idempotent keyed
    // overwrites re-commit b=1), after which the rebuild runs clean
    ClusterMaintenance.foldBatch(batch(1), 1L, state, corpus, "vec_id", "embedding", cfg)
    val rebuilt = rows(ClusterMaintenance.rebuildWithoutTombstones(
      spark, state, corpus, noTomb, "vec_id", cfg))
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(rebuilt == full, "post-repair rebuild diverged from the full build")
  }

  test("rebuild state-snapshot crash windows converge: the head snapshot swaps via aside, never overwritten in place") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 40)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val root = java.nio.file.Files.createTempDirectory("cmaint_vswap").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 2).foreach(w => ClusterMaintenance.foldBatch(batch(w), w.toLong,
      state, corpus, "vec_id", "embedding", cfg))
    import spark.implicits._
    val tomb = (0L until 40L).filter(_ % 7 == 0).toDF("vec_id")
    val retained = emb.filter(col("vec_id") % 7 =!= 0)
    val fromScratch = rows(Dedup.componentAssignments(
      retained.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(retained, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(rows(ClusterMaintenance.rebuildWithoutTombstones(
      spark, state, corpus, tomb, "vec_id", cfg)) == fromScratch)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window 1: the rebuild died between its state aside and its
    // swap-in — `.v=1.old` holds the ONLY committed assignment (the state
    // an in-place overwrite protocol would have simply destroyed, leaving
    // the re-run to throw "no committed assignment" with the lease held).
    // The re-run must restore the aside and converge.
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$state/v=1"),
      new org.apache.hadoop.fs.Path(s"$state/.v=1.old")), "premise: aside v=1")
    assert(rows(ClusterMaintenance.rebuildWithoutTombstones(
        spark, state, corpus, tomb, "vec_id", cfg)) == fromScratch,
      "re-run after a state-aside crash diverged")
    // crash window 2: the swap-in died mid-flight leaving a TORN v=1 (data,
    // no _SUCCESS) BESIDE the aside — the restore must clear the torn
    // destination rather than fail the rename against the occupied path
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$state/v=1"),
      new org.apache.hadoop.fs.Path(s"$state/.v=1.old")), "premise: aside v=1 again")
    assert(new java.io.File(s"$state/v=1").mkdirs())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$state/v=1/part-00000"),
      "torn".getBytes("UTF-8"))
    assert(rows(ClusterMaintenance.rebuildWithoutTombstones(
        spark, state, corpus, tomb, "vec_id", cfg)) == fromScratch,
      "re-run after a torn-destination state swap diverged")
    assert(!new java.io.File(s"$state/.v=1.old").exists(),
      "converged rebuild must discard the superseded state aside")
    assert(!new java.io.File(s"$state/_REBUILD").exists(),
      "converged rebuild must release the lease")
  }

  test("foldBatch fails fast on a torn prior corpus batch dir and converges after the replay") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 80)
    def batch(w: Int) = emb.filter(col("vec_id") >= w * 20 && col("vec_id") < (w + 1) * 20)
    val cfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    val root = java.nio.file.Files.createTempDirectory("cmaint_foldgate").toString
    val (state, corpus) = (s"$root/state", s"$root/corpus")
    (0 until 3).foreach(w => ClusterMaintenance.foldBatch(batch(w), w.toLong,
      state, corpus, "vec_id", "embedding", cfg))
    // fold 1 "crashed mid-write": corpus b=1 present, no _SUCCESS. Pre-fix,
    // fold 3 read it as EMPTY parquet — batch 1's vectors vanished from the
    // near-dup corpus side and the fold silently diverged from the
    // full-recompute identity; the gate must refuse naming the replay
    assert(new java.io.File(s"$corpus/b=1/_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      ClusterMaintenance.foldBatch(batch(3), 3L, state, corpus, "vec_id", "embedding", cfg)
    }
    assert(e.getMessage.contains("replay") && e.getMessage.contains("b=1"),
      s"fold must name the torn dir and the replay remedy: ${e.getMessage}")
    // replay fold 1 (keyed overwrite recommits b=1), then fold 3 lands and
    // the final assignment equals the full pruned build over everything
    ClusterMaintenance.foldBatch(batch(1), 1L, state, corpus, "vec_id", "embedding", cfg)
    ClusterMaintenance.foldBatch(batch(3), 3L, state, corpus, "vec_id", "embedding", cfg)
    val got = rows(ClusterMaintenance.latestAssignment(spark, state))
    val full = rows(Dedup.componentAssignments(
      emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16),
      "id_a", "id_b"))
    assert(got == full, "post-replay fold diverged from the full pruned build")
  }
}
