package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Direct unit gate on the SHARED commit/recovery protocol — the module
  * both services ride ([[StateProtocol]]). The service specs exercise
  * these rules end-to-end through folds and rebuilds; this spec pins the
  * primitives themselves, so a protocol edit that subtly changes a rule
  * fails here with the rule's name on it rather than three layers up. */
class StateProtocolSpec extends AnyFunSuite {

  private def withFs(test: (FileSystem, Path) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("stateproto").toString
    val p = new Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    test(fs, p)
  }

  private def mkCommitted(fs: FileSystem, dir: Path, name: String): Unit = {
    fs.mkdirs(new Path(dir, name))
    fs.create(new Path(dir, s"$name/_SUCCESS"), true).close()
  }

  test("numericSuffix accepts exactly prefix + digits and nothing else") {
    assert(StateProtocol.numericSuffix("gen=3", "gen=").contains(3L))
    assert(StateProtocol.numericSuffix("b=12", "b=").contains(12L))
    // foreign entries that merely share the prefix are skipped, not thrown on
    assert(StateProtocol.numericSuffix("gen=3.tmp", "gen=").isEmpty)
    assert(StateProtocol.numericSuffix("gen=", "gen=").isEmpty)
    assert(StateProtocol.numericSuffix("gen=-1", "gen=").isEmpty)
    assert(StateProtocol.numericSuffix("xgen=3", "gen=").isEmpty)
    assert(StateProtocol.numericSuffix("gen=3x", "gen=").isEmpty)
    // an all-digit tail longer than any Long (a foreign 20-digit name)
    // must be SKIPPED, not overflow toLong into an exception — the same
    // crash-out-of-a-sweep failure mode the digit check guards
    assert(StateProtocol.numericSuffix("gen=99999999999999999999", "gen=").isEmpty)
    // ...while every id the services actually write (≤ 18 digits) parses
    assert(StateProtocol.numericSuffix("gen=999999999999999999", "gen=")
      .contains(999999999999999999L))
  }

  test("ensureStamp: match is a lazy no-op, mismatch-over-state is surfaced, mismatch-over-empty re-stamps, missing adopts") {
    withFs { (fs, dir) =>
      fs.mkdirs(dir)
      // missing stamp ADOPTS the configured fingerprint (first fold /
      // pre-stamp upgrade) — without evaluating hasCommittedState
      assert(StateProtocol.ensureStamp(fs, dir, "_TESTCONF", "a=1",
        hasCommittedState = sys.error("must not evaluate on missing")).isEmpty)
      assert(StateProtocol.readStamp(fs, dir, "_TESTCONF").contains("a=1"))
      // matching stamp is a no-op, also without the state listing
      assert(StateProtocol.ensureStamp(fs, dir, "_TESTCONF", "a=1",
        hasCommittedState = sys.error("must not evaluate on match")).isEmpty)
      // mismatch over COMMITTED state: surfaced for the caller's
      // service-specific error, stamp left in place
      assert(StateProtocol.ensureStamp(fs, dir, "_TESTCONF", "a=2",
        hasCommittedState = true).contains("a=1"))
      assert(StateProtocol.readStamp(fs, dir, "_TESTCONF").contains("a=1"),
        "a surfaced mismatch must leave the held stamp in place")
      // mismatch over NO committed state: nothing recorded under the old
      // config to protect — re-stamps silently
      assert(StateProtocol.ensureStamp(fs, dir, "_TESTCONF", "a=2",
        hasCommittedState = false).isEmpty)
      assert(StateProtocol.readStamp(fs, dir, "_TESTCONF").contains("a=2"))
    }
  }

  test("committedDirs and latestGeneration see _SUCCESS-marked dirs only") {
    withFs { (fs, dir) =>
      mkCommitted(fs, dir, "gen=0")
      mkCommitted(fs, dir, "gen=2")
      fs.mkdirs(new Path(dir, "gen=3")) // torn: data dir, no marker
      fs.mkdirs(new Path(dir, "gen=4.tmp")) // foreign
      assert(StateProtocol.committedDirs(fs, dir, "gen=").sorted.toSeq == Seq(0L, 2L))
      assert(StateProtocol.latestGeneration(fs, dir, maxGen = Long.MaxValue).contains(2L))
      // the maxGen bound (a replaying fold must not see a generation at or
      // above its own batch id)
      assert(StateProtocol.latestGeneration(fs, dir, maxGen = 1L).contains(0L))
      assert(StateProtocol.latestGeneration(fs, dir, maxGen = -1L).isEmpty)
      // a dir that does not exist is empty state, not an error
      assert(StateProtocol.committedDirs(fs, new Path(dir, "nope"), "gen=").isEmpty)
    }
  }

  test("restoreAsides restores an orphaned aside and discards a superseded one") {
    withFs { (fs, dir) =>
      // orphaned: .gen=1.old exists, gen=1 does not — the crash window
      // where the aside holds the ONLY copy; must be renamed back
      mkCommitted(fs, dir, ".gen=1.old")
      // superseded: gen=2 committed AND its aside still present — the
      // aside is a leftover to discard
      mkCommitted(fs, dir, "gen=2")
      mkCommitted(fs, dir, ".gen=2.old")
      StateProtocol.restoreAsides(fs, dir, "gen=")
      assert(fs.exists(new Path(dir, "gen=1/_SUCCESS")), "orphaned aside not restored")
      assert(!fs.exists(new Path(dir, ".gen=1.old")))
      assert(fs.exists(new Path(dir, "gen=2/_SUCCESS")), "committed dir must survive")
      assert(!fs.exists(new Path(dir, ".gen=2.old")), "superseded aside not discarded")
      // torn destination: gen=3 exists WITHOUT its marker (a died swap-in)
      // while .gen=3.old holds the committed copy — the restore must clear
      // the torn dir, not fail the rename against the occupied path
      mkCommitted(fs, dir, ".gen=3.old")
      fs.mkdirs(new Path(dir, "gen=3"))
      fs.create(new Path(dir, "gen=3/part-0"), true).close()
      StateProtocol.restoreAsides(fs, dir, "gen=")
      assert(fs.exists(new Path(dir, "gen=3/_SUCCESS")),
        "aside not restored over the torn destination")
      assert(!fs.exists(new Path(dir, "gen=3/part-0")), "torn content must be cleared")
      assert(!fs.exists(new Path(dir, ".gen=3.old")))
    }
  }

  test("swapIn moves the committed dir aside before renaming the staged tmp in") {
    withFs { (fs, dir) =>
      mkCommitted(fs, dir, "gen=5")
      fs.mkdirs(new Path(dir, ".gen=5.rebuild"))
      fs.create(new Path(dir, ".gen=5.rebuild/part-0"), true).close()
      val fin = new Path(dir, "gen=5")
      val aside = new Path(dir, ".gen=5.old")
      StateProtocol.swapIn(fs, fin, aside, new Path(dir, ".gen=5.rebuild"), "test")
      assert(fs.exists(new Path(dir, "gen=5/part-0")), "staged content not swapped in")
      assert(fs.exists(new Path(dir, ".gen=5.old/_SUCCESS")),
        "old dir must be preserved aside, never destroyed")
      // first-time swap (no prior dir): plain rename, no aside created
      fs.mkdirs(new Path(dir, ".gen=6.rebuild"))
      StateProtocol.swapIn(fs, new Path(dir, "gen=6"), new Path(dir, ".gen=6.old"),
        new Path(dir, ".gen=6.rebuild"), "test")
      assert(fs.exists(new Path(dir, "gen=6")))
      assert(!fs.exists(new Path(dir, ".gen=6.old")))
    }
  }

  test("rebuild lease: acquire blocks folds, is exclusive, and releases clean") {
    withFs { (fs, dir) =>
      fs.mkdirs(dir)
      StateProtocol.requireNoRebuildLease(fs, dir, "test") // absent: no-op
      StateProtocol.acquireRebuildLease(fs, dir)
      val ex = intercept[IllegalArgumentException] {
        StateProtocol.requireNoRebuildLease(fs, dir, "test")
      }
      assert(ex.getMessage.contains("_REBUILD") && ex.getMessage.contains("re-run"),
        s"lease error must carry the remedy: ${ex.getMessage}")
      // EXCLUSIVE: a second rebuild acquiring while the lease is held
      // fails loudly (two interleaved sweep/swap windows) — it must not
      // silently overwrite and proceed
      val ex2 = intercept[IllegalStateException] {
        StateProtocol.acquireRebuildLease(fs, dir)
      }
      assert(ex2.getMessage.contains("already held") &&
        ex2.getMessage.contains("takeover"),
        s"concurrent-acquire error must carry the remedy: ${ex2.getMessage}")
      assert(fs.exists(StateProtocol.rebuildLeasePath(dir)),
        "a refused concurrent acquire must leave the held lease in place")
      // the crashed-rebuild re-run is the EXPLICIT takeover path
      StateProtocol.acquireRebuildLease(fs, dir, takeover = true)
      StateProtocol.releaseRebuildLease(fs, dir)
      StateProtocol.requireNoRebuildLease(fs, dir, "test") // released: no-op
      // takeover on an ABSENT lease is still a plain acquire
      StateProtocol.acquireRebuildLease(fs, dir, takeover = true)
      StateProtocol.releaseRebuildLease(fs, dir)
    }
  }

  test("sweepSuperseded removes covered dirs and retired derived entries, nothing else") {
    withFs { (fs, dir) =>
      def mkFile(name: String): Unit = fs.create(new Path(dir, name), true).close()
      // g = 2: batch dirs ≤ 2 and generations < 2 are covered by gen=2;
      // bucket tables, their compactions and stamp (cluster side) and
      // generation Bloom filters (span side) are retired at any id
      val gone = Seq("b=0", "b=2", "gen=1", "bk=0", "bk=7", "bkgen=3",
        "_BKCONF", "bloom=1.bin", "bloom=2.bin")
      // the covering generation, later batches, semantic stamps, the
      // lease, asides, a rebuild's staging dir and foreign names that
      // merely share a prefix with something swept
      val kept = Seq("gen=2", "b=3", "gen=3", "_CLCONF", "_GRAMCONF",
        "_REBUILD", ".gen=2.old", ".gen=2.rebuild", "gen=3.tmp", "b=1.tmp",
        "bk=", "bkgen=1.tmp", "bloom=2.bin.tmp", ".bloom=2.bin.tmp",
        "bloom=2", "_BKCONF.bak")
      (gone ++ kept).foreach { nm =>
        if (nm.startsWith("_") || nm.contains("bloom")) mkFile(nm)
        else mkCommitted(fs, dir, nm)
      }
      StateProtocol.sweepSuperseded(fs, dir, 2L)
      val left = fs.listStatus(dir).map(_.getPath.getName)
        .filterNot(_.endsWith(".crc")).toSet
      assert(left == kept.toSet,
        s"swept ${kept.toSet -- left}, left ${left -- kept.toSet}")
    }
  }

  test("requireCommitted distinguishes a TORN dir from a never-folded MISSING one") {
    withFs { (fs, dir) =>
      mkCommitted(fs, dir, "b=0")
      // torn: the dir exists but its crash left no _SUCCESS — the remedy
      // is the caller-supplied replay prescription
      fs.mkdirs(new Path(dir, "b=1"))
      val torn = intercept[IllegalArgumentException] {
        StateProtocol.requireCommitted(fs,
          Seq(s"$dir/b=0", s"$dir/b=1"), "spec", "replay fold 1")
      }
      assert(torn.getMessage.contains("TORN") &&
        torn.getMessage.contains("replay fold 1") &&
        torn.getMessage.contains("b=1"),
        s"a torn dir must get the replay remedy: ${torn.getMessage}")
      // missing: the dir was never written at all — a skipped fold id is a
      // caller bug, and prescribing the torn-write replay would
      // misdiagnose it (the r14 message did exactly that)
      val missing = intercept[IllegalArgumentException] {
        StateProtocol.requireCommitted(fs,
          Seq(s"$dir/b=0", s"$dir/b=7"), "spec", "replay fold 7")
      }
      assert(missing.getMessage.contains("never") &&
        missing.getMessage.contains("consecutive") &&
        !missing.getMessage.contains("replay fold 7"),
        s"a missing dir must get the skipped-id diagnosis, not the replay remedy: ${missing.getMessage}")
      // both present and committed: a no-op
      mkCommitted(fs, dir, "b=1")
      StateProtocol.requireCommitted(fs,
        Seq(s"$dir/b=0", s"$dir/b=1"), "spec", "unused")
    }
  }

  test("parallelJobs runs every job concurrently") {
    // both jobs must reach the barrier together: run one after the other,
    // the first would time out waiting for the second
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    def job(): Unit = {
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ran.incrementAndGet()
      ()
    }
    StateProtocol.parallelJobs(() => job(), () => job())
    assert(ran.get == 2)
    // a single job runs inline on the caller's thread
    val caller = Thread.currentThread()
    var on: Thread = null
    StateProtocol.parallelJobs(() => on = Thread.currentThread())
    assert(on eq caller)
  }

  test("parallelJobs raises a failure only after the other job has settled") {
    val settled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      StateProtocol.parallelJobs(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(300); settled.set(true) })
    }
    assert(e.getMessage == "boom", "the job's own exception, not a wrapper")
    assert(settled.get, "the failure surfaced while the other job was still running")
  }

  test("parallelJobs carries the caller's Spark job description to the pool threads") {
    val spark = graft.TestSession.spark
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.setJobDescription("spec:parallelJobs")
    try {
      def job(): Unit = {
        seen.add(sc.getLocalProperty("spark.job.description"))
        assert(spark.range(100).count() == 100L)
        ()
      }
      StateProtocol.parallelJobs(() => job(), () => job())
    } finally sc.setJobDescription(null)
    assert(seen.toArray.toSeq == Seq("spec:parallelJobs", "spec:parallelJobs"))
  }
}
