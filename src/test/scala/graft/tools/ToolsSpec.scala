package graft.tools

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

class ToolsSpec extends SparkSpec {

  private def write(root: String, rel: String, content: Array[Byte]): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content)
  }

  private def slurp(root: String, rel: String): Array[Byte] =
    Files.readAllBytes(Paths.get(root, rel))

  private def tree(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    val walk = java.nio.file.Files.walk(r)
    try {
      import scala.jdk.CollectionConverters._
      // ignore Hadoop's local ChecksumFileSystem .crc sidecars on the
      // destination — an artifact of LocalFS, not part of the copied tree
      walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => r.relativize(p).toString -> Files.size(p)).toMap
    } finally walk.close()
  }

  test("DistCopy copies a nested tree byte-identically and validates checksums") {
    val src = Files.createTempDirectory("graft_dcp_src").toString
    val dst = Files.createTempDirectory("graft_dcp_dst").toString + "/out"
    val rnd = new scala.util.Random(42)
    val files = Seq("a.txt", "sub/b.bin", "sub/deep/c.dat", "empty.txt", "big.bin")
    write(src, "a.txt", "hello distcp".getBytes(UTF_8))
    write(src, "sub/b.bin", Array.fill(4096)(rnd.nextInt().toByte))
    write(src, "sub/deep/c.dat", Array.fill(100)(rnd.nextInt().toByte))
    write(src, "empty.txt", Array.emptyByteArray)
    write(src, "big.bin", Array.fill(1 << 20)(rnd.nextInt().toByte))

    val rep1 = DistCopy.copy(spark, src, dst)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep1.keySet == files.toSet)
    assert(rep1.values.forall(_ == "copy"))
    assert(tree(dst) == tree(src))
    files.foreach(f => assert(slurp(dst, f).sameElements(slurp(src, f)), f))

    // -update re-run on an unchanged tree: everything skips
    val rep2 = DistCopy.copy(spark, src, dst, update = true)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep2.values.forall(_ == "skip"), rep2)

    // change one file IN PLACE (same length, different bytes), add one file:
    // update+checksum must re-copy exactly those two
    write(src, "a.txt", "HELLO DISTCP".getBytes(UTF_8))
    write(src, "new.txt", "fresh".getBytes(UTF_8))
    val rep3 = DistCopy.copy(spark, src, dst, update = true)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep3.filter(_._2 == "copy").keySet == Set("a.txt", "new.txt"), rep3)
    assert(slurp(dst, "a.txt").sameElements("HELLO DISTCP".getBytes(UTF_8)))

    // checksum=false (-skipcrccheck): a same-length content change is NOT
    // detected — the documented trade
    write(src, "a.txt", "hello DISTCP".getBytes(UTF_8))
    val rep4 = DistCopy.copy(spark, src, dst, update = true, checksum = false)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep4("a.txt") == "skip")
  }

  test("Compact bin-packs 1000 small files and serves point lookups") {
    val src = Files.createTempDirectory("graft_har_src").toString
    val dst = Files.createTempDirectory("graft_har_dst").toString + "/packed"
    val contents = (0 until 1000).map { i =>
      val rel = f"d${i % 7}/f$i%04d.txt"
      val body = (s"file $i " * (1 + i % 40)).getBytes(UTF_8)
      write(src, rel, body)
      rel -> body
    }.toMap

    val index = Compact.compact(spark, src, dst, targetPartBytes = 64L << 10)
    val rows = index.collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getAs[Long]("length")).sum == contents.values.map(_.length.toLong).sum)
    // many fewer part files than inputs, each within the target size bound
    // (one oversized input per bin is allowed, but none exists here)
    val parts = new java.io.File(dst).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.length < 100, s"${parts.length} parts")
    assert(parts.forall(_.length() <= (64L << 10)))

    // point lookups reconstruct the original bytes exactly
    val sample = Seq(0, 1, 499, 998, 999).map(i => f"d${i % 7}/f$i%04d.txt")
    sample.foreach { rel =>
      assert(Compact.readEntry(spark, dst, rel).sameElements(contents(rel)), rel)
    }
    // full reconstruction through the index: every file's slice matches
    val byPart = rows.groupBy(_.getAs[Int]("part"))
    byPart.foreach { case (part, es) =>
      val bytes = Files.readAllBytes(Paths.get(dst, f"part-$part%05d"))
      es.foreach { e =>
        val (rel, off, len) =
          (e.getAs[String]("rel"), e.getAs[Long]("offset"), e.getAs[Long]("length"))
        assert(bytes.slice(off.toInt, (off + len).toInt).sameElements(contents(rel)), rel)
      }
    }
  }

  test("DistCopy/Compact: URI-special names (space, percent) round-trip; stale temps don't propagate") {
    val src = Files.createTempDirectory("graft_uri_src").toString
    val dst = Files.createTempDirectory("graft_uri_dst").toString + "/out"
    val packed = Files.createTempDirectory("graft_uri_pk").toString + "/packed"
    // URI.relativize used to return "sp%20ace.txt" for these, which was then
    // looked up literally and failed with FileNotFoundException
    val names = Seq("sp ace.txt", "pct%20name.bin", "sub dir/plus+q.dat")
    names.zipWithIndex.foreach { case (n, i) =>
      write(src, n, s"payload $i for $n".getBytes(UTF_8))
    }
    // a crashed prior run's in-flight temp in the SOURCE tree must be
    // filtered from the listing, not copied along
    write(src, ".victim.txt.distcp-0-1", "stale".getBytes(UTF_8))

    val rep = DistCopy.copy(spark, src, dst)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep.keySet == names.toSet, rep)
    names.foreach(n => assert(slurp(dst, n).sameElements(slurp(src, n)), n))

    Compact.compact(spark, src, packed, targetPartBytes = 1L << 20)
    names.foreach { n =>
      assert(Compact.readEntry(spark, packed, n).sameElements(slurp(src, n)), n)
    }
  }

  test("Compact: re-compacting into a non-empty destination removes orphan parts") {
    val src = Files.createTempDirectory("graft_orph_src").toString
    val dst = Files.createTempDirectory("graft_orph_dst").toString + "/packed"
    val contents = (0 until 64).map { i =>
      val rel = f"f$i%03d.txt"
      val body = (s"doc $i " * (1 + i % 9)).getBytes(UTF_8)
      write(src, rel, body)
      rel -> body
    }.toMap
    // tiny target → many parts
    val many = new java.io.File(
      { Compact.compact(spark, src, dst, targetPartBytes = 512L); dst })
      .listFiles().count(_.getName.matches("part-\\d{5}"))
    assert(many > 1, s"$many parts")
    // huge target → 1 part (in the NEXT generation's namespace); every part
    // of the prior generation must be swept after the commit, or a consumer
    // walking part-* reads stale data
    Compact.compact(spark, src, dst, targetPartBytes = 1L << 20)
    val after = new java.io.File(dst).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSeq
    assert(after == Seq("part-g1-00000"), after)
    contents.foreach { case (rel, body) =>
      assert(Compact.readEntry(spark, dst, rel).sameElements(body), rel)
    }
  }

  test("Compact: a re-compaction killed at a part boundary leaves the old archive fully readable") {
    val src = Files.createTempDirectory("graft_atomic_src").toString
    val dst = Files.createTempDirectory("graft_atomic_dst").toString + "/packed"
    val v1 = (0 until 40).map { i =>
      val rel = f"f$i%03d.txt"
      val body = (s"v1 doc $i " * (1 + i % 7)).getBytes(UTF_8)
      write(src, rel, body)
      rel -> body
    }.toMap
    Compact.compact(spark, src, dst, targetPartBytes = 512L)
    // the source evolves, then the re-compaction over it is KILLED at a
    // part boundary (fault injected before part 1's first byte; sibling
    // tasks may have already renamed their parts into place)
    v1.keys.foreach(rel => write(src, rel, (s"v2 $rel " * 20).getBytes(UTF_8)))
    write(src, "new.txt", "v2 new".getBytes(UTF_8))
    intercept[Exception] {
      Compact.compactWithFault(spark, src, dst, targetPartBytes = 512L,
        spillThreshold = 1 << 20,
        beforePart = p =>
          if (p >= 1) throw new RuntimeException("injected mid-compaction crash"))
    }
    // crash-atomicity: the commit pointer never moved, so the OLD archive
    // is fully readable — and the aborted generation is invisible
    v1.foreach { case (rel, body) =>
      assert(Compact.readEntry(spark, dst, rel).sameElements(body), rel)
    }
    intercept[Exception](Compact.readEntry(spark, dst, "new.txt"))
    // the retry allocates a FRESH generation (never reusing names a partial
    // write may hold), commits, and sweeps both superseded generations
    Compact.compact(spark, src, dst, targetPartBytes = 512L)
    v1.keys.foreach { rel =>
      assert(Compact.readEntry(spark, dst, rel)
        .sameElements((s"v2 $rel " * 20).getBytes(UTF_8)), rel)
    }
    assert(Compact.readEntry(spark, dst, "new.txt").sameElements("v2 new".getBytes(UTF_8)))
    val names = new java.io.File(dst).listFiles().map(_.getName).toSet
    assert(names.count(_.startsWith("_index")) == 1, names)
    assert(!names.exists(n => n.startsWith("part-") && !n.startsWith("part-g2-")), names)
  }

  test("Compact: a re-compaction killed before any part lands still reserves its generation") {
    val src = Files.createTempDirectory("graft_atomic_src").toString
    val dst = Files.createTempDirectory("graft_atomic_dst").toString + "/packed"
    val v1 = (0 until 40).map { i =>
      val rel = f"f$i%03d.txt"
      val body = (s"v1 doc $i " * (1 + i % 7)).getBytes(UTF_8)
      write(src, rel, body)
      rel -> body
    }.toMap
    Compact.compact(spark, src, dst, targetPartBytes = 512L)
    v1.keys.foreach(rel => write(src, rel, (s"v2 $rel " * 20).getBytes(UTF_8)))
    // the fault fires at EVERY part, so the aborted attempt writes no part
    intercept[Exception] {
      Compact.compactWithFault(spark, src, dst, targetPartBytes = 512L,
        spillThreshold = 1 << 20,
        beforePart = _ => throw new RuntimeException("injected crash before every part"))
    }
    def names = new java.io.File(dst).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("part-g1-")), names)
    v1.foreach { case (rel, body) =>
      assert(Compact.readEntry(spark, dst, rel).sameElements(body), rel)
    }
    // the retry still gets a generation the aborted attempt never had
    Compact.compact(spark, src, dst, targetPartBytes = 512L)
    v1.keys.foreach { rel =>
      assert(Compact.readEntry(spark, dst, rel)
        .sameElements((s"v2 $rel " * 20).getBytes(UTF_8)), rel)
    }
    assert(names.filter(_.startsWith("_index")) == Set("_index-g2"), names)
    assert(names.exists(_.startsWith("part-g2-")), names)
    assert(!names.exists(n => n.startsWith("part-") && !n.startsWith("part-g2-")), names)
  }

  test("Compact.pack: 100k-file listing packs in bounded time, deterministically, within capacity") {
    val rnd = new scala.util.Random(99)
    val target = 256L << 20
    val listing = (0 until 100000).map { i =>
      (f"dir${i % 37}/f$i%06d.bin", (rnd.nextInt(8 << 20) + 1).toLong)
    }.sortBy { case (rel, len) => (-len, rel) }
    val t0 = System.nanoTime()
    val packed = Compact.pack(listing, target)
    val sec = (System.nanoTime() - t0) / 1e9
    // the O(F x B) indexWhere scan this replaced took ~F x B/2 ≈ 4e9 probes
    // here; the TreeMap form is ~F log B
    assert(sec < 5.0, s"pack took $sec s")
    // every file exactly once
    assert(packed.flatMap(_._2).sortBy(_._1) == listing.sortBy(_._1))
    // capacity respected (no oversized inputs in this listing)
    packed.foreach { case (i, files) =>
      assert(files.map(_._2).sum <= target, s"bin $i over target")
    }
    // near-optimal bin count: total/target is the lower bound
    val lower = math.ceil(listing.map(_._2).sum.toDouble / target).toInt
    assert(packed.size <= lower + 2, s"${packed.size} bins vs lower bound $lower")
    // deterministic on re-run
    assert(Compact.pack(listing, target) == packed)
  }

  test("DistCopy preserve (-ptp) carries mtime and permissions; default does not") {
    import java.nio.file.attribute.{FileTime, PosixFilePermissions}
    val src = Files.createTempDirectory("graft_p_src").toString
    val dst = Files.createTempDirectory("graft_p_dst").toString + "/out"
    write(src, "a.txt", "attrs".getBytes(UTF_8))
    Files.setLastModifiedTime(Paths.get(src, "a.txt"), FileTime.fromMillis(1600000000000L))
    Files.setPosixFilePermissions(Paths.get(src, "a.txt"),
      PosixFilePermissions.fromString("rw-------"))
    DistCopy.copy(spark, src, dst, preserve = "tp")
    assert(Files.getLastModifiedTime(Paths.get(dst, "a.txt")).toMillis == 1600000000000L)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(dst, "a.txt")))
      == "rw-------")
    val dst2 = Files.createTempDirectory("graft_p_dst2").toString + "/out"
    DistCopy.copy(spark, src, dst2)
    assert(Files.getLastModifiedTime(Paths.get(dst2, "a.txt")).toMillis != 1600000000000L)
  }

  test("DistCopy preserve accepts the full rbugpcaxt surface with graceful degradation") {
    import java.nio.file.attribute.{FileTime, PosixFilePermissions}
    val src = Files.createTempDirectory("graft_pf_src").toString
    val dst = Files.createTempDirectory("graft_pf_dst").toString + "/out"
    write(src, "a.txt", "full flags".getBytes(UTF_8))
    Files.setLastModifiedTime(Paths.get(src, "a.txt"), FileTime.fromMillis(1500000000000L))
    Files.setPosixFilePermissions(Paths.get(src, "a.txt"),
      PosixFilePermissions.fromString("r--------"))
    // the reference's full flag string must be ACCEPTED and must not fail
    // the copy on a local FS that cannot honor every attribute
    val rep = DistCopy.copy(spark, src, dst, preserve = "rbugpcaxt")
      .collect().map(r => (r.getAs[String]("rel"),
        r.getAs[String]("action"), r.getAs[String]("preserved"))).toSeq
    assert(rep.map(r => (r._1, r._2)) == Seq(("a.txt", "copy")))
    val preserved = rep.head._3
    // what local POSIX can honor was honored...
    assert(preserved.contains('t') && preserved.contains('p'), preserved)
    assert(Files.getLastModifiedTime(Paths.get(dst, "a.txt")).toMillis == 1500000000000L)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(dst, "a.txt")))
      == "r--------")
    // ...and what it cannot (HDFS create-time checksum type) degraded
    // instead of failing; the report never claims an unapplied flag
    assert(!preserved.contains('c'), preserved)
    assert(preserved.forall("rbugpcaxt".contains(_)), preserved)
    // unknown flags are rejected up front, not silently ignored
    intercept[IllegalArgumentException] {
      DistCopy.copy(spark, src, dst, preserve = "tz")
    }
  }

  test("DistCopy update+preserve re-syncs attributes on the SKIP branch") {
    import java.nio.file.attribute.{FileTime, PosixFilePermissions}
    val src = Files.createTempDirectory("graft_ps_src").toString
    val dst = Files.createTempDirectory("graft_ps_dst").toString + "/out"
    write(src, "a.txt", "drift".getBytes(UTF_8))
    DistCopy.copy(spark, src, dst, preserve = "tp")
    // source attributes drift AFTER the first copy — content unchanged
    Files.setLastModifiedTime(Paths.get(src, "a.txt"), FileTime.fromMillis(1650000000000L))
    Files.setPosixFilePermissions(Paths.get(src, "a.txt"),
      PosixFilePermissions.fromString("rw-rw-rw-"))
    val rep = DistCopy.copy(spark, src, dst, update = true, preserve = "tp")
      .collect().map(r => (r.getAs[String]("action"), r.getAs[String]("preserved")))
    // the bytes skip, but the '-p' mirror still converges the attributes
    // (the reference's CopyMapper preserves on SKIPped files too)
    assert(rep.toSeq == Seq(("skip", "pt")))
    assert(Files.getLastModifiedTime(Paths.get(dst, "a.txt")).toMillis == 1650000000000L)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(dst, "a.txt")))
      == "rw-rw-rw-")
  }

  test("DistCopy spilled-listing path copies byte-identically with update semantics") {
    val src = Files.createTempDirectory("graft_spl_src").toString
    val dst = Files.createTempDirectory("graft_spl_dst").toString + "/out"
    val rnd = new scala.util.Random(11)
    val rels = (0 until 60).map(i => f"d${i % 5}/f$i%03d.bin")
    rels.foreach(r => write(src, r, Array.fill(rnd.nextInt(4000) + 1)(rnd.nextInt().toByte)))
    // threshold far below the file count → the listing spills to scratch and
    // the copy runs from the DataFrame driver
    val rep = DistCopy.copy(spark, src, dst, spillThreshold = 4)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep.keySet == rels.toSet && rep.values.forall(_ == "copy"), rep.size)
    rels.foreach(r => assert(slurp(dst, r).sameElements(slurp(src, r)), r))
    // update re-run through the spill path: everything skips
    val rep2 = DistCopy.copy(spark, src, dst, update = true, spillThreshold = 4)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(rep2.values.forall(_ == "skip"), rep2)
  }

  test("Compact spilled-listing path packs byte-identically and deterministically") {
    val src = Files.createTempDirectory("graft_spc_src").toString
    val dst = Files.createTempDirectory("graft_spc_dst").toString + "/packed"
    val contents = (0 until 300).map { i =>
      val rel = f"d${i % 9}/f$i%04d.txt"
      val body = (s"spill file $i " * (1 + i % 23)).getBytes(UTF_8)
      write(src, rel, body)
      rel -> body
    }.toMap
    def indexOf(d: String) = Compact.compact(spark, src, d,
        targetPartBytes = 32L << 10, spillThreshold = 10)
      .collect().map(r => (r.getAs[String]("rel"), r.getAs[Int]("part"),
        r.getAs[Long]("offset"), r.getAs[Long]("length"))).sortBy(_._1).toSeq
    val idx = indexOf(dst)
    assert(idx.size == 300)
    // bins respect the target within one straddling file
    val parts = new java.io.File(dst).listFiles()
      .filter(_.getName.matches("part-\\d{5}"))
    assert(parts.length > 1, s"${parts.length} parts")
    val maxFile = contents.values.map(_.length).max
    assert(parts.forall(_.length() <= (32L << 10) + maxFile))
    // every file reconstructs exactly through the index
    contents.foreach { case (rel, body) =>
      assert(Compact.readEntry(spark, dst, rel).sameElements(body), rel)
    }
    // deterministic: a fresh destination gets the IDENTICAL index
    val dst2 = Files.createTempDirectory("graft_spc_dst2").toString + "/packed"
    assert(indexOf(dst2) == idx)
  }

  test("Compact: a file larger than the target gets its own part, bit-exact") {
    val src = Files.createTempDirectory("graft_har_big_src").toString
    val dst = Files.createTempDirectory("graft_har_big_dst").toString + "/packed"
    val rnd = new scala.util.Random(7)
    val big = Array.fill(200 << 10)(rnd.nextInt().toByte) // 200 KiB > 64 KiB target
    write(src, "big.bin", big)
    write(src, "small1.txt", "alpha".getBytes(UTF_8))
    write(src, "small2.txt", "beta".getBytes(UTF_8))
    val rows = Compact.compact(spark, src, dst, targetPartBytes = 64L << 10).collect()
    assert(rows.length == 3)
    // the oversized file is alone in its bin (FFD opens a new bin when
    // nothing fits) and starts at offset 0
    val bigRow = rows.find(_.getAs[String]("rel") == "big.bin").get
    assert(bigRow.getAs[Long]("offset") == 0L && bigRow.getAs[Long]("length") == big.length)
    assert(rows.count(_.getAs[Int]("part") == bigRow.getAs[Int]("part")) == 1)
    assert(Compact.readEntry(spark, dst, "big.bin").sameElements(big))
    assert(Compact.readEntry(spark, dst, "small2.txt").sameElements("beta".getBytes(UTF_8)))
  }
}
