package graft.tools

import graft.operators.Snapshot
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the engine's Hadoop Archives (har) equivalent
  * (reference: hadoop-tools/hadoop-archives/src/main/java/org/apache/hadoop/
  * tools/HadoopArchives.java:1). A million 10 KB files cost a NameNode (or
  * an object-store listing) far more than their bytes; har packs them into
  * few large part files plus an index mapping each original file to
  * (part, offset, length), preserving random access.
  *
  * Shape: the listing is driver-side metadata; files are bin-packed
  * best-fit-decreasing into bins of ~`targetPartBytes`; ONE task writes
  * each part file by streaming its bin's files through the FileSystem API
  * (bytes never touch the driver); the index is written as parquet next to
  * the parts. `readEntry` serves point lookups with one positioned read —
  * the access pattern the har index exists for.
  */
object Compact {

  /** Index row: original relative path → its bytes inside a part file. */
  final case class IndexEntry(rel: String, part: Int, offset: Long, length: Long)

  /** Part naming is GENERATION-scoped: a re-compaction (generation g > 0)
    * writes `part-g<g>-<id>` names that can never collide with any earlier
    * generation's parts, so an interrupted re-compaction cannot overwrite a
    * part the live index still references. Generation 0 keeps the bare
    * `part-<id>` name. The committed generation is named by the `_current`
    * pointer file; its index lives at `_index-g<g>`. */
  private def partName(gen: Long, i: Int): String =
    if (gen == 0) f"part-$i%05d" else f"part-g$gen-$i%05d"

  private val PartRe = "part-(?:g(\\d+)-)?(\\d{5,})".r

  private def indexDirName(gen: Long): String = s"_index-g$gen"

  /** Generation encoded in an archive-member name, if it is one. */
  private def genOf(name: String): Option[Long] = name match {
    case PartRe(g, _) => Some(if (g == null) 0L else g.toLong)
    case "_index" => Some(0L)
    case n if n.startsWith("_index-g") =>
      scala.util.Try(n.stripPrefix("_index-g").toLong).toOption
    case _ => None
  }

  /** (index path, generation) of the COMMITTED archive in `dst`: the
    * `_current` pointer names the generation; a pointer-less dir with a bare
    * `_index` is a legacy (or externally-built) generation-0 archive. */
  private def resolveCurrent(fs: org.apache.hadoop.fs.FileSystem,
                             dst: Path): (String, Long) = {
    val cur = new Path(dst, "_current")
    if (fs.exists(cur)) {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(cur), java.nio.charset.StandardCharsets.UTF_8))
      val g = try in.readLine().trim.toLong finally in.close()
      (s"$dst/${indexDirName(g)}", g)
    } else (s"$dst/_index", 0L)
  }

  /** First generation id no existing member (part, index dir, or pointer)
    * uses — leftovers of a CRASHED attempt count too, so a retry never
    * reuses names a partial write may hold. Fresh directory → 0. */
  private def nextGen(fs: org.apache.hadoop.fs.FileSystem, qdst: Path): Long = {
    val fromNames = fs.listStatus(qdst).toSeq
      .flatMap(st => genOf(st.getPath.getName))
    val fromPointer =
      if (fs.exists(new Path(qdst, "_current")))
        try Seq(resolveCurrent(fs, qdst)._2) catch { case _: Exception => Nil }
      else Nil
    val seen = fromNames ++ fromPointer
    if (seen.isEmpty) 0L else seen.max + 1L
  }

  /** COMMIT: atomically swap the `_current` pointer to `gen` via a hidden
    * temp (swept by `isStaleTemp` if orphaned) + single-file
    * rename(OVERWRITE) — the one atomic primitive every FileSystem has.
    * Everything before this call is invisible to readers; everything after
    * is cleanup of the superseded generation. */
  private def commitCurrent(conf: org.apache.hadoop.conf.Configuration,
                            fs: org.apache.hadoop.fs.FileSystem,
                            qdst: Path, gen: Long): Unit = {
    val tmp = new Path(qdst, s"._current.compact-commit-$gen")
    val os = fs.create(tmp, true)
    try os.write(gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(tmp, new Path(qdst, "_current"), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Post-commit sweep: delete every part file NOT referenced by the new
    * index (a name diff, not an id-range check — next-fit bin ids can skip
    * numbers past an oversized file, and earlier generations' ids overlap)
    * and every superseded index dir. Runs only AFTER `_current` lands, so
    * a crash anywhere earlier leaves the old generation fully readable.
    * Crash-atomicity is against FAILURES, not concurrent readers: a reader
    * that resolved the old pointer just before the commit can race this
    * sweep (the same window har's replace-the-archive workflow has) —
    * re-compact offline, or defer the sweep until in-flight readers drain,
    * when the archive serves live traffic. */
  private def cleanupSuperseded(fs: org.apache.hadoop.fs.FileSystem, qdst: Path,
                                gen: Long, referenced: Set[String]): Unit =
    fs.listStatus(qdst).foreach { st =>
      val n = st.getPath.getName
      val isPart = PartRe.pattern.matcher(n).matches
      val isOldIndex = (n == "_index" || n.startsWith("_index-g")) &&
        n != indexDirName(gen)
      if ((isPart && !referenced.contains(n)) || isOldIndex)
        fs.delete(st.getPath, true)
    }

  /** Deterministic bin-packing of a (size desc, path)-sorted listing:
    * best-fit-decreasing via a capacity-indexed TreeMap — for each file,
    * `ceilingEntry(len)` finds the FULLEST bin that still fits in O(log B),
    * capacity ties break to the lowest bin id. O(F log B) total; the
    * per-file `bins.indexWhere` linear scan this replaces was O(F x B) —
    * at the 100M-small-file scale har exists for (~16k bins per TB) that
    * was ~1e12 driver ops before the first byte moved. A file larger than
    * `targetPartBytes` opens its own bin, which never accepts another file
    * (its remaining capacity is negative, never indexed). */
  private[tools] def pack(listing: Seq[(String, Long)],
                          targetPartBytes: Long): Seq[(Int, Seq[(String, Long)])] = {
    val binFiles = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[(String, Long)]]()
    val byRemaining = new java.util.TreeMap[Long, java.util.TreeSet[Integer]]()
    def insert(rem: Long, bin: Int): Unit =
      if (rem > 0)
        byRemaining.computeIfAbsent(rem, _ => new java.util.TreeSet[Integer]()).add(bin)
    listing.foreach { case (rel, len) =>
      val e = byRemaining.ceilingEntry(len)
      if (e == null) {
        binFiles += scala.collection.mutable.ArrayBuffer((rel, len))
        insert(targetPartBytes - len, binFiles.size - 1)
      } else {
        val bin: Int = e.getValue.first()
        e.getValue.remove(bin: Integer)
        if (e.getValue.isEmpty) byRemaining.remove(e.getKey)
        binFiles(bin) += ((rel, len))
        insert(e.getKey - len, bin)
      }
    }
    binFiles.toSeq.zipWithIndex.map { case (files, i) => (i, files.toSeq) }
  }

  /** Stream one bin's files — in the given order — into part file `part`
    * via temp + rename(OVERWRITE), returning the index rows. Shared by the
    * in-memory and spilled drivers. */
  private def writePart(conf: org.apache.hadoop.conf.Configuration,
                        qsrcStr: String, qdstStr: String, gen: Long,
                        part: Int, files: Seq[(String, Long)]): Seq[IndexEntry] = {
    val pp = new Path(s"$qdstStr/${partName(gen, part)}")
    val dfs = pp.getFileSystem(conf)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"${tc.stageAttemptNumber()}-${tc.taskAttemptId()}")
      .getOrElse("driver")
    val tmp = new Path(pp.getParent, s".${pp.getName}.compact-$attempt")
    // temp + rename(OVERWRITE): atomic replace on HDFS, whole-file-or-
    // nothing everywhere (see Sinks.keyedTextFiles on the off-HDFS window);
    // a failure before the rename deletes the temp so a crashed part write
    // never leaves a stale `.part-*.compact-*` for a later listing
    try {
      val out = dfs.create(tmp, true)
      val buf = new Array[Byte](1 << 16)
      var offset = 0L
      val index = try {
        files.map { case (rel, _) =>
          val sp = new Path(s"$qsrcStr/$rel")
          val in = sp.getFileSystem(conf).open(sp)
          var copied = 0L
          try {
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) { out.write(buf, 0, n); copied += n }
              n = in.read(buf)
            }
          } finally in.close()
          val e = IndexEntry(rel, part, offset, copied)
          offset += copied
          e
        }
      } finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(dfs.getUri, conf)
      fc.rename(tmp, pp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      index
    } catch { case e: Throwable =>
      try dfs.delete(tmp, false) catch { case _: Exception => () }
      throw e
    }
  }

  /** Pack every file under `srcDir` into part files under `dstDir` and
    * write/return the index. Source files are left in place (callers delete
    * after validating, like har).
    *
    * Listings up to `spillThreshold` entries are packed on the driver
    * (best-fit-decreasing, see `pack`). Beyond that the listing is SPILLED
    * to a scratch file while it is built and the whole pack is driven from
    * a DataFrame: a distributed (size desc, path) sort, a two-phase prefix
    * sum of byte positions, and bins cut at `targetPartBytes` boundaries in
    * that global order (next-fit-decreasing — each bin closes within one
    * straddling file of the target). At the 100M-file scale har exists for,
    * neither the listing nor the index ever concentrates on the driver.
    *
    * Re-compaction is CRASH-ATOMIC: the new generation's parts and index
    * land under names no earlier generation uses, and the archive flips to
    * them only when the `_current` pointer is atomically replaced — a crash
    * at ANY earlier point leaves the old generation fully readable (its
    * parts untouched, its index still pointed at); the superseded
    * generation is swept only after the commit. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
              targetPartBytes: Long = 256L << 20,
              spillThreshold: Int = 1 << 20): DataFrame =
    compactWithFault(spark, srcDir, dstDir, targetPartBytes, spillThreshold, _ => ())

  /** `compact` with a test-only fault hook invoked at each part boundary
    * (before that part's first byte is written) — the crash-atomicity spec
    * kills a re-compaction mid-write through it. */
  private[tools] def compactWithFault(spark: SparkSession, srcDir: String,
                                      dstDir: String, targetPartBytes: Long,
                                      spillThreshold: Int,
                                      beforePart: Int => Unit): DataFrame = {
    require(targetPartBytes > 0)
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    val srcFs = new Path(srcDir).getFileSystem(conf)
    val qsrc = srcFs.makeQualified(new Path(srcDir))
    val dstFs = new Path(dstDir).getFileSystem(conf)
    dstFs.mkdirs(new Path(dstDir))
    val qdst = dstFs.makeQualified(new Path(dstDir))
    val newGen = nextGen(dstFs, qdst)
    // reserve the generation before any part task starts: an attempt that
    // aborts before its first part lands still leaves this name, so a
    // retry's `nextGen` never hands out a generation a straggler task of
    // the aborted job may still be writing under. The index write fills
    // the dir; `cleanupSuperseded` sweeps it once a later generation commits.
    dstFs.mkdirs(new Path(qdst, indexDirName(newGen)))

    val it = TreeListing.list(srcFs, qsrc)
    val head = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    while (it.hasNext && head.size < spillThreshold) head += it.next()
    if (it.hasNext)
      return compactSpilled(spark, qsrc.toString, qdst.toString,
        head.iterator ++ it, targetPartBytes, newGen, beforePart)

    // listing (metadata only) → deterministic best-fit-decreasing packing:
    // sort by (size desc, path) so the same tree always packs identically
    val listing = head.sortBy { case (rel, len) => (-len, rel) }.toSeq
    val planned = pack(listing, targetPartBytes)

    // stale in-flight task temps from a crashed prior run are never
    // referenced by any index — safe to sweep up front
    dstFs.listStatus(qdst).foreach { st =>
      if (TreeListing.isStaleTemp(st.getPath.getName))
        dstFs.delete(st.getPath, false)
    }

    val bc = sc.broadcast(graft.sources.Scratch.confEntries(conf))
    val (qsrcStr, qdstStr) = (qsrc.toString, qdst.toString)
    // collect() drives the flatMap with FULL parallelism (one task per bin)
    // and materializes only the index metadata; writing the index straight
    // from the RDD would let a later coalesce(1) serialize the part writes
    // into a single task.
    val entries = sc.parallelize(planned, math.max(1, planned.size))
      .flatMap { case (part, files) =>
        beforePart(part)
        writePart(graft.sources.Scratch.confFrom(bc.value), qsrcStr, qdstStr,
          newGen, part, files)
      }.collect()
    spark.createDataFrame(entries.toSeq)
      .write.mode("overwrite").parquet(s"$qdstStr/${indexDirName(newGen)}")
    commitCurrent(conf, dstFs, qdst, newGen)
    cleanupSuperseded(dstFs, qdst, newGen,
      planned.map(p => partName(newGen, p._1)).toSet)
    spark.read.parquet(s"$qdstStr/${indexDirName(newGen)}")
  }

  /** Spilled-listing driver: global (size desc, path) order via a
    * distributed range sort; bin = global-byte-position / target (computed
    * with a two-phase prefix sum — per-range-partition byte totals to the
    * driver, bases broadcast back); one shuffle groups each bin's rows onto
    * a writer task. Deterministic regardless of range sampling: bins derive
    * from global byte positions, which depend only on the listing order. */
  private def compactSpilled(spark: SparkSession, qsrcStr: String, qdstStr: String,
                             entries: Iterator[(String, Long)],
                             targetPartBytes: Long, newGen: Long,
                             beforePart: Int => Unit): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    val bc = sc.broadcast(graft.sources.Scratch.confEntries(conf))
    val scratch = graft.sources.Scratch.dir(spark,
      s"graft_compact_spill_${sc.applicationId}_${spillRunCounter.getAndIncrement()}")
    val listingPath = new Path(s"$scratch/listing.txt")
    val os = listingPath.getFileSystem(conf).create(listingPath, true)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(os, java.nio.charset.StandardCharsets.UTF_8))
    // \r is rejected along with \n: Hadoop's line reader splits on lone CR
    // too, so a CR-bearing name would silently garble the listing
    try entries.foreach { case (rel, len) =>
      require(rel.nonEmpty && !rel.startsWith("/") &&
        !rel.contains("\n") && !rel.contains("\r") && !rel.contains("\t"),
        s"unsupported path in listing: $rel")
      w.write(s"$len\t$rel\n")
    } finally w.close()

    // stale temps swept up front (never index-referenced); the superseded
    // generation is swept only AFTER `_current` commits — the new part set
    // is unknown until the job runs, so it is read back from the written
    // index (a name diff, never an id-range check: pos/target bin ids SKIP
    // numbers past an oversized file)
    val qdst = new Path(qdstStr)
    val dstFs = qdst.getFileSystem(conf)
    dstFs.listStatus(qdst).foreach { st =>
      if (TreeListing.isStaleTemp(st.getPath.getName))
        dstFs.delete(st.getPath, false)
    }

    val rangeParts = math.max(16, sc.defaultParallelism)
    val listed = spark.read.text(listingPath.toString)
      .select(
        split(col("value"), "\t", 2).getItem(0).cast("long").as("len"),
        split(col("value"), "\t", 2).getItem(1).as("rel"))
      .repartitionByRange(rangeParts, col("len").desc, col("rel"))
      .sortWithinPartitions(col("len").desc, col("rel"))
      .select(col("rel"), col("len"))
    try Snapshot.scoped(listed) { snap =>
      val ordered = snap.as[(String, Long)]
      // phase 1: per-partition byte totals — rangeParts rows to the driver
      val sums = ordered.mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var bytes = 0L
        rows.foreach(bytes += _._2)
        Iterator((pid, bytes))
      }.collect().toMap
      val bases = new Array[Long](rangeParts)
      (1 until rangeParts).foreach(p =>
        bases(p) = bases(p - 1) + sums.getOrElse(p - 1, 0L))
      val basesBc = sc.broadcast(bases)
      // phase 2: global byte position per file → bin id; phase 3: shuffle
      // rows to their bin's writer task and stream the parts
      ordered.mapPartitions { rows =>
        var run = basesBc.value(org.apache.spark.TaskContext.getPartitionId())
        rows.map { case (rel, len) =>
          val pos = run
          run += len
          ((pos / targetPartBytes).toInt, rel, len, pos)
        }
      }.toDF("bin", "rel", "len", "pos")
        .repartition(col("bin"))
        .sortWithinPartitions(col("bin"), col("pos"))
        .as[(Int, String, Long, Long)]
        .mapPartitions { rows =>
          val taskConf = graft.sources.Scratch.confFrom(bc.value)
          val buf = rows.buffered
          new Iterator[Seq[IndexEntry]] {
            def hasNext: Boolean = buf.hasNext
            def next(): Seq[IndexEntry] = {
              val bin = buf.head._1
              val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
              while (buf.hasNext && buf.head._1 == bin) {
                val r = buf.next(); files += ((r._2, r._3))
              }
              beforePart(bin)
              writePart(taskConf, qsrcStr, qdstStr, newGen, bin, files.toSeq)
            }
          }.flatten
        }
        // the write EXECUTES the whole pack exactly once; the index never
        // concentrates on the driver
        .write.mode("overwrite").parquet(s"$qdstStr/${indexDirName(newGen)}")
      // the new part-name set for the post-commit sweep: one distinct-agg
      // over the index — O(parts) names on the driver (~4k/TB at the
      // default target), the same envelope as the writer task count
      val newParts = spark.read.parquet(s"$qdstStr/${indexDirName(newGen)}")
        .select(col("part")).distinct().collect()
        .map(r => partName(newGen, r.getInt(0))).toSet
      commitCurrent(conf, dstFs, qdst, newGen)
      cleanupSuperseded(dstFs, qdst, newGen, newParts)
      spark.read.parquet(s"$qdstStr/${indexDirName(newGen)}")
    } finally {
      try listingPath.getFileSystem(conf).delete(listingPath, false)
      catch { case _: Exception => () }
    }
  }

  private val spillRunCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Point lookup: the original bytes of `rel` from a compacted directory —
    * one index filter (parquet predicate pushdown on `rel`) + one positioned
    * read of the part file. Reads the COMMITTED generation (`_current`
    * pointer; pointer-less legacy archives read as generation 0). */
  def readEntry(spark: SparkSession, dstDir: String, rel: String): Array[Byte] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(dstDir).getFileSystem(conf)
      .makeQualified(new Path(dstDir))
    val (indexPath, gen) = resolveCurrent(dst.getFileSystem(conf), dst)
    val rows = spark.read.parquet(indexPath)
      .filter(col("rel") === rel).collect()
    require(rows.length == 1, s"$rel: ${rows.length} index entries")
    val r = rows(0)
    val (part, offset, length) =
      (r.getAs[Int]("part"), r.getAs[Long]("offset"), r.getAs[Long]("length"))
    val pp = new Path(s"$dst/${partName(gen, part)}")
    val in = pp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(pp)
    try {
      require(length <= Int.MaxValue, s"$rel too large for a single buffer")
      val buf = new Array[Byte](length.toInt)
      in.seek(offset)
      in.readFully(buf)
      buf
    } finally in.close()
  }
}
