package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.jobs.{ClusterMaintenance, SpanDedupMaintenance}
import graft.streaming.Streams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The fork-free local filesystem ([[ForkFreeRawLocalFileSystem]]): its two
  * overrides leave the same files behind as the stock class, and with it
  * installed the session's writes, folds and micro-batches start no
  * operating-system process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the stock RawLocalFileSystem's mode bits on create and mkdirs") {
    val perms = Seq(None) ++ Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff) // 600 644 700 755 777
      .map(m => Some(new FsPermission(m.toShort)))
    for (umask <- Seq("022", "077", "000")) {
      val fss = Seq(raw(new RawLocalFileSystem, umask), raw(new ForkFreeRawLocalFileSystem, umask))
      val root = tmp("perm")
      val modes = fss.zipWithIndex.map { case (fs, k) =>
        perms.map { perm =>
          val tag = perm.fold("default")(_.toString)
          val (f, d) = (new Path(s"$root/$k/$tag/file"), new Path(s"$root/$k/$tag/dir"))
          perm match {
            case None =>
              fs.create(f).close()
              fs.mkdirs(d)
            case Some(p) =>
              fs.create(f, p, false, 4096, 1.toShort, 1L << 25, null).close()
              fs.mkdirs(d, p)
          }
          tag -> (mode(f.toString), mode(d.toString))
        }
      }
      info(s"umask $umask: ${modes.head.map { case (t, (f, d)) => f"$t $f%o/$d%o" }.mkString(", ")}")
      assert(modes(1) == modes.head, s"umask $umask: fork-free ${modes(1)} vs stock ${modes.head}")
    }
    // a sticky bit (create and mkdirs drop it with the umask; setPermission
    // keeps it), which the POSIX view cannot set, takes the inherited chmod
    val sticky = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem).map { fs =>
      val d = s"${tmp("sticky")}/d"
      raw(fs, "022").mkdirs(new Path(d))
      fs.setPermission(new Path(d), new FsPermission(0x3ed.toShort)) // 1755
      mode(d)
    }
    assert(sticky == Seq(0x3ed, 0x3ed), f"sticky dir modes ${sticky.map(_.toOctalString)}")
    // a directory made under a setgid one inherits the bit, and chmod keeps
    // it there; the POSIX view would clear it, so such targets fall back too
    val setgid = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem).map { fs =>
      val parent = Paths.get(tmp("setgid"))
      Files.setAttribute(parent, "unix:mode", 0x5ed) // 2755
      raw(fs, "022").mkdirs(new Path(s"$parent/a/b"))
      (mode(s"$parent/a"), mode(s"$parent/a/b"))
    }
    assert(setgid.head._2 == 0x5ed, f"premise: the stock class keeps the inherited setgid ${setgid.head._2}%o")
    assert(setgid(1) == setgid.head, s"setgid subdirectory modes: fork-free ${setgid(1)} vs stock ${setgid.head}")
  }

  test("getFileLinkStatus matches the stock RawLocalFileSystem on files, dirs, missing paths and links") {
    val root = tmp("links")
    Files.write(Paths.get(s"$root/file"), Array[Byte](1, 2, 3))
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    val (stock, free) = (raw(new RawLocalFileSystem, "022"), raw(new ForkFreeRawLocalFileSystem, "022"))
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getPermission, s.getModificationTime)
    for (name <- Seq("file", "dir", "link")) {
      val p = new Path(s"$root/$name") // unqualified, as FileContext passes it
      assert(fields(free.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
    }
    assert(free.getFileLinkStatus(new Path(s"$root/link")).isSymlink, "premise: the link is seen")
    for (fs <- Seq(stock, free))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$root/missing")))
    // the stock class runs readlink on the path's string, so a qualified
    // file:/... path never reads as a link; the fork-free class agrees
    val qualified = new Path(s"file:$root/link")
    assert(!stock.getFileLinkStatus(qualified).isSymlink)
    assert(fields(free.getFileLinkStatus(qualified)) == fields(stock.getFileLinkStatus(qualified)))
  }

  /** The commands of the operating-system processes this JVM started
    * while `body` ran (JFR `jdk.ProcessStart`). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("starts", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  test("the session's filesystem resolves to the fork-free classes on both Hadoop APIs") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[ForkFreeLocalFileSystem])
      assert(new Path("/tmp").getFileSystem(conf).isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileContext.getFileContext(URI.create("file:///"), conf)
        .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    }
  }

  test("a parquet write, a cluster fold, a span fold and a stream micro-batch start no process") {
    val root = tmp("nofork")
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i => i -> Seq.fill(64)(rnd.nextGaussian().toFloat))
    val docs = (0L until 30L).map(i => i -> (0 until 40).map(j => s"w${i % 20}_$j"))
    val events = (0 until 50).map(i => (i % 7L, new java.sql.Timestamp(86400000L + i * 60000L),
      s"e${i % 3}", i.toDouble)).toDF("user_id", "ts", "event_type", "value")
    // one-time JVM start-ups are not the subject: Hadoop's Shell probes
    // (on the first write) and Spark's `getconf PAGESIZE` (on the first
    // heartbeat, 10-20 s after start, when ProcfsMetricsGetter loads)
    events.write.parquet(s"$root/warm")
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val cfg = ClusterMaintenance.Config(threshold = 0.9)
    var read = Seq.empty[Long]
    val starts = processStarts {
      events.write.parquet(s"$root/events")
      ClusterMaintenance.foldBatch(vecs.toDF("vec_id", "embedding"), 0L,
        s"$root/cstate", s"$root/corpus", "vec_id", "embedding", cfg)
      SpanDedupMaintenance.foldBatch(docs.toDF("doc_id", "toks"), 0L,
        s"$root/grams", s"$root/clean", "doc_id", "toks")
      val src = s"$root/src"
      Files.createDirectories(Paths.get(src))
      val in = spark.readStream.schema(events.schema).parquet(src)
      val qs = Seq(
        Streams.sessionize(in.as[Streams.Event], gapMillis = 1800 * 1000L).writeStream
          .format("memory").queryName("nofork_sessions").outputMode("append")
          .option("checkpointLocation", s"$root/chk_sessions").start(),
        Streams.windowedCounts(in).writeStream.format("memory")
          .queryName("nofork_windows").outputMode("append")
          .option("checkpointLocation", s"$root/chk_windows").start())
      try {
        val part = Files.list(Paths.get(s"$root/events")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.copy(part, Paths.get(src, part.getFileName.toString))
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
      read = qs.map(_.recentProgress.map(_.numInputRows).sum)
    }
    assert(starts.isEmpty, s"${starts.size} process starts: ${starts.distinct.take(5)}")
    // premises: each leg wrote, checksums included
    assert(spark.read.parquet(s"$root/events").count() == 50)
    assert(ClusterMaintenance.latestAssignment(spark, s"$root/cstate").count() == 60)
    assert(read.size == 2 && read.forall(_ > 0), s"input rows per query: $read")
    def crcs(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).count(n => n.startsWith(".") && n.endsWith(".crc"))
    assert(crcs(s"$root/events") > 0, "parquet part files keep their .crc")
    assert(crcs(s"$root/chk_windows/offsets") > 0, "checkpoint offsets keep their .crc")
    assert(crcs(s"$root/chk_windows/commits") > 0, "checkpoint commits keep their .crc")
  }
}
