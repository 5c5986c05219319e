package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.functions.TextFunctions.tokens
import graft.jobs.{ClusterMaintenance, SpanDedupMaintenance}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One call into the program. `group` is the workload's unit of work (a
  * query execution, an ingest step, a stream wave); its latency is the sum
  * of the calls in the group. */
final case class OpRec(kind: String, group: String, pass: Int, seconds: Double,
                       constructS: Double, ok: Boolean, error: String, out: String)

/** A result to check against an oracle outside the JVM: the parquet at
  * `got` must equal the oracle query `oracle` run over `tables` (table name
  * -> parquet files). */
final case class Check(name: String, pass: Int, got: String, oracle: String,
                       tables: Map[String, Seq[String]])

final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
                val work: String, val cores: Int, val params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt

  /** Times `body` as one call of `kind`; a thrown exception is recorded as a
    * failed call, never rethrown. */
  def call(kind: String, group: String, pass: Int, spanName: String, layer: String)
          (body: => (Double, String)): OpRec = {
    val t0 = System.nanoTime()
    try {
      val (c, out) = tracer.span(spanName, layer)(body)
      OpRec(kind, group, pass, (System.nanoTime() - t0) / 1e9, c, ok = true, "", out)
    } catch {
      case NonFatal(e) =>
        OpRec(kind, group, pass, (System.nanoTime() - t0) / 1e9, 0.0, ok = false,
          e.toString.take(500), "")
    }
  }
}

trait Workload {
  /** Tables the sources probe resolves through `Engine.Tables.table`. */
  def tables: Seq[String] = Nil
  def streamSession: Option[SparkSession] = None
  /** One pass over the workload's operations. The warm pass may run a
    * shorter sequence on its own inputs. */
  def pass(p: Int, warm: Boolean): Seq[OpRec]
  /** What the pass left on disk, for the byte metrics. */
  def facts(p: Int): Map[String, Double]
  /** Results of the pass to check, written out after the pass (untimed). */
  def check(p: Int, ops: Seq[OpRec]): Seq[Check]
  /** The program's own oracle SQL for the checks' `oracle` keys. */
  def oracleSql: Map[String, String]
}

object Workload {
  /** The workload named by the `parts` parameter of its generated inputs. */
  def apply(ctx: Ctx): Workload = new Parts(ctx.params("parts").split(",").toSeq.map {
    case "queries" => new QueryMix(ctx)
    case "services" => new ServiceFolds(ctx)
    case "stream" => new StreamSessions(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload part $other")
  })

  def files(dir: String): Seq[File] = {
    val f = new File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => files(c.getPath))
  }
  def bytes(dirs: String*): Double = dirs.flatMap(files).map(_.length).sum.toDouble
}

/** Several parts run one after the other in each pass. */
final class Parts(parts: Seq[Workload]) extends Workload {
  override def tables: Seq[String] = parts.flatMap(_.tables)
  override def streamSession: Option[SparkSession] = parts.flatMap(_.streamSession).headOption
  def pass(p: Int, warm: Boolean): Seq[OpRec] = parts.flatMap(_.pass(p, warm))
  def facts(p: Int): Map[String, Double] = parts.map(_.facts(p)).reduce { (a, b) =>
    a ++ b.map { case (k, v) => k -> (v + a.getOrElse(k, 0.0)) }
  }
  def check(p: Int, ops: Seq[OpRec]): Seq[Check] = parts.flatMap(_.check(p, ops))
  def oracleSql: Map[String, String] = parts.map(_.oracleSql).reduce(_ ++ _)
}

/** A fixed list of `SparkEntry.queries` (`queries` parameter) over the
  * generated tables: each call builds the DataFrame (the `queries` layer,
  * eager jobs included) and writes it as parquet (the write action). Every
  * output is checked against the query's DuckDB oracle. */
final class QueryMix(ctx: Ctx) extends Workload {
  override val tables: Seq[String] = ctx.params("tables").split(",").toSeq
  private val entries = ctx.params("queries").split(",").toSeq.map { id =>
    SparkEntry.queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $id"))
  }
  private def out(q: String, p: Int) = s"${ctx.work}/out/$q/p=$p"

  def pass(p: Int, warm: Boolean): Seq[OpRec] = entries.map { q =>
    ctx.call("query", q, p, q, "op") {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span(s"construct:$q", "queries")(SparkEntry.queries(q)(ctx.spark, ctx.data))
      val construct = (System.nanoTime() - t0) / 1e9
      ctx.tracer.span(s"write:$q", "write")(df.write.mode("overwrite").parquet(out(q, p)))
      (construct, out(q, p))
    }
  }

  def facts(p: Int): Map[String, Double] = Map(
    "stored_bytes" -> Workload.bytes(entries.map(out(_, p)): _*),
    "input_bytes" -> Workload.bytes(tables.map(t => s"${ctx.data}/$t.parquet"): _*))

  def check(p: Int, ops: Seq[OpRec]): Seq[Check] = ops.filter(o => o.ok && o.kind == "query").map { o =>
    Check(o.group, p, o.out, o.group, tables.map(t => t -> Seq(s"${ctx.data}/$t.parquet")).toMap)
  }

  def oracleSql: Map[String, String] =
    entries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
}

/** Ingest batches folded into both parquet-state services, each fold
  * followed by a read of the service state. Every pass starts from empty
  * state directories. The final state of each pass is checked against the
  * program's full-recompute oracles: the cluster assignment against the
  * pruned build over every ingested vector (q103's SQL), the recurring gram
  * counts against a flat recount over every ingested document (q117's). */
final class ServiceFolds(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val ccfg = ClusterMaintenance.Config(compactEvery = ctx.int("compact_every"),
    snapshotEvery = ctx.int("snapshot_every"))
  private val scfg = SpanDedupMaintenance.Config(n = 8, compactEvery = ctx.int("compact_every"))
  private def input(warm: Boolean) = s"${ctx.data}/${if (warm) "warm" else "main"}"
  private def count(warm: Boolean) = ctx.int(if (warm) "warm_batches" else "batches")
  private def batchDirs(warm: Boolean, kind: String) =
    (0 until count(warm)).map(k => s"${input(warm)}/$kind/b=$k")
  private def root(p: Int) = s"${ctx.work}/svc/p=$p"
  private val seen = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val inputs = mutable.Map.empty[Int, Boolean]

  /** Counts state directories that appear for the first time: compacted
    * generations and snapshots, as seen from outside the services. */
  private def observe(p: Int, known: mutable.Set[String]): Unit = {
    val r = root(p)
    val c = seen.getOrElseUpdate(p, mutable.Map.empty)
    def scan(dir: String, pred: String => Boolean, key: String): Unit =
      Option(new File(dir).list).toSeq.flatten.filter(pred).foreach { n =>
        if (known.add(s"$dir/$n")) c(key) = c.getOrElse(key, 0.0) + 1
      }
    scan(s"$r/corpus", _.startsWith("gen="), "cluster.compactions")
    scan(s"$r/state", _.startsWith("v="), "cluster.snapshots")
    scan(s"$r/grams", _.startsWith("gen="), "span.compactions")
    scan(s"$r/grams", n => n.startsWith("bloom=") && n.endsWith(".bin"), "span.snapshots")
  }

  def pass(p: Int, warm: Boolean): Seq[OpRec] = {
    inputs(p) = warm
    val r = root(p)
    val (state, corpus, grams, clean) = (s"$r/state", s"$r/corpus", s"$r/grams", s"$r/clean")
    val vecs = batchDirs(warm, "vec_batches").map(spark.read.parquet(_))
    val docs = batchDirs(warm, "doc_batches").map(d => spark.read.parquet(d)
      .select(col("doc_id").cast("long").as("doc_id"), tokens(col("text")).as("toks")))
    val known = mutable.Set.empty[String]
    vecs.indices.flatMap { k =>
      val g = s"step:$k"
      val recs = ctx.tracer.span(g, "op") {
        Seq(
          ctx.call("cluster_fold", g, p, s"cluster.fold:$k", "cluster") {
            ClusterMaintenance.foldBatch(vecs(k), k.toLong, state, corpus, "vec_id", "embedding", ccfg)
            (0.0, state)
          },
          ctx.call("cluster_read", g, p, s"cluster.read:$k", "cluster") {
            ClusterMaintenance.latestAssignment(spark, state)
              .write.mode("overwrite").format("noop").save()
            (0.0, state)
          },
          ctx.call("span_fold", g, p, s"span.fold:$k", "span") {
            SpanDedupMaintenance.foldBatch(docs(k), k.toLong, grams, clean, "doc_id", "toks", scfg)
            (0.0, clean)
          },
          ctx.call("span_read", g, p, s"span.read:$k", "span") {
            SpanDedupMaintenance.gramCounts(spark, grams)
              .write.mode("overwrite").format("noop").save()
            (0.0, grams)
          })
      }
      observe(p, known)
      recs
    }
  }

  def facts(p: Int): Map[String, Double] = {
    val r = root(p)
    val vin = Workload.bytes(batchDirs(inputs(p), "vec_batches"): _*)
    val din = Workload.bytes(batchDirs(inputs(p), "doc_batches"): _*)
    Map(
      "cluster.input_bytes" -> vin, "span.input_bytes" -> din,
      "cluster.state_bytes" -> Workload.bytes(s"$r/state", s"$r/corpus"),
      "cluster.state_files" -> (Workload.files(s"$r/state") ++ Workload.files(s"$r/corpus")).size.toDouble,
      "span.state_bytes" -> Workload.bytes(s"$r/grams"),
      "span.state_files" -> Workload.files(s"$r/grams").size.toDouble,
      "stored_bytes" -> Workload.bytes(r),
      "input_bytes" -> (vin + din)) ++ seen.getOrElse(p, Map.empty)
  }

  def check(p: Int, ops: Seq[OpRec]): Seq[Check] = {
    val r = root(p)
    val warm = inputs(p)
    def files(kind: String) = batchDirs(warm, kind).flatMap(Workload.files).map(_.getPath)
      .filter(_.endsWith(".parquet"))
    ClusterMaintenance.latestAssignment(spark, s"$r/state")
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"), col("is_canonical"))
      .write.mode("overwrite").parquet(s"$r/check/cluster")
    SpanDedupMaintenance.gramCounts(spark, s"$r/grams").filter(col("cnt") >= 2)
      .write.mode("overwrite").parquet(s"$r/check/grams")
    Seq(
      Check("cluster_state", p, s"$r/check/cluster", "q103_pruned_clusters",
        Map("embeddings" -> files("vec_batches"))),
      Check("gram_state", p, s"$r/check/grams", "q117_boilerplate_grams",
        Map("documents" -> files("doc_batches"))))
  }

  def oracleSql: Map[String, String] =
    Seq("q103_pruned_clusters", "q117_boilerplate_grams").map(k => k -> SparkEntry.oracleSql(k)).toMap
}

/** Time-ordered event waves landing in a file-source directory one per
  * trigger, each drained through `Streams.sessionize` and
  * `Streams.windowedCounts`. Every pass starts both queries on an empty
  * source directory with fresh checkpoints. The emitted sessions and windows
  * are checked against batch formulations over all waves (`stream_sessions`
  * and `stream_windows` oracles, run by the benchmark). */
final class StreamSessions(ctx: Ctx) extends Workload {
  private val ss = ctx.spark.newSession()
  ss.conf.set("spark.sql.shuffle.partitions", (2 * ctx.cores).toString)
  override val streamSession: Option[SparkSession] = Some(ss)
  private val schema = "user_id long, ts timestamp, event_type string, value double"
  private def waves(warm: Boolean) =
    new File(s"${ctx.data}/${if (warm) "warm" else "main"}/waves").listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  private def root(p: Int) = s"${ctx.work}/stream/p=$p"
  private val inputs = mutable.Map.empty[Int, Boolean]
  import ss.implicits._

  def pass(p: Int, warm: Boolean): Seq[OpRec] = {
    inputs(p) = warm
    val src = s"${root(p)}/src"
    Files.createDirectories(Paths.get(src))
    val in = ss.readStream.schema(schema).option("maxFilesPerTrigger", 256).parquet(src)
    val (sq1, sq2) = ctx.tracer.span("stream.start", "streaming") {
      (Streams.sessionize(in.as[Streams.Event], gapMillis = 1800 * 1000L).writeStream
        .format("memory").queryName(s"sessions_$p").outputMode("append")
        .option("checkpointLocation", s"${root(p)}/chk_sessions").start(),
       Streams.windowedCounts(in).writeStream.format("memory")
        .queryName(s"windows_$p").outputMode("append")
        .option("checkpointLocation", s"${root(p)}/chk_windows").start())
    }
    try waves(warm).zipWithIndex.map { case (f, w) =>
      ctx.call("wave", s"wave:$w", p, s"stream.wave:$w", "streaming") {
        // land the wave atomically: hidden copy, then rename into place
        val tmp = Paths.get(src, s".${f.getName}")
        Files.copy(f.toPath, tmp)
        Files.move(tmp, Paths.get(src, f.getName), StandardCopyOption.ATOMIC_MOVE)
        sq1.processAllAvailable()
        sq2.processAllAvailable()
        (0.0, src)
      }
    } finally ctx.tracer.span("stream.stop", "streaming") { sq1.stop(); sq2.stop() }
  }

  def facts(p: Int): Map[String, Double] = Map(
    "stored_bytes" -> Workload.bytes(s"${root(p)}/chk_sessions", s"${root(p)}/chk_windows"),
    "input_bytes" -> Workload.bytes(waves(inputs(p)).map(_.getPath): _*))

  def check(p: Int, ops: Seq[OpRec]): Seq[Check] = {
    val out = s"${root(p)}/check"
    ss.table(s"sessions_$p").filter(col("user_id") >= 0)
      .select(col("user_id"), unix_millis(col("start")).as("start_ms"),
        unix_millis(col("end")).as("end_ms"), col("n_events"),
        round(col("sum_value"), 6).as("sum_value"))
      .write.mode("overwrite").parquet(s"$out/sessions")
    ss.table(s"windows_$p").filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("w.start")).as("window_us"), col("event_type"), col("n"),
        round(col("sum_value"), 4).as("sum_value"))
      .write.mode("overwrite").parquet(s"$out/windows")
    val events = Map("events" -> waves(inputs(p)).map(_.getPath))
    Seq(Check("stream_sessions", p, s"$out/sessions", "stream_sessions", events),
      Check("stream_windows", p, s"$out/windows", "stream_windows", events))
  }

  def oracleSql: Map[String, String] = Map.empty
}

