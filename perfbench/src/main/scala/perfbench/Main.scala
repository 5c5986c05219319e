package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.Engine

/** Benchmark harness JVM: starts a session through the program's own
  * factory, runs one untimed warm pass, then timed passes of the workload
  * until the time budget is spent and at least two untraced passes ran,
  * checking every pass. Writes a result
  * file (and, when traced, a span file) for `perfbench/run.py`, which
  * checks the outputs against their oracles.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores> <resultFile>
  *        Main train <dir with one input dir per workload> <cores>
  *
  * With tracing on, timed passes alternate untraced and traced (listeners
  * attached), so the run itself measures the tracing overhead. */
object Main {
  final case class PassRec(pass: Int, kind: String, traced: Boolean, wall: Double,
                           facts: Map[String, Double])

  /** Heap in use after a full collection. The second collection runs once
    * Spark's cleaner has dropped the blocks the first one freed. */
  private def heapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def params(dir: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$dir/params.properties")
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** One warm pass of every workload in one JVM: the class-loading profile
    * `run.py` turns into a class-data-sharing archive at build time. */
  private def train(root: String, cores: Int): Unit = {
    val tracer = new Tracer("train")
    val spark = Engine.session("perfbench", s"local[$cores]", cores)
    new java.io.File(root).list.filterNot(_.startsWith("work-")).sorted.foreach { name =>
      val ctx = new Ctx(spark, tracer, s"$root/$name", s"$root/work-$name", cores,
        params(s"$root/$name"))
      val w = Workload(ctx)
      w.check(0, w.pass(0, warm = true))
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "train") return train(args(1), args(2).toInt)
    val Array(workload, data, work, secondsArg, traceArg, coresArg, resultFile) = args
    val (seconds, trace, cores) = (secondsArg.toDouble, traceArg == "1", coresArg.toInt)
    val tracer = new Tracer(s"$workload-${System.currentTimeMillis()}")
    tracer.pass = 0
    val t0 = System.nanoTime()
    val spark = tracer.span("session", "setup")(
      Engine.session("perfbench", s"local[$cores]", cores))
    val ctx = new Ctx(spark, tracer, data, work, cores, params(data))
    val w = Workload(ctx)
    val tw = System.nanoTime()
    val ops = ArrayBuffer.empty[OpRec]
    val checks = ArrayBuffer.empty[Check]
    val passes = ArrayBuffer.empty[PassRec]
    val views = ArrayBuffer.empty[Layers.PassView]

    val warmOps = tracer.span("pass:0", "pass")(w.pass(0, warm = true))
    val warm = (System.nanoTime() - tw) / 1e9
    val setupS = (System.nanoTime() - t0) / 1e9
    ops ++= warmOps
    passes += PassRec(0, "warm", traced = false, warm, w.facts(0))
    checks ++= w.check(0, warmOps)
    var heap = heapMb()

    val probe = new Probe(spark, w.streamSession)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 1
    def count(traced: Boolean) = passes.count(x => x.kind == "timed" && x.traced == traced)
    while (System.nanoTime() < deadline || count(false) < 2 || (trace && count(true) == 0)) {
      val traced = trace && p % 2 == 0
      tracer.pass = p
      if (traced) {
        probe.attach()
        val tables = Engine.tables(spark, data)
        w.tables.foreach(t => tracer.span(s"resolve:$t", "sources")(tables.table(t)))
      }
      val ps = System.nanoTime()
      val passOps = tracer.span(s"pass:$p", "pass")(w.pass(p, warm = false))
      val wall = (System.nanoTime() - ps) / 1e9
      ops ++= passOps
      val seen = if (traced) Some(probe.detach()) else None
      val facts = w.facts(p)
      passes += PassRec(p, "timed", traced, wall, facts)
      seen.foreach(o => views += Layers.PassView(tracer.spans.filter(_.pass == p).toList, o, facts))
      checks ++= w.check(p, passOps)
      heap = math.max(heap, heapMb())
      p += 1
    }

    val layers = if (trace) Layers.metrics(views.toSeq, cores) else Map.empty[String, Double]
    if (trace) {
      var next = tracer.spans.size
      val synth = views.flatMap { v => val s = Layers.synthetic(v, next); next += s.size; s }
      Json.write(resultFile.stripSuffix(".json") + ".trace.json", (tracer.spans ++ synth).map { s =>
        Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
          "run" -> tracer.runId, "pass" -> s.pass, "start_ns" -> s.start, "end_ns" -> s.end)
      })
    }
    Json.write(resultFile, Map(
      "run_id" -> tracer.runId, "workload" -> workload, "cores" -> cores,
      "setup_s" -> setupS, "warm_s" -> warm, "heap_peak_mb" -> heap,
      "passes" -> passes.map(x => Map("pass" -> x.pass, "kind" -> x.kind,
        "traced" -> x.traced, "wall_s" -> x.wall, "facts" -> x.facts)),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "group" -> o.group, "pass" -> o.pass,
        "seconds" -> o.seconds, "construct_s" -> o.constructS, "ok" -> o.ok,
        "error" -> o.error, "out" -> o.out)),
      "checks" -> checks.map(c => Map("name" -> c.name, "pass" -> c.pass, "got" -> c.got,
        "oracle" -> c.oracle, "tables" -> c.tables)),
      "oracle_sql" -> w.oracleSql,
      "layers" -> layers))
    spark.stop()
  }
}
