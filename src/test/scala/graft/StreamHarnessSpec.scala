package graft

/** One streaming harness per lifecycle shape, run twice at sf0.001 through
  * the declared query surface: q66 (memory sink), q73 (kill + outage), q90
  * (stateful kill mid-wave), q104 (service stream) and q124 (takedown and
  * resume). A harness must leave nothing running or cached behind it, and a
  * second run in the same session must return the same rows. */
class StreamHarnessSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  /** Spark clones a session for every cached plan (and for every stream
    * query, whose clone `StreamRun` releases at stop), and a clone freed by
    * GC starts an `rm -rf` process for its artifact dir. Collect what the
    * harnesses left before the suite ends, so those processes run here and
    * not inside a later suite. */
  override def afterAll(): Unit = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(500) }
    super.afterAll()
  }

  /** Stream execution threads alive in the JVM: the harnesses start their
    * queries in sessions of their own, whose `streams.active` the spec
    * cannot see, and a stopped query has joined its thread. */
  private def streamThreads: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith("stream execution thread"))
  }

  for (name <- Seq("q66_stream_parity", "q73_stream_file_sink",
                   "q90_stream_session_sink", "q104_stream_clusters",
                   "q124_stream_span_takedown"))
    test(s"$name stops its streams, releases its caches and repeats its rows") {
      spark.catalog.clearCache()
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      def run(): Seq[String] = {
        val rows = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
        assert(streamThreads.isEmpty, s"$name left a stream running")
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
        assert(leaked.isEmpty, s"$name left persisted RDDs $leaked")
        assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sharedState.cacheManager.isEmpty, s"$name left a CacheManager entry")
        rows
      }
      val first = run()
      assert(first.nonEmpty, s"premise: $name returns rows at sf0.001")
      assert(run() == first, s"$name returned other rows on its second run")
    }
}
