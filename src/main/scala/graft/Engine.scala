package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory + table registry over the testdata layout
  * (TESTDATA.md). Every main (Bench, Verify, PlanDump, DevRun), the perfbench
  * harness and the spec suite build their session here, so a conf added
  * once reaches all of them.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting, small-shuffle
  * coalescing), shuffle partitions = local cores here but overridable —
  * on a real cluster set `spark.sql.shuffle.partitions` ~ 2-3x total cores.
  */
object Engine {

  /** Local cores for the mains' master and shuffle partition count:
    * SPARK_GRAFT_CPUS, default 4. */
  private val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(appName: String = "graft",
              master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Coalesce shuffles to advisory size rather than max parallelism:
      // avoids fleets of ~ms tasks on small exchanges (measured 3x on the
      // bench suite) and is the right policy on a real cluster too.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // set once at build time: events.parquet is TIMESTAMP(NANOS); setting this
      // per-access would mutate shared session conf from query threads
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the local filesystem without a chmod/readlink process per file,
      // under both Hadoop APIs (sources.LocalFs)
      .config(sources.LocalFs.sparkConf)
    // SPARK_GRAFT_EVENTLOG_DIR=<dir>: write a Spark event log, which
    // tools.EventLogTrace converts into a replayable gridmix trace — any
    // logged run becomes a load mix (the Rumen role end-to-end). Bench sets
    // each query's name as its job description, so the converter can
    // attribute jobs to queries.
    val spark = sys.env.get("SPARK_GRAFT_EVENTLOG_DIR").fold(b) { d =>
      new java.io.File(d).mkdirs()
      b.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", d)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sources.LocalFs.claimCache(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** Typed accessors for the driver-generated testdata tables (TESTDATA.md). */
  final class Tables(spark: SparkSession, dir: String) {
    def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
    /** events.ts normalized to TimestampType regardless of how the driver
      * generated the parquet column — the physical type has changed across
      * testdata generations: TIMESTAMP(NANOS) (unreadable by the vectorized
      * reader; the legacy conf set in `session` surfaces it as a nanos long
      * we integer-divide to micros — double division would lose precision
      * above 2^53 ns) and TIMESTAMP(MICROS) without UTC adjustment (reads
      * as TIMESTAMP_NTZ; the cast re-interprets the wall-clock in the
      * session's UTC zone, the same instant the nanos path produced).
      * Queries downstream always see TimestampType with identical epoch
      * micros. */
    def events: DataFrame = {
      val raw = table("events")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // A long ts is epoch nanos (the observed TIMESTAMP(NANOS) case) or
          // could be plain epoch micros in a future generation. Classify by
          // VALUE, not assumption: 4e15 is ~2096 as micros but Feb 1970 as
          // nanos, so any instant between those dates classifies correctly
          // in either unit — a silent 1000x skew is impossible in the
          // window real event data can occupy.
          import org.apache.spark.sql.functions._
          raw.withColumn("ts", timestamp_micros(
            when(col("ts") > lit(4000000000000000L), expr("ts DIV 1000"))
              .otherwise(col("ts"))))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw // already TimestampType
      }
    }
    def region: DataFrame     = table("region")
    def nation: DataFrame     = table("nation")
    def customer: DataFrame   = table("customer")
    def supplier: DataFrame   = table("supplier")
    def part: DataFrame       = table("part")
    def orders: DataFrame     = table("orders")
    def lineitem: DataFrame   = table("lineitem")
    def documents: DataFrame  = table("documents")
    def embeddings: DataFrame = table("embeddings")
  }

  def tables(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}
