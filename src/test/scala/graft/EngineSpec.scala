package graft

/** The spec suite runs on the production session: `TestSession` comes from
  * `Engine.session`, so its settings cannot drift from the mains' again. */
class EngineSpec extends SparkSpec {

  test("the test session carries the factory's production settings") {
    val expected = Map(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC")
    // a newSession() child (several queries run on one) inherits them too,
    // so Tables.events needs no per-access conf write
    for (s <- Seq(spark, spark.newSession()); (k, v) <- expected)
      assert(s.conf.get(k) == v, k)
  }
}
