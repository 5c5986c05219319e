package graft

/** The queries whose operators reuse a frame (curation report, packing,
  * the composed pipeline, the token-budget draw, the takedown rebuild) take
  * it as a snapshot: none leaves a CacheManager entry behind. */
class CacheHygieneSpec extends SparkSpec {

  for (name <- Seq("q65_curation_report", "q81_seq_pack", "q86_incremental_pack",
                   "q88_pipeline_segments", "q102_token_budget",
                   "q119_tombstone_cluster_rebuild"))
    test(s"$name leaves the CacheManager empty") {
      spark.catalog.clearCache()
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty,
        s"premise: $name returns rows at sf0.001")
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty, s"$name left a CacheManager entry")
    }
}
