package graft

import graft.Engine.Tables
import graft.functions.TextFunctions._
import graft.operators._
import graft.streaming.{StreamRun, Streams}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The declared query inventory (SURVEY §7.2) — each query is the Spark
  * re-expression of a reference operator (§2), deterministic and (where
  * SQL-expressible) oracle-checked against DuckDB at sf0.01.
  *
  * Determinism rules used throughout:
  *  - every result has a total ORDER BY mirrored in the oracle SQL;
  *  - money sums go through cents (floor(x*100) as BIGINT) — exact,
  *    reduction-order-independent;
  *  - floating aggregates (avg/median/stddev/ratios) are round(_, 6)-ed on
  *    both sides;
  *  - counts/lengths are BIGINT on both sides.
  */
object Queries {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  private def t(spark: SparkSession, dir: String) = new Tables(spark, dir)

  /** documents.text exploded to non-empty whitespace tokens, column `word`. */
  private def words(tables: Tables): DataFrame =
    tables.documents.select(explode(tokens(col("text"))).as("word"))

  // ---- word / text jobs (WordCount, Grep, WordMean/Median/StdDev) ----

  def wordcount(spark: SparkSession, dir: String): DataFrame =
    words(t(spark, dir)).groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")

  def grepTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(explode(regexp_extract_all(col("text"), lit("st[a-z]+"), lit(0))).as("m"))
      .groupBy("m").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("m").asc)
      .limit(20)

  def wordMean(spark: SparkSession, dir: String): DataFrame =
    words(t(spark, dir)).agg(round(avg(length(col("word"))), 6).as("mean_len"))

  def wordMedian(spark: SparkSession, dir: String): DataFrame =
    words(t(spark, dir))
      .agg(round(median(length(col("word")).cast("long")), 6).as("median_len"))

  def wordStddev(spark: SparkSession, dir: String): DataFrame =
    words(t(spark, dir)).agg(round(stddev_pop(length(col("word"))), 6).as("stddev_len"))

  // ---- sorts ----

  def sortLineitem(spark: SparkSession, dir: String): DataFrame =
    Sorts.totalSort(
      t(spark, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date")),
      Seq(col("l_orderkey"), col("l_linenumber")))

  def secondarySort(spark: SparkSession, dir: String): DataFrame =
    Sorts.sortedGroupList(t(spark, dir).lineitem,
        groupCols = Seq(col("l_orderkey")),
        orderCols = Seq(col("l_shipdate"), col("l_linenumber")),
        payload = col("l_linenumber"), alias = "lines")
      // string-encode the grouped list: the driver's pandas comparator cannot
      // hash array cells, so both sides emit "1,3,2"-style CSV
      .select(col("l_orderkey"),
        array_join(transform(col("lines"), _.cast("string")), ",").as("lines"))
      .orderBy("l_orderkey")

  // ---- joins ----

  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    tb.orders
      .join(tb.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(tb.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("c_name"), col("n_name"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    val oAgg = tb.orders.groupBy("o_custkey").agg(count(lit(1)).as("order_cnt"))
    tb.customer.join(oAgg, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("order_cnt"))
      .orderBy("custkey")
  }

  def joinOverride(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    val s1 = tb.customer.select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
    def maxPrice(status: String) = tb.orders
      .filter(col("o_orderstatus") === status)
      .groupBy(col("o_custkey")).agg(max(col("o_totalprice")).as("mx"))
      .select(col("o_custkey").as("k"), col("mx").as("v"))
    Joins.overrideJoin(Seq(s1, maxPrice("F"), maxPrice("O")), "k", "v").orderBy("k")
  }

  def datajoin(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    tb.orders.join(tb.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_orderpriority"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderkey", "l_linenumber")
  }

  // ---- aggregate DSL / histogram / rollup / set ops ----

  def aggDsl(spark: SparkSession, dir: String): DataFrame = {
    import Aggregates._
    val cents = floor(col("o_totalprice") * 100)
    aggregate(t(spark, dir).orders,
      groupCols = Seq(col("o_orderpriority")),
      specs = Seq(
        spec("LongValueSum", cents, "sum_cents"),
        spec("LongValueMax", cents, "max_cents"),
        spec("UniqValueCount", col("o_custkey"), "uniq_cust"),
        spec("ValueCount", col("o_orderkey"), "n_orders")))
      .orderBy("o_orderpriority")
  }

  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Aggregates.valueHistogram(t(spark, dir).orders,
        col("o_orderpriority"), col("o_orderstatus"), "priority")
      .select(col("priority"), col("n_values"), col("min_cnt"), col("max_cnt"),
        round(col("avg_cnt"), 6).as("avg_cnt"),
        round(col("median_cnt"), 6).as("median_cnt"),
        round(col("stddev_cnt"), 6).as("stddev_cnt"))
      .orderBy("priority")

  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    tb.customer.select(col("c_nationkey").as("nk"))
      .intersect(tb.supplier.select(col("s_nationkey").as("nk")))
      .except(tb.nation.filter(col("n_regionkey") === 0).select(col("n_nationkey").as("nk")))
      .orderBy("nk")
  }

  // ---- projection DSLs ----

  def fieldsel(spark: SparkSession, dir: String): DataFrame = {
    val line = concat_ws("\t",
      col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_nationkey"))
    FieldSelection(t(spark, dir).customer.select(line.as("line")), "line", "\t", "2,0:3,1-")
      .orderBy("key", "value")
  }

  def keyfieldSort(spark: SparkSession, dir: String): DataFrame = {
    val wc = words(t(spark, dir)).groupBy("word").agg(count(lit(1)).as("cnt"))
    val lines = wc.select(concat_ws(" ", col("word"), col("cnt")).as("line"))
    KeyFieldSort.sortLines(lines, "line", " ", "-k2,2nr -k1,1")
  }

  // ---- events (DBCountPageView shape, top-k, windows, json) ----

  def pageviews(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).events.groupBy("event_type").agg(count(lit(1)).as("views"))
      .orderBy("event_type")

  def eventsTopKPerGroup(spark: SparkSession, dir: String): DataFrame =
    Sorts.topKPerGroup(t(spark, dir).events.select(col("event_type"), col("event_id"), col("value")),
        groupCols = Seq(col("event_type")),
        orderCols = Seq(col("value").desc, col("event_id").asc), k = 3)
      .orderBy("event_type", "event_id")

  def eventsGlobalTopK(spark: SparkSession, dir: String): DataFrame =
    Sorts.topK(t(spark, dir).events.select(col("event_id"), col("value")),
      Seq(col("value").desc, col("event_id").asc), 50)

  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy("h", "event_type")

  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).events
      .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("k_bucket"))
      .groupBy("k_bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("k_bucket")

  // ---- dedup / similarity / text analysis (LLM-pipeline extensions) ----

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
      .orderBy("lang")

  val JaccardN = 2
  val JaccardThreshold = 0.03

  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
        t(spark, dir).documents.filter(col("doc_id") < 100),
        "doc_id", "text", JaccardN, JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** MinHash-LSH near-dup candidates. threshold 0.5 matches the (16 bands x
    * 4 rows) s-curve midpoint (j ≈ 0.55); the md5 token hash makes the whole
    * sketch DuckDB-reproducible, so this query is hash-checked end to end.
    * Eager: building the frame runs two jobs, the map-only signature
    * snapshot and the collect that bands it on the driver, and releases the
    * snapshot before it returns; above the driver bound, one job, and the
    * snapshot goes once the frame is garbage
    * ([[Dedup.candidatePairsOfSignatures]]). */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(t(spark, dir).documents, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5, tokenHash = md5Hash32)
      .orderBy("id_a", "id_b")

  /** Near-dup CLUSTERS: q25's candidate pairs closed under transitivity via
    * distributed connected components (min-label propagation with pointer
    * jumping — O(log diameter) rounds), with the canonical survivor = min
    * doc_id per cluster. This is the step a production pipeline actually
    * runs — dropping one side of each PAIR over-deletes on chains a–b, b–c.
    * The edge set reuses q25's DuckDB-replayable md5 minhash, so the whole
    * graph — and therefore the clustering — is hash-checked end to end
    * (oracle: recursive-CTE min-label closure over the same edges).
    * Eager: below the driver bound, building the frame runs two jobs (the
    * signature snapshot and its collect); the pairs come back as a local
    * relation, which the CC closes on the driver with no further job. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, release) = Dedup.candidatePairsOfSignatures(
      Dedup.minhashSignatures(t(spark, dir).documents, "doc_id", "text",
        numHashes = 64, tokenHash = md5Hash32),
      numHashes = 64, bands = 16, threshold = 0.5)
    // the CC consumes the pairs eagerly into a materialized frame (the
    // release is a no-op when the pairs were banded on the driver)
    val cc = try Dedup.connectedComponents(pairs, "id_a", "id_b") finally release()
    val sz = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sz, Seq("component"))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(spark, dir).documents, "doc_id", "text", Dedup.Md5Words)
      .orderBy("id")

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .orderBy("doc_id")

  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "la"),
    "es" -> Seq("el", "y", "la"),
    "zh" -> Seq("de", "shi"))

  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .groupBy(col("lang"), langId(col("text"), LangProfiles).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("doc_id"), qualityMetrics(col("text"), Stopwords).as("q"))
      .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
        col("q.n_uniq").as("n_uniq"), col("q.uniq_ratio").as("uniq_ratio"),
        col("q.avg_token_len").as("avg_token_len"),
        col("q.stopword_ratio").as("stopword_ratio"))
      .orderBy("doc_id")

  def langTokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_uniq_tokens"),
        round(avg(length(col("word"))), 6).as("avg_token_len"))
      .orderBy("lang")

  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.cosineTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", k = 5)
      .select(col("qid"), col("rank"), col("id"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Multi-probe LSH ANN at the exhaustive setting (probeRadius = numPlanes):
    * probes every bucket, which the recall test proves equals brute force —
    * making the LSH plumbing itself oracle-checkable. The approximate
    * configurations (radius 0-2) are covered by the recall spec. Query set
    * (% 50 == 25) is disjoint from q31's so the two queries differ. */
  def simLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 25)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.lshCosineTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1)
      .select(col("qid"), col("rank"), col("id"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Window analytics (capability superset — the reference has no window
    * functions): per-customer running order total + previous order gap. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"),
        sum(floor(col("o_totalprice") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** IVF ANN at the exhaustive setting (nprobe = nlist): every list is
    * probed, which IvfSpec proves equals brute force — so the full IVF build
    * (Lloyd iterations + list assignment + probe ranking) is oracle-checked.
    * The approximate nprobe < nlist trade is covered by the spec. Query set
    * (% 50 == 10) is disjoint from q31/q32's. */
  def simIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 5, nlist = 16, nprobe = 16)
      .select(col("qid"), col("rank"), col("id"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Pruned-configuration LSH ANN (q59) — the 100 TB path, driver-checked:
    * 16 tables x 4 planes, probe radius 1 (the config the operator doc derives
    * recall ~ 0.99 for on this corpus), scored as per-query recall against the
    * in-Spark brute-force top-k. Everything is seeded (xorshift planes, fixed
    * query set % 50 == 7), so the recall table is deterministic and the DuckDB
    * oracle replays the ENTIRE pruned pipeline — signatures, probe masks,
    * bucket join, exact re-rank — from the same plane constants, then computes
    * the same hit counts. Unlike q32 (exhaustive probing = brute force), this
    * query's plan contains the real bucketed candidate join. */
  def simLshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lsh = Similarity.lshCosineTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
    val bf = Similarity.cosineTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5)
    Similarity.topKRecall(bf, lsh).orderBy("qid")
  }

  /** Pruned-configuration IVF ANN (q60): nprobe=12 of nlist=16, scored as
    * per-query recall against the in-Spark brute-force top-k (query set
    * % 50 == 33, disjoint from q31/q32/q42/q59). The build is
    * `ivfTopKExact`: md5-seeded, exact-integer Lloyd over int8-quantized
    * vectors — bit-deterministic in ANY engine, so the DuckDB oracle
    * replays the WHOLE pipeline (seeds → 2 Lloyd iterations → inverted
    * lists → 12-probe → full-precision re-rank) and checks the recall ROWS
    * exactly, like q59 does for LSH. nprobe is 12 rather than the classic
    * 1-4 because the synthetic embeddings are near-random — a true
    * neighbor's list membership is barely correlated with the query's; on
    * genuinely clustered real embeddings the same code prunes far harder at
    * the same recall. */
  def simIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 33)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = Similarity.ivfTopKExact(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5, nlist = 16, nprobe = 12)
    val bf = Similarity.cosineTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5)
    // The replayed rows prove Spark == oracle; the flag columns ADD the
    // absolute quality claim (the oracle hardcodes 1, so if a retune ever
    // tanks recall on both engines identically, Spark computes 0 and the
    // hash mismatches). Measured: min 0.8, mean 0.96 — floors 0.6/0.9.
    val all = Window.partitionBy() // 10 recall rows — single-partition window is free
    Similarity.topKRecall(bf, ivf)
      .select(col("qid"), col("k"), col("hits"), col("recall"),
        (col("recall") >= 0.6).cast("long").as("recall_ge_060"),
        ((sum(col("hits")).over(all).cast("double") / sum(col("k")).over(all)) >= 0.9)
          .cast("long").as("mean_recall_ge_090"))
      .orderBy("qid")
  }

  /** Benchmark decontamination report (q62): bigram-shingle overlap of every
    * held corpus document (doc_id % 10 >= 3) against the doc_id % 10 < 3
    * slice standing in for an eval suite — the leakage filter a training
    * pipeline runs before a corpus ships. Fully replayed by the DuckDB
    * oracle (string shingles, no hashing involved). */
  def decontaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    CorpusQuality.decontamination(
        docs.filter(col("doc_id") % 10 >= 3), "doc_id", "text",
        docs.filter(col("doc_id") % 10 < 3), "text", n = 2, threshold = 0.5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Int8-quantized similarity quality (q63): brute-force cosine top-k over
    * symmetric-int8-quantized embeddings, scored as per-query recall against
    * the full-precision top-k (query set % 50 == 41, disjoint from the other
    * ANN queries). Quantization + ranking are exact integer arithmetic (see
    * `Similarity.quantizeInt8`), so the DuckDB oracle replays BOTH sides and
    * checks exact hit counts — the memory-reduction path gets the same hard
    * driver signal as the pruning paths (q59/q60). */
  def simQuantizedRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val qemb = emb.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qv"))
    val queries = emb.filter(col("vec_id") % 50 === 41)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val qqueries = qemb.filter(col("vec_id") % 50 === 41)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val quant = Similarity.cosineTopK(qemb, "vec_id", "qv", qqueries, "qid", "qvec",
      k = 5)
    val full = Similarity.cosineTopK(emb, "vec_id", "embedding", queries, "qid", "qvec",
      k = 5)
    Similarity.topKRecall(full, quant).orderBy("qid")
  }

  /** Per-document top rare terms (q64): rarity-weighted term importance over
    * the documents table — the keyword-extraction tier of text analysis.
    * score = tf x (N/df) with the exact arithmetic shape mirrored in the
    * oracle SQL (see CorpusQuality.topTermsByRarity for why raw idf). */
  def topRareTerms(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.topTermsByRarity(t(spark, dir).documents, "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")

  /** q65 configuration, shared with the oracle-SQL generator so both sides
    * interpolate the SAME thresholds. Values chosen so every configurable
    * stage BINDS on the test corpus (token counts span 10-99 with p10 ≈ 21;
    * uniq ratios start at 0.277; stopword ratios reach 0.222): minTokens is
    * an integer compare (no float boundary), the ratio gates compare the
    * same round(_, 6) values q29 hash-proves both engines agree on. */
  val CurationCfg: jobs.CorpusPipeline.Config = jobs.CorpusPipeline.Config(
    minTokens = 20, maxStopwordRatio = 0.2, minUniqRatio = 0.3,
    tokenHash = md5Hash32)

  /** End-to-end curation pipeline report (q65): the full composed product —
    * quality gate → exact dedup → MinHash near-dup removal → language-ID —
    * run over `documents`, reported as per-language stage survivor counts.
    * The MD5 token hash makes the MinHash stage (and so the whole
    * composition) replayable by the DuckDB oracle: the oracle is a CTE chain
    * of the q29/q23/q25/q28 stage oracles. */
  def curationReport(spark: SparkSession, dir: String): DataFrame =
    jobs.CorpusPipeline.curationReport(t(spark, dir).documents, CurationCfg)
      .orderBy("lang")

  private val streamRunCounter = new java.util.concurrent.atomic.AtomicLong()

  /** The staged-wave stream of the service harnesses (q104/q116/q123/q124).
    * `stageWave(w)` appends `wave(w)` to the stage as one file and stamps
    * its modification time to slot `w` of a fixed minute ladder: the file
    * source orders batches by modification time, so the ladder makes batch
    * order (hence the append-only fold discipline) deterministic regardless
    * of write-clock granularity. `start()` starts the checkpointed stream
    * that hands each one-file micro-batch to `fold`. The plain derived
    * session ([[derivedSessions]]), not [[streamSession]]: the query has no
    * stateful operator (the fold owns all state as parquet dirs), so the
    * 8-partition state-store tuning would only slow the fold's batch jobs. */
  private def serviceStream(spark: SparkSession, tag: String, wave: Int => DataFrame)
                           (fold: (DataFrame, Long) => Unit)
      : (Int => Unit, () => org.apache.spark.sql.streaming.StreamingQuery) = {
    val stage = scratchDir(spark, s"${tag}_src")
    val chk = scratchDir(spark, s"${tag}_chk")
    val ss = derivedSessions(spark)._1
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val sfs = stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamped = scala.collection.mutable.Set[String]()
    def stageWave(w: Int): Unit = {
      wave(w).coalesce(1).write.mode("append").parquet(stage)
      sfs.listStatus(stagePath).foreach { f =>
        val n = f.getPath.getName
        if (f.isFile && !n.startsWith("_") && !n.startsWith(".") && stamped.add(n))
          sfs.setTimes(f.getPath, 1704067200000L + w * 60000L, -1)
      }
    }
    val schema = wave(0).schema
    def start() = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch(fold)
      .start()
    (stageWave, () => start())
  }

  /** Slice `w` of `n` equal ascending slices of the ids 0..maxId. */
  private def idSlice(id: Column, maxId: Long, n: Int, w: Int): Column =
    id >= (maxId + 1) * w / n && id < (maxId + 1) * (w + 1) / n

  /** A fresh per-CALL scratch root for queries that MUTATE their state
    * (the service fold sequences and takedown/lifecycle gates) — repeat
    * bench passes must never collide on a shared dir, and the root is
    * registered with the same shutdown-hook cleanup as every other
    * scratch dir instead of leaking corpus-sized /tmp copies per pass. */
  private def freshScratchDir(spark: SparkSession, tag: String): String =
    scratchDir(spark, s"${tag}_${streamRunCounter.getAndIncrement()}")

  /** The derived session of the stateful stream harnesses, with state-store
    * parallelism sized to the harness: every stateful micro-batch pays a
    * per-partition state-store open/commit per trigger, so 32 shuffle
    * partitions x 6+ file-wave triggers is ~200 store commits to hold a few
    * thousand keys — pure fixed cost. 8 partitions carry identical
    * semantics at a quarter of it. A PRODUCTION stream sizes this to
    * cluster cores exactly like any shuffle; the derived session also
    * keeps the setting (and the memory-sink temp views, see [[sinkTable]])
    * out of the shared session that Verify runs concurrent queries on. */
  private def streamSession(spark: SparkSession): SparkSession =
    derivedSessions(spark)._2

  private val derivedByParent =
    new java.util.WeakHashMap[SparkSession, (SparkSession, SparkSession)]()

  /** The two sessions the stream harnesses run in, derived once per parent
    * session and kept for its life: a plain one ([[serviceStream]]) and the
    * state-store-tuned one ([[streamSession]]). Not one per call: every
    * session that runs a job registers an artifact-dir cleanup that starts
    * an `rm -rf` process when GC frees the session, at GC's time, not the
    * harness's. */
  private def derivedSessions(spark: SparkSession): (SparkSession, SparkSession) =
    derivedByParent.synchronized {
      derivedByParent.computeIfAbsent(spark, _ => {
        val tuned = spark.newSession()
        tuned.conf.set("spark.sql.shuffle.partitions", "8")
        (spark.newSession(), tuned)
      })
    }

  /** The memory sink `name`'s rows, its temp view dropped: the frame holds
    * the sink itself, and a view left in the long-lived [[streamSession]]
    * would hold every call's rows for the session's life. */
  private def sinkTable(ss: SparkSession, name: String): DataFrame = {
    val rows = ss.table(name)
    ss.catalog.dropTempView(name)
    rows
  }

  /** Staged curation corpus + a dedup lateness sized to its ingest span.
    * ingest_ts is a pure column function of doc_id at 100 ms spacing, so the
    * corpus time-span grows with the data: a FIXED 1 h horizon would start
    * dropping later-trigger documents as "late" once the span crossed it —
    * a parity failure at a larger SF that would look like a dedup bug. The
    * horizon is derived from the max doc id (a bounded scalar aggregate, the
    * only driver value here) so span + re-ingest offset always sit inside
    * it, at any scale. */
  private def curationIngest(base: DataFrame): (DataFrame, String) = {
    val maxRow = base.agg(max(col("doc_id").cast("long"))).head
    // empty corpus → max() is null; 0 keeps the pipeline flowing (an empty
    // stage streams zero rows and the aggregates match the oracle's)
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val spanSec = (maxId * 100L) / 1000L + 61L // ingest span + re-ingest offset
    val latenessSec = math.max(3600L, 2L * spanSec)
    // a snapshot: the stage write and the re-ingest wave both consume this
    // frame (and for q70/q73 it carries the single-lang self-join) — the
    // harness releases it when its stream stops
    val docs = Snapshot.take(base
      .select(col("doc_id").cast("long").as("doc_id"),
        timestamp_millis(lit(1704067200000L) + col("doc_id").cast("long") * 100L)
          .as("ingest_ts"),
        col("text"), col("lang")))
    (docs, s"$latenessSec seconds")
  }

  /** One time-ordered file wave per `sides` frame on SHARED global
    * boundaries (all sides' watermarks advance together), each wave drained
    * as its own trigger set before the next lands — the shape a production
    * ingest has. Shared by the q67/q72, q68, and q69 harnesses so the
    * boundary arithmetic and file coalescing cannot drift apart. */
  private def writeWaves(sq: org.apache.spark.sql.streaming.StreamingQuery,
                         lo0: Long, hi0: Long, nWaves: Int,
                         sides: Seq[(DataFrame, String, String)]): Unit =
    writeWaveRange(Some(sq), lo0, hi0, nWaves, 0 until nWaves, sides)

  /** One staged-file wave per index in `waves` (of a global [lo0, hi0] span
    * split `nWaves` ways — the boundaries don't move when a caller stages
    * different wave subsets across a kill/restart). `sq` = None stages the
    * files with NO query running (an outage window). */
  private def writeWaveRange(sq: Option[org.apache.spark.sql.streaming.StreamingQuery],
                             lo0: Long, hi0: Long, nWaves: Int, waves: Range,
                             sides: Seq[(DataFrame, String, String)]): Unit =
    waves.foreach { i =>
      val wLo = lo0 + (hi0 - lo0 + 1) * i / nWaves
      val wHi = lo0 + (hi0 - lo0 + 1) * (i + 1) / nWaves
      sides.foreach { case (df, tsCol, stage) =>
        // repartition(2): the snapshot slice would otherwise write one
        // near-empty file per snapshot partition each wave
        df.filter(unix_millis(col(tsCol)) >= wLo && unix_millis(col(tsCol)) < wHi)
          .repartition(2)
          .write.mode("append").parquet(stage)
      }
      sq.foreach(_.processAllAvailable())
    }

  /** Re-ingest wave: the same documents arriving again 60 s later — inside
    * the watermark horizon, so the stream's digest-dedup state must still
    * remember and drop every one of them. Coalesced to two files: the wave
    * inherits the snapshot's partitioning otherwise (~32 near-empty
    * files), and at maxFilesPerTrigger=1 each becomes its own micro-batch —
    * pure per-trigger fixed cost with identical semantics. */
  private def reIngestWave(docs: DataFrame, stage: String): Unit =
    docs.filter(col("doc_id") % 20 === 0)
      .withColumn("ingest_ts",
        timestamp_millis(unix_millis(col("ingest_ts")) + 60000L))
      .repartition(2)
      .write.mode("append").parquet(stage)

  /** The curation memory-stream body of q66 and q70: `base` (through
    * [[curationIngest]]) staged as four files and streamed two files per
    * trigger through `CorpusPipeline.curateStream` into a memory sink; once
    * drained, a re-ingest wave of every 20th document lands inside the
    * watermark horizon and is drained too. Returns the sink's table. */
  private def curationMemoryStream(spark: SparkSession, dir: String, tag: String,
                                   base: DataFrame): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val ss = streamSession(spark)
    val stage = scratchDir(spark, s"${tag}_${Integer.toHexString(dir.hashCode)}_$runId")
    val name = s"${tag}_stream_$runId"
    val (docs, lateness) = curationIngest(base)
    try {
      docs.repartition(4).write.mode("overwrite").parquet(stage)
      val stream = ss.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
      StreamRun.run(() => jobs.CorpusPipeline.curateStream(stream, lateness = lateness)
          .writeStream.format("memory").queryName(name).outputMode("append").start()) { sq =>
        sq.processAllAvailable()
        reIngestWave(docs, stage)
        sq.processAllAvailable()
      }
    } finally Snapshot.release(docs)
    sinkTable(ss, name)
  }

  /** Streaming curation parity (q66): the curation pipeline (quality gate +
    * watermarked content dedup) on the PRODUCTION file-source ingest path,
    * checked with a survivor-INDEPENDENT global aggregate. The file source
    * cannot control which copy of a duplicate text arrives first, so any
    * survivor-keyed grouping would be nondeterministic; but the aggregate
    * here is a pure function of the SET of surviving texts (exactly one
    * survivor per digest group, n_tokens a function of the text itself), so
    * it is deterministic over the FULL corpus — no exclusions — at any
    * scale. Complement of q70, whose per-language grouping needs cross-lang
    * duplicate texts excluded. A second file wave re-ingests every 20th
    * document inside the watermark horizon; the dedup state must drop all
    * of them or the counts diverge from the batch oracle. */
  def streamingCurationParity(spark: SparkSession, dir: String): DataFrame =
    curationMemoryStream(spark, dir, "q66", t(spark, dir).documents)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        min(col("n_tokens")).cast("long").as("min_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"))

  /** The event slice a stream harness replays (q67/q68/q69/q72/q90):
    * `events` filtered to `slice` and projected to `cols` (which name a
    * `ts` column), a [[Snapshot]] while `body` runs and released after. The
    * snapshot keeps the min/max aggregate and every wave filter off the
    * events parquet: those scans are harness cost, and the operator under
    * test reads only the staged files. `body` gets the slice and its
    * [min, max] `ts` in epoch millis; an empty slice returns `empty`, the
    * empty result the oracle yields. */
  private def eventSlice(spark: SparkSession, dir: String, slice: Column, cols: Column*)
                        (empty: => DataFrame)
                        (body: (DataFrame, Long, Long) => DataFrame): DataFrame = {
    import spark.implicits._
    Snapshot.scoped(t(spark, dir).events.filter(slice).select(cols: _*)) { evs =>
      val (lo, hi) = evs.agg(min(col("ts")), max(col("ts")))
        .as[(java.sql.Timestamp, java.sql.Timestamp)].head()
      if (lo == null) empty else body(evs, lo.getTime, hi.getTime)
    }
  }

  /** [[eventSlice]] for the sessionizer harnesses (q67/q72/q90): the
    * `user_id % 10 = sliceMod` events as `Streams.Event` rows, timestamps
    * second-truncated so the stream's millisecond gap predicate and the
    * oracle's whole-second one are identical. */
  private def sessionSlice(spark: SparkSession, dir: String, sliceMod: Int)
                          (body: (DataFrame, Long, Long) => DataFrame): DataFrame = {
    import spark.implicits._
    eventSlice(spark, dir, col("user_id") % 10 === sliceMod,
        col("user_id").cast("long").as("user_id"),
        date_trunc("second", col("ts")).cast("timestamp").as("ts"),
        col("event_type"), col("value").cast("double").as("value"))(
      spark.emptyDataset[(Long, String, Long, Double)]
        .toDF("user_id", "session_start", "n_events", "sum_value"))(body)
  }

  /** The sessionizer harnesses' result: the sessions without the sentinel,
    * in the oracle's shape and order. */
  private def sessionRows(sessions: DataFrame): DataFrame =
    sessions.filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("user_id", "session_start")

  /** The two far-future sentinel waves of the event harnesses: each lands
    * one `user_id = -1` event `k * stepMs` past `hi0` and is drained. The
    * first advances the watermark past every open (end + gap) or window
    * end; the second runs the pass that emits them (watermarks update at
    * end-of-batch). The results filter the sentinel out. */
  private def sentinelWaves(spark: SparkSession,
                            sq: org.apache.spark.sql.streaming.StreamingQuery,
                            stage: String, hi0: Long, stepMs: Long): Unit = {
    import spark.implicits._
    Seq(1, 2).foreach { k =>
      Seq((-1L, new java.sql.Timestamp(hi0 + k * stepMs), "sentinel", 0.0))
        .toDF("user_id", "ts", "event_type", "value")
        .write.mode("append").parquet(stage)
      sq.processAllAvailable()
    }
  }

  /** Shared file-source replay for the stateful sessionizer (q67/q72): the
    * flatMapGroupsWithState sessionizer driven by `readStream` over staged
    * parquet, no driver-side collect of events (the only driver values are
    * the min/max timestamp aggregates that size the waves). Events arrive
    * as `nWaves` time-ordered file waves — the shape a production ingest
    * has (files land roughly in event-time order); each wave is one
    * micro-batch, so the advancing watermark never drops an in-order event.
    * (The watermark-STRADDLING out-of-order case is pinned separately in
    * StreamsSpec's adversarial-lateness test.) Two far-future sentinel
    * waves advance the watermark and fire the timeouts that close every
    * session. Oracle = the batch window-function formulation over the same
    * slice. */
  private def fileSessionParity(spark: SparkSession, dir: String, tag: String,
                                sliceMod: Int, nWaves: Int): DataFrame = {
    import spark.implicits._
    val runId = streamRunCounter.getAndIncrement()
    val stage = scratchDir(spark,
      s"${tag}_${Integer.toHexString(dir.hashCode)}_$runId")
    sessionSlice(spark, dir, sliceMod) { (evs, lo0, hi0) =>
      val ss = streamSession(spark)
      val stream = ss.readStream
        .schema(evs.schema)
        .option("maxFilesPerTrigger", 256) // each wave lands as ONE trigger
        .parquet(stage)
        .as[Streams.Event]
      val name = s"${tag}_stream_$runId"
      StreamRun.run(() => Streams.sessionize(stream, gapMillis = 1800 * 1000L)
          .writeStream.format("memory").queryName(name).outputMode("append").start()) { sq =>
        writeWaves(sq, lo0, hi0, nWaves, Seq((evs, "ts", stage)))
        sentinelWaves(spark, sq, stage, hi0, stepMs = 3600000L)
      }
      sessionRows(sinkTable(ss, name))
    }
  }

  /** Streaming stateful sessionization parity (q67) on the file-source
    * ingest path (three time-ordered waves over the user_id % 10 = 0
    * slice). The MemoryStream replay this replaces lives on as StreamsSpec's
    * adversarial-lateness and hot-key property tests. */
  def streamingSessionParity(spark: SparkSession, dir: String): DataFrame =
    fileSessionParity(spark, dir, "q67", sliceMod = 0, nWaves = 3)

  /** Streaming windowed-aggregation parity (q68): the watermarked
    * tumbling-window aggregate (`Streams.windowedCounts`) driven by
    * `readStream` over staged parquet file waves, checked against the batch
    * date_trunc formulation (the q19 shape). Append-mode windows emit only
    * once the watermark passes their end — time-ordered waves (one
    * micro-batch each, so the advancing watermark never drops an in-order
    * event) plus two far-future sentinel waves flush every window, proving
    * the bounded-state emission path with no driver-side collect. */
  def streamingWindowParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val runId = streamRunCounter.getAndIncrement()
    val stage = scratchDir(spark,
      s"q68_${Integer.toHexString(dir.hashCode)}_$runId")
    eventSlice(spark, dir, col("user_id") % 10 === 1,
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value").cast("double").as("value"))(
      spark.emptyDataset[(String, String, Long, Double)]
        .toDF("h", "event_type", "n", "sum_value")) { (evs, lo0, hi0) =>
      val ss = streamSession(spark)
      val stream = ss.readStream
        .schema(evs.schema)
        .option("maxFilesPerTrigger", 256) // each wave lands as ONE trigger
        .parquet(stage)
      val name = s"q68_stream_$runId"
      StreamRun.run(() => Streams.windowedCounts(stream)
          .writeStream.format("memory").queryName(name).outputMode("append").start()) { sq =>
        writeWaves(sq, lo0, hi0, nWaves = 3, Seq((evs, "ts", stage)))
        sentinelWaves(spark, sq, stage, hi0, stepMs = 7200000L)
      }
      sinkTable(ss, name)
        .filter(col("event_type") =!= "sentinel")
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
          col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy("h", "event_type")
    }
  }

  /** Stream-stream interval-join parity (q69): purchases and clicks arrive
    * as TWO file-source streams (one staged parquet directory per side)
    * through the watermark-bounded interval join (`Streams.intervalJoin`:
    * click within the 30 minutes up to the purchase), checked against the
    * batch BETWEEN join. Waves are split on SHARED global time boundaries
    * and written to both sides before each trigger, so the two sources'
    * watermarks advance together: a click needed by a next-wave purchase is
    * at most 30 minutes older than it, far inside the 1 h join state
    * horizon. Inner joins emit on match — no sentinel flush needed.
    * Timestamps are second-truncated on both sides (the oracle compares at
    * DuckDB's nanosecond resolution, Spark at microseconds — truncation
    * makes the interval boundaries identical predicates). */
  def streamingIntervalJoinParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val runId = streamRunCounter.getAndIncrement()
    val hex = Integer.toHexString(dir.hashCode)
    val stageP = scratchDir(spark, s"q69p_${hex}_$runId")
    val stageC = scratchDir(spark, s"q69c_${hex}_$runId")
    // ONE slice definition for both sides; the split is by event_type column
    eventSlice(spark, dir,
        col("user_id") % 10 === 2 && col("event_type").isin("purchase", "click"),
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        date_trunc("second", col("ts")).cast("timestamp").as("ts"),
        col("event_type"))(
      spark.emptyDataset[(Long, Long, Long)]
        .toDF("user_id", "purchase_id", "click_id")) { (evs, lo0, hi0) =>
      val purchases = evs.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = evs.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val ss = streamSession(spark)
      val joined = Streams.intervalJoin(
        ss.readStream.schema(purchases.schema)
          .option("maxFilesPerTrigger", 256).parquet(stageP),
        ss.readStream.schema(clicks.schema)
          .option("maxFilesPerTrigger", 256).parquet(stageC),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
        before = "30 minutes", after = "0 seconds")
      val name = s"q69_stream_$runId"
      StreamRun.run(() => joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()) { sq =>
        writeWaves(sq, lo0, hi0, nWaves = 3,
          Seq((purchases, "ts", stageP), (clicks, "click_ts", stageC)))
      }
      sinkTable(ss, name)
        .select(col("user_id"), col("purchase_id"), col("click_id"))
        .orderBy("user_id", "purchase_id", "click_id")
    }
  }

  /** File-source streaming curation parity (q70): the q66 claim re-proven on
    * the PRODUCTION ingest path — `spark.readStream` over a staged parquet
    * directory with `maxFilesPerTrigger` (so the first wave spans several
    * micro-batch triggers), with NO driver-side collect anywhere in the
    * ingest path: the stage write, the stream, and the aggregate are all
    * plans. A second wave of files re-ingests every 20th document inside the
    * watermark horizon; the stream's watermarked digest dedup must drop ALL
    * of them or the per-language counts diverge from the batch oracle.
    * The dedup lateness is sized to the staged corpus span (curationIngest)
    * so a doc arriving in a later trigger is never "late" at any scale. */
  def streamingFileSourceParity(spark: SparkSession, dir: String): DataFrame =
    curationMemoryStream(spark, dir, "q70", singleLangDocs(t(spark, dir).documents))
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
      .orderBy("lang")

  /** Texts appearing under MORE THAN ONE lang are excluded from the
    * lang-keyed parity corpora (q70/q73): which lang's copy survives the
    * digest dedup is file-arrival-order dependent (uncontrollable on the
    * file-source path), so their lang-keyed aggregate would be
    * nondeterministic. Within-lang duplicates — the dedup behavior under
    * test — remain. At the sf0.01 gate scale the corpus has no duplicate
    * texts at all, so nothing is excluded there; the oracles apply the same
    * single-lang filter. (q66 instead aggregates survivor-independent
    * quantities over the FULL corpus.) */
  private def singleLangDocs(base: DataFrame): DataFrame = {
    val singleLangTexts = base.groupBy("text")
      .agg(countDistinct(col("lang")).as("__nl"))
      .filter(col("__nl") === 1).select("text")
    base.join(singleLangTexts, Seq("text"))
  }

  /** Streaming file-SINK exactly-once (q73): the q70 pipeline re-run with a
    * checkpointed `writeStream.format("parquet")` — the production
    * streaming EXIT path — killed mid-stream and restarted from the
    * checkpoint. Run 1 is stopped the moment its second micro-batch commits
    * (staged files remain unread; stop() can land mid-batch 3). During the
    * outage a re-ingest wave of duplicates lands. Run 2 resumes from the
    * checkpoint, replays any in-flight batch, and drains everything.
    * Exactly-once is the CLAIM and the mechanism that makes the result
    * deterministic under an arbitrary kill point: the sink's _spark_metadata
    * commit log exposes only committed batches to the final read (orphan
    * part files from a killed attempt are invisible), the source WAL replays
    * the uncommitted batch identically, and the restored state store still
    * remembers every pre-kill digest — so the re-ingested duplicates are
    * dropped even though the state crossed a process restart. Oracle = the
    * q70 batch formulation; any lost, duplicated, or resurrected row
    * diverges. */
  def streamingFileSinkExactlyOnce(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q73_${Integer.toHexString(dir.hashCode)}_$runId"
    val stage = scratchDir(spark, s"${tag}_src")
    val out = scratchDir(spark, s"${tag}_out")
    val chk = scratchDir(spark, s"${tag}_chk")
    val (docs, lateness) = curationIngest(singleLangDocs(t(spark, dir).documents))
    val ss = streamSession(spark)
    def start() = jobs.CorpusPipeline.curateStream(
        ss.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        lateness = lateness)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    try {
      docs.repartition(4).write.mode("overwrite").parquet(stage)
      // kill after two committed micro-batches, two staged files still
      // unread (the result is kill-point independent); ingest does not
      // pause while the pipeline is down
      StreamRun.killRestartDrain(() => start(), killAfter = 1,
        outage = reIngestWave(docs, stage))
    } finally Snapshot.release(docs)
    // batch read of the sink dir: Spark reads through _spark_metadata, so
    // only COMMITTED batches are visible
    spark.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
      .orderBy("lang")
  }

  /** File-source streaming sessionization parity (q72): the stateful
    * sessionizer claim over the user_id % 10 = 3 slice in four waves
    * (q67 covers slice 0 in three — same shared harness, different slice
    * and wave split). Oracle = the q67 batch formulation over this slice. */
  def streamingFileSessionParity(spark: SparkSession, dir: String): DataFrame =
    fileSessionParity(spark, dir, "q72", sliceMod = 3, nWaves = 4)

  // ---- pipe / π / partitioned write / multimodal ----

  def pipeUpper(spark: SparkSession, dir: String): DataFrame = {
    val toks = words(t(spark, dir)).select(col("word")).as(Encoders.STRING)
    val upper = Pipe.pipeLines(toks, Seq("tr", "a-z", "A-Z")).toDF("word")
    upper.groupBy(substring(col("word"), 1, 1).as("initial"))
      .agg(countDistinct(col("word")).as("n_tokens"))
      .orderBy("initial")
  }

  def piEstimate(spark: SparkSession, dir: String): DataFrame =
    MonteCarlo.estimatePi(spark, partitions = 16, pointsPerPartition = 50000L)

  /** First 64 hex digits of π via distributed BBP digit extraction; the
    * oracle is the publicly known expansion (independently recomputed via
    * Machin big-int arithmetic). */
  def bbpPiHex(spark: SparkSession, dir: String): DataFrame =
    Bbp.piHexDigits(spark, 64).orderBy("pos")

  /** 6x10 pentomino tiling count via first-placement fan-out; 9356 raw
    * placements = 4 x 2339 (the classic count, once per rectangle symmetry). */
  def pentominoCount(spark: SparkSession, dir: String): DataFrame =
    Pentomino.solutionCount(spark, width = 10, height = 6)

  /** One-sided pentomino tiling count (q61): the reference's OneSidedPentomino
    * variant — 18 pieces, each chiral shape and its mirror twin distinct — on
    * its own 3x30 board (EX/dancing/OneSidedPentomino.java:63-66). 184
    * solutions, verified against an independent Algorithm-X exact-cover
    * implementation. The board is represented 3-wide so the
    * lowest-cell-first search fills 3-cell rows; the transposed 30-wide
    * representation leaves a 30-cell open frontier (same count, an
    * intractably larger tree). */
  def pentominoOneSided(spark: SparkSession, dir: String): DataFrame =
    Pentomino.oneSidedSolutionCount(spark, width = 3, height = 30)

  /** 10 synthetic sudoku puzzles solved one-per-task; each solution must be
    * the closed-form canonical grid and provably unique (n_solutions = 1). */
  def sudokuSolve(spark: SparkSession, dir: String): DataFrame =
    Sudoku.solvePuzzles(spark, 10).orderBy("puzzle_id")

  private val scratchCleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Process-unique scratch dir (no cross-process q35 collisions), deleted on
    * JVM exit (no per-run temp-dir leak). Resolved under the
    * `spark.graft.scratchDir` base through the Hadoop FS API
    * (graft.sources.Scratch) — on a real cluster the base points at
    * HDFS/object storage and this code is unchanged. */
  private def scratchDir(spark: SparkSession, tag: String): String = {
    val out = graft.sources.Scratch.dir(spark,
      s"graft_${tag}_${spark.sparkContext.applicationId}")
    if (scratchCleanupRegistered.add(out)) {
      // capture the conf now: the hook must not touch the (possibly stopped)
      // session at JVM exit
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try graft.sources.Scratch.delete(conf, out)
        catch { case _: Exception => () }
      }, s"graft-scratch-cleanup"))
    }
    out
  }

  def multiOutput(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, s"mo_${Integer.toHexString(dir.hashCode)}")
    graft.sources.Sinks.partitionedParquet(
      t(spark, dir).lineitem, out, Seq("l_returnflag"))
    spark.read.parquet(out)
      .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
  }

  /** As-of join: for each purchase event, the most recent prior-or-equal
    * click by the same user (backward as-of, tie → largest click id). */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    Joins.asOf(purchases, clicks, Seq("user_id"), "ts", "click_ts", "click_id")
      .select(col("event_id"), col("user_id"), col("r_click_id").as("click_id"))
      .orderBy("event_id")
  }

  /** Forward as-of join (q112): for each click, the same user's FIRST
    * purchase at-or-after it (ties → smallest purchase id) — the
    * conversion-attribution complement of q38's backward as-of, on the
    * same one-sort linear machinery (time-descending order, never an
    * unbounded-following frame — see Joins.asOfForward). */
  def asofClickNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir).events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    Joins.asOfForward(clicks, purchases, Seq("user_id"), "ts", "p_ts", "purchase_id")
      .select(col("event_id"), col("user_id"), col("r_purchase_id").as("purchase_id"))
      .orderBy("event_id")
  }

  def sampleFilter(spark: SparkSession, dir: String): DataFrame =
    Sampling.md5Filter(t(spark, dir).documents, col("text"), 16)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("lang"), explode(bpeTokens(col("text"))).as("tok"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_uniq"))
      .orderBy("lang")

  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(t(spark, dir).documents, "doc_id", "text",
        maxHamming = 3, hashWords = Dedup.Md5Words)
      .orderBy("id_a", "id_b")

  /** Same join semantics as q11 but executed through the explicit skew-salting
    * operator — results must be identical to the unsalted oracle join.
    * hotKeyThreshold = 5 deliberately classifies orders with 6-7 lineitems as
    * "hot", so BOTH the salted and the unsalted branch carry real rows and the
    * oracle checks their union semantics. */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val tb = t(spark, dir)
    val li = tb.lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
    Skew.saltedJoin(li, tb.orders, Seq("o_orderkey"), saltFactor = 8,
        hotKeyThreshold = 5)
      .groupBy("o_orderpriority")
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_cents"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Full hadoop-streaming job shape (q45): mapper command → keyed shuffle →
    * reducer command. `tr` uppercases tokens (ASCII, like q33), the shuffle
    * brings all lines of a key to one partition sorted, and `uniq -c` —
    * which only counts CONSECUTIVE identical lines — produces the global
    * word frequency, proving the shuffle contract a streaming reducer
    * relies on. */
  def streamJobWordFreq(spark: SparkSession, dir: String): DataFrame = {
    val lines = words(t(spark, dir)).select(col("word")).as(Encoders.STRING)
    val out = jobs.StreamJob.run(lines, jobs.StreamJob.Spec(
      mapper = Seq("tr", "a-z", "A-Z"),
      reducer = Seq("uniq", "-c")))
    // uniq -c lines: `  <cnt> WORD<TAB>` (the trailing separator is the
    // PipeMapRed empty-value wire format)
    out.toDF("line")
      .select(
        regexp_extract(col("line"), "^ *([0-9]+) (.*?)\\t?$", 2).as("word"),
        regexp_extract(col("line"), "^ *([0-9]+) ", 1).cast("long").as("cnt"))
      .orderBy("word")
  }

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(t(spark, dir).documents, "doc_id", "text")
    Multimodal.extractFeatures(media)
      .select(col("media_id"), col("n_bytes"))
      .orderBy("media_id")
  }

  /** Embedding-cosine near-dup pairs (q48), exhaustive-candidate declaration
    * (1 table, radius = planes → every pair checked exactly) so the whole
    * pipeline is oracle-checkable; the pruned configs are spec-covered. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(t(spark, dir).embeddings, "vec_id", "embedding",
        threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy("id_a", "id_b")

  /** Gopher-style per-document repetition signals (q51): for n in {1,2,3},
    * the most-frequent n-gram's share and the duplicated-instance share —
    * the repetition tier of quality filtering. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.repetitionSignals(t(spark, dir).documents, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "n")

  /** C4-style corpus-frequency boilerplate profile (q52): per document, how
    * many of its 3-gram units survive a "drop units present in more than 2
    * distinct documents" rule. Runs the same explode → distinct → document-
    * frequency count plan `removeFrequentUnits` filters with. */
  def boilerplateRetention(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    CorpusQuality.unitRetentionStats(docs, "doc_id",
        shinglesOfTokens(col("toks"), 3), maxDocFreq = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Per-language document-length distribution (q53): exact interpolated
    * p50/p90/p99 of n_chars — the shard-sizing / length-filter calibration
    * numbers a curation run reports. */
  def lengthPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 6).as("p99"))
      .orderBy("lang")

  /** Deterministic 80/10/10 train/val/test split (q54): membership is a pure
    * function of the doc id's md5 — re-runnable and engine-independent. */
  def hashSplitCounts(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.hashSplit(t(spark, dir).documents, col("doc_id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")

  /** Deterministic mixture resampling (q55): per-language keep fractions
    * (all of zh, half of en, a quarter of the rest), membership by key md5. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.stratifiedHashSample(t(spark, dir).documents,
        col("lang"), col("doc_id").cast("string"),
        Map("en" -> 0.5, "zh" -> 1.0), defaultFraction = 0.25)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")

  /** Bucketized range join (q56): for each customer's launch window
    * [first order, first order + 29 days], how many orders (of anyone) fall
    * inside it. Windows are interval-selective (≤30 days each, so ≤2 buckets
    * at width 30) — the shape `rangeJoin` is designed for. A [min,max]-wide
    * window variant would be intrinsically quadratic (every point in nearly
    * every window) regardless of join algorithm. Dates go through epoch
    * days; bucket width 30 days = the window length. */
  def rangeJoinWindows(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ at midnight (verified) — day flooring is
    // exact, so epoch-day arithmetic matches the oracle's timestamp BETWEEN
    val orders = t(spark, dir).orders
    val points = orders.select(unix_date(to_date(col("o_orderdate"))).as("pt"))
    val windows = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(unix_date(to_date(min(col("o_orderdate")))).as("lo"))
      .withColumn("hi", col("lo") + lit(29L))
    Joins.rangeJoin(points, "pt", windows, "lo", "hi", bucketWidth = 30)
      .groupBy("custkey").agg(count(lit(1)).as("n_in_window"))
      .orderBy("custkey")
  }

  /** Images decoded per task in [[imageMeta]] — the bounded decode-batch
    * size (~6 ms/image at the thumbnail tier keeps a task near ~3 s). */
  private[graft] val ImageDecodeBatch = 500L

  /** Real image decode end-to-end (q49): synthesize a deterministic PNG per
    * document id in each task, then byte-parse the header AND fully decode
    * the pixels with the pure-JVM codec. width/height come from the header
    * parse, n_pixels from the DECODED image — the oracle's closed-form
    * expectation cross-checks encode → header-sniff → decode agreement.
    *
    * Thumbnail-tier dimensions (~160-175 x 120-127) and bounded decode
    * batches: a parquet split of image METADATA rows can reference far
    * more decode work than one task should own (a single 128 MB metadata
    * split is millions of images), so the decode stage repartitions to
    * [[ImageDecodeBatch]] rows per task — decode parallelism scales with
    * the corpus, not with the accidental metadata split geometry. At the
    * gated SFs this also sizes the per-leg wall above 1 s, moving q49 out
    * of the scaling ratchet's sub-second noise class (r15 verdict item 2:
    * it was the last entry riding the documented-noise exemption).
    *
    * Sizing the batches runs a metadata-only count() AT PLAN-CONSTRUCTION
    * TIME — the one query constructor that triggers a Spark job before the
    * caller executes the returned plan. Fine for the bench/oracle surface
    * (every caller executes immediately); a library embedding would derive
    * the batch count lazily (fixed target or defaultParallelism) to keep
    * construction side-effect free. */
  def imageMeta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids0 = t(spark, dir).documents.select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    // count is a metadata-only scan (doc_id pruned); the decode stage below
    // is the expensive part this partitioning exists to bound
    val batches = math.max(1L, (ids0.count() + ImageDecodeBatch - 1) / ImageDecodeBatch).toInt
    val ids = ids0.repartition(batches)
    ids.mapPartitions { it =>
      it.map { id =>
        val w = 160 + (id % 16).toInt
        val h = 120 + (id % 8).toInt
        val png = ImageCodec.synthPng(id, w, h)
        val (fmt, hw, hh) = ImageCodec.parseHeader(png)
          .getOrElse(throw new IllegalStateException(s"unparseable header for id=$id"))
        val img = ImageCodec.decode(png)
          .getOrElse(throw new IllegalStateException(s"undecodable png for id=$id"))
        (id, fmt, hw, hh, img.getWidth.toLong * img.getHeight)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaInt,
      Encoders.scalaInt, Encoders.scalaLong))
      .toDF("media_id", "format", "width", "height", "n_pixels")
      .orderBy("media_id")
  }

  final case class AudioMetaRow(media_id: Long, format: String,
                                        sample_rate: Int, channels: Int, bits: Int,
                                        n_frames: Long, duration_raw: Double,
                                        rms_raw: Double)

  /** Real audio decode end-to-end (q71): synthesize a deterministic 16-bit
    * PCM WAV per document id in each task (the sample function
    * ((id·31 + i·7) mod 201) − 100 is replayed by the DuckDB oracle), then
    * byte-parse the RIFF header AND decode the samples with the pure-JVM
    * codec. sample_rate/channels/bits come from the HEADER parse, n_frames
    * from the header's data size cross-checked against the DECODED sample
    * count, duration and RMS from the samples — the audio counterpart of
    * q49's encode → sniff → decode agreement proof. Video remains honestly
    * stubbed (`Multimodal.FakeDecoder`): no pure-JVM video codec exists. */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ids = t(spark, dir).documents.select(col("doc_id").cast("long")).as(Encoders.scalaLong)
    ids.mapPartitions { it =>
      it.map { id =>
        val sr = 8000 + (id % 4).toInt * 4000
        val n = 400 + (id % 7).toInt * 100
        val wav = AudioCodec.synthWav(id, sr, n)
        val meta = AudioCodec.parseHeader(wav)
          .getOrElse(throw new IllegalStateException(s"unparseable wav for id=$id"))
        val samples = AudioCodec.decodeSamples(wav)
          .getOrElse(throw new IllegalStateException(s"undecodable wav for id=$id"))
        require(samples.length.toLong == meta.nFrames * meta.channels,
          s"id=$id: decoded ${samples.length} samples, header claims ${meta.nFrames}")
        AudioMetaRow(id, "wav", meta.sampleRate, meta.channels, meta.bitsPerSample,
          meta.nFrames, meta.nFrames.toDouble / meta.sampleRate,
          AudioCodec.rms(samples))
      }
    }(Encoders.product[AudioMetaRow])
      .select(col("media_id"), col("format"), col("sample_rate"), col("channels"),
        col("bits"), col("n_frames"),
        round(col("duration_raw"), 6).as("duration_sec"),
        round(col("rms_raw"), 6).as("rms"))
      .orderBy("media_id")
  }

  /** Batch sessionization (q57): 30-minute-gap sessions over the events
    * stream, one row per (user, session) with event count, start time, and
    * value sum. event_id breaks timestamp ties so session numbering is
    * deterministic on both sides of the oracle. */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame =
    Sessions.sessionize(t(spark, dir).events, Seq("user_id"), "ts",
        gapSec = 1800, tieBreak = Seq("event_id"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        round(sum(col("value")), 6).as("sum_value"))
      .orderBy("user_id", "session_idx")

  /** Bloom-gated incremental dedup (q58): docs 7-9 mod 10 are "today's
    * batch", docs 0-6 the accumulated reference corpus; keep batch docs whose
    * content digest is novel, aggregated per language. The bloom prefilter is
    * only a shuffle reducer — the declared result is the exact anti-join, so
    * the plain NOT EXISTS oracle applies. */
  def novelDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val ref = docs.filter(col("doc_id") % 10 < 7)
    val batch = docs.filter(col("doc_id") % 10 >= 7)
    Dedup.novelAgainst(batch, ref,
        md5(to_binary(col("text"), lit("utf-8"))), expectedItems = 1 << 20)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_novel"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** KMV distinct-count sketch (q75): per event_type, the k-minimum-values
    * estimate of distinct users at k=8 and k=64, next to the exact count.
    * The two k values exercise both sketch branches across the gated scale
    * factors: at sf0.001 each group has 15 distinct users (k=64 sketch never
    * fills → exact branch; k=8 estimates), at sf0.01 it has 150 (both
    * estimate). State is ≤ k longs per group however many users exist — the
    * bounded-memory replacement for the reference's TreeMap UniqValueCount.
    * The oracle replays the whole sketch: same md5 hashes, same k smallest
    * per group via row_number, same single-division estimate. */
  def kmvDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val h = Sketches.hash60(col("user_id"))
    t(spark, dir).events
      .groupBy("event_type")
      .agg(Sketches.kmv(8)(h).as("kmin8"),
        Sketches.kmv(64)(h).as("kmin64"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("event_type"),
        Sketches.kmvEstimate(col("kmin8"), 8).as("est_k8"),
        Sketches.kmvEstimate(col("kmin64"), 64).as("est_k64"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  /** Count-Min frequency sketch (q76): build a 4×16 counter grid over the
    * document word stream, then point-estimate every vocabulary word against
    * it next to its true count. Width 16 < |vocab| forces real collisions,
    * so the one-sided error is visible: cm_est ≥ true_cnt always, strict for
    * collided words. All-integer arithmetic — the oracle replays the build
    * and the probes exactly. */
  def cmsWordFreq(spark: SparkSession, dir: String): DataFrame = {
    val w = words(t(spark, dir))
    val sketch = Sketches.countMin(w, col("word"), lit(1L), depth = 4, width = 16)
    val truth = w.groupBy("word").agg(count(lit(1)).as("true_cnt"))
    val est = Sketches.countMinEstimate(sketch, truth, col("word"), depth = 4, width = 16)
    truth.join(est, col("word") === col("cm_key"))
      .select(col("word"), col("true_cnt"), col("cm_est"),
        (col("cm_est") - col("true_cnt")).as("overcount"))
      .orderBy("word")
  }

  /** Histogram-quantile sketch (q77): per event_type, p50/p90/p99 of `value`
    * from equi-width bin counts at scale 10 (error ≤ 0.1 by construction) —
    * the bounded-state mergeable form of the reference's hold-and-sort
    * WordMedian reducer. floor/ceil are engine-exact; the oracle replays the
    * binning, the rank targets, and the bin-edge division verbatim. */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame =
    Sketches.histogramQuantiles(t(spark, dir).events, Seq("event_type"),
      col("value"), scale = 10,
      probs = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))

  /** BM25 ranked retrieval (q78): top-10 documents for the corpus's three
    * most frequent words (ties by word — a deterministic, SF-independent
    * probe), raw-idf BM25 variant with rank-ordered score summation so every
    * float op replays bit-identically (see Relevance scaladoc). */
  def bm25TopDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tb = t(spark, dir)
    // probe terms: top-3 global words via a distributed top-k
    // (TakeOrderedAndProject — per-partition heaps, no vocab-wide sort);
    // only the 3 survivors pass through a ranking window
    val terms = words(tb).groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(3)
      .withColumn("term_rank",
        row_number().over(Window.orderBy(col("c").desc, col("word"))))
      .select(col("word").as("term"), col("term_rank"))
    val scored = Relevance.bm25(tb.documents, "doc_id", "text", terms, nTerms = 3)
    // distributed top-k cut (TakeOrderedAndProject), then rank the 10 rows
    scored.orderBy(col("score").desc, col("doc")).limit(10)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc"))).cast("long"))
      .select(col("doc").as("doc_id"), col("score"), col("rank"))
      .orderBy("rank")
  }

  /** Trailing-window features (q79): for every event, the same user's event
    * count and value sum (exact, in cents) over the trailing hour — the
    * point-in-time feature shape of a training-data pipeline (no lookahead
    * leakage: frame ends at the current row). Frames are anchored on epoch
    * MICROS so both engines resolve identical boundaries at the table's
    * sub-second timestamp precision; the sum is integer cents, so sliding-
    * frame accumulation order cannot matter. */
  def trailingUserFeatures(spark: SparkSession, dir: String): DataFrame =
    Sessions.trailingFeatures(t(spark, dir).events,
        "event_id", "user_id", "ts", "value")
      .orderBy("event_id")

  /** Document chunking (q80): sliding 64-token windows every 48 tokens —
    * context-window shaping with 16 tokens of overlap so no span loses its
    * left context. Chunks are carried as md5 of the space-joined tokens, so
    * the oracle must replay the exact slice arithmetic AND the exact token
    * stream to hash-match. Shuffle-free: explode over a per-doc index. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Packing.chunk(t(spark, dir).documents, "doc_id", "text", size = 64, stride = 48)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_idx")

  /** Sequence packing (q81): documents laid head-to-tail in doc_id order and
    * chopped into 2048-token training sequences (concat-and-chop; documents
    * may straddle boundaries). The global prefix sum is hierarchical — the
    * single-partition window the naive form needs is replaced by bounded
    * per-bucket windows plus a ≤4096-row base window (see Packing). */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    Packing.packSequences(docTokenCounts(spark, dir), "doc_id", "n_tokens",
        capacity = 2048)._1
      .withColumnRenamed("id", "doc_id")

  /** The (doc_id, n_tokens) weights q81/q85/q86 pack — ONE definition so
    * the three queries can never desynchronize from each other or from the
    * shared full-repack oracle. Native TokenCount: no token arrays. */
  private def docTokenCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir).documents
      .select(col("doc_id"),
        plans.TextExpressions.token_count(col("text")).as("n_tokens"))

  /** LM familiarity scoring (q82): every document scored by the mean
    * floor(log2(corpus frequency)) of its bigrams — the cheap LM-perplexity
    * quality-gate shape, in exact integer arithmetic (bit-length, not a
    * float log) so the oracle replays it bit-identically. */
  def lmFamiliarityScores(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.lmFamiliarity(t(spark, dir).documents, "doc_id", "text", n = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Temperature mixture resampling (q83): rebalance the per-language pool
    * toward a 200-doc training mix with stratum weight ∝ sqrt(count) —
    * low-resource languages keep a larger share than their raw frequency.
    * Integer weights/denominator/takes + the q55 md5 membership rule make
    * every taken row (hence every aggregate) oracle-replayable. */
  def temperatureMixtureReport(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.temperatureMixture(t(spark, dir).documents, col("lang"),
        col("doc_id").cast("string"), targetTotal = 200L)
      .groupBy(col("__stratum").as("lang"), col("c"), col("w"), col("n_target"))
      .agg(count(lit(1)).as("n_taken"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")

  /** Incremental packing (q86): pack the corpus in TWO id-ordered batches —
    * the second continued from the first's high-water token position (the
    * bounded scalar a real pipeline stores with its output) — and gate the
    * union against the SAME full-repack oracle as q81. Proves append-only
    * packing never requires touching already-written sequences. */
  def incrementalPack(spark: SparkSession, dir: String): DataFrame = {
    val counts = docTokenCounts(spark, dir)
    // batch boundary at half the id range (one bounded scalar). Cast in the
    // plan: testdata parquet physical types have drifted across driver
    // generations, and Row.getLong on an INT32-regenerated doc_id would
    // throw where the cast is free.
    val stats = counts.agg(max(col("doc_id").cast("long")).as("m")).head
    val splitId = if (stats.isNullAt(0)) 0L else stats.getLong(0) / 2
    val first = counts.filter(col("doc_id") <= splitId)
    val rest = counts.filter(col("doc_id") > splitId)
    val packedFirst = Packing.packSequences(first, "doc_id", "n_tokens",
      capacity = 2048)._1
    // the high-water mark is read from the FIRST PACK'S OWN OUTPUT — the
    // end position of its last document (positions are contiguous, so the
    // max end IS the batch's total token count). Exactly what a real
    // pipeline stores alongside its written sequences; this scalar and the
    // union below both read the first pack's (id, cnt) snapshot instead of
    // re-tokenizing the first half.
    val hwRow = packedFirst.agg(coalesce(
      max(col("seq_id") * 2048L + col("seq_offset") + col("n_tokens")),
      lit(0L))).head
    val highWater = hwRow.getLong(0)
    packedFirst
      .unionAll(Packing.packSequences(rest, "doc_id", "n_tokens",
        capacity = 2048, basePos = highWater)._1)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Streaming chunking parity (q87): `Packing.chunk` on the PRODUCTION
    * file-source ingest path — documents arrive as parquet file waves via
    * `readStream` and are chunked in-flight (stateless, so no watermark and
    * no state store; the chunk rows land in the sink as each micro-batch
    * commits). The check aggregates per chunk_idx — a pure function of the
    * SET of documents, independent of arrival order and file packing — and
    * must equal the batch formulation replayed by the oracle. Extends the
    * q70 stateless-streaming claim to the context-window tier. */
  def streamingChunkParity(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val ss = streamSession(spark)
    val stage = scratchDir(spark,
      s"q87_${Integer.toHexString(dir.hashCode)}_$runId")
    val docs = t(spark, dir).documents.select(col("doc_id"), col("text"))
    docs.repartition(4).write.mode("overwrite").parquet(stage)
    val stream = ss.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(stage)
    val name = s"q87_stream_$runId"
    StreamRun.drain(() => Packing.chunk(stream, "doc_id", "text", size = 64, stride = 48)
      .writeStream.format("memory").queryName(name).outputMode("append").start())
    sinkTable(ss, name)
      .groupBy("chunk_idx")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("token_cnt")).cast("long").as("sum_tokens"),
        countDistinct(col("chunk_md5")).as("n_distinct"))
      .orderBy("chunk_idx")
  }

  /** Chunk-tier streaming file SINK (q89): `Packing.chunk` on the production
    * file-source ingest path, written through a CHECKPOINTED parquet
    * `writeStream` — killed after its second micro-batch, handed a duplicate
    * re-ingest wave during the outage, restarted from the checkpoint — the
    * q73 exit-path proof composed with the stateless context-window tier
    * (the last open cell of the streaming matrix: q87 proved chunk-on-ingest
    * to a memory sink; this writes CHUNKS to files exactly-once across a
    * process restart). Chunking holds NO state, so the re-ingested
    * every-20th documents are chunked AGAIN by design — the oracle counts
    * their chunks twice (corpus ⊎ wave) — while the kill/restart must add
    * or lose nothing beyond that: the sink's _spark_metadata commit log
    * hides orphan part files from the killed attempt, and the source WAL
    * replays the in-flight batch exactly once. Any lost, doubled, or
    * resurrected FILE diverges the per-chunk_idx counts. */
  def streamingChunkFileSink(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q89_${Integer.toHexString(dir.hashCode)}_$runId"
    val stage = scratchDir(spark, s"${tag}_src")
    val out = scratchDir(spark, s"${tag}_out")
    val chk = scratchDir(spark, s"${tag}_chk")
    val docs = t(spark, dir).documents.select(col("doc_id"), col("text"))
    docs.repartition(4).write.mode("overwrite").parquet(stage)
    val ss = streamSession(spark)
    def start() = Packing.chunk(
        ss.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage),
        "doc_id", "text", size = 64, stride = 48)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    // kill after two committed micro-batches, staged files still unread
    // (the result is kill-point independent); during the outage every 20th
    // document lands AGAIN as a new file wave
    StreamRun.killRestartDrain(() => start(), killAfter = 1,
      outage = docs.filter(col("doc_id") % 20 === 0).repartition(2)
        .write.mode("append").parquet(stage))
    // batch read through _spark_metadata: only committed batches visible
    spark.read.parquet(out)
      .groupBy("chunk_idx")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("token_cnt")).cast("long").as("sum_tokens"),
        countDistinct(col("chunk_md5")).as("n_distinct"))
      .orderBy("chunk_idx")
  }

  /** STATEFUL streaming exit (q90): the flatMapGroupsWithState sessionizer
    * written through a checkpointed parquet sink, killed between waves with
    * an open in-flight batch, fed an outage wave while nothing runs, and
    * restarted from the checkpoint. q73 proved the exit path for the
    * dropDuplicatesWithinWatermark state store; this proves it for the OTHER
    * stateful path a production pipeline restarts — explicit
    * flatMapGroupsWithState session state. Sessions whose events straddle
    * the kill (wave 1 before, waves 2-3 after) only merge if the restored
    * state still holds their open segments; the sink's commit log hides any
    * partial output of the killed batch; sentinel waves then advance the
    * watermark so every session closes. Oracle = the q67 batch gap
    * formulation over the user_id % 10 = 7 slice — a lost, doubled, or
    * split session diverges. */
  def streamingSessionFileSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q90_${Integer.toHexString(dir.hashCode)}_$runId"
    val stage = scratchDir(spark, s"${tag}_src")
    val out = scratchDir(spark, s"${tag}_out")
    val chk = scratchDir(spark, s"${tag}_chk")
    sessionSlice(spark, dir, sliceMod = 7) { (evs, lo0, hi0) =>
      val ss = streamSession(spark)
      def start() = Streams.sessionize(
          ss.readStream.schema(evs.schema)
            .option("maxFilesPerTrigger", 256) // each wave = one trigger
            .parquet(stage).as[Streams.Event],
          gapMillis = 1800 * 1000L)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      val sides = Seq((evs, "ts", stage))
      StreamRun.run(() => start()) { sq =>
        // wave 0 committed; wave 1's files land with NO processAllAvailable —
        // stop() can catch its micro-batch mid-flight (WAL + state-store
        // version rollback must replay it exactly once after restart)
        writeWaveRange(Some(sq), lo0, hi0, 4, 0 until 1, sides)
        writeWaveRange(None, lo0, hi0, 4, 1 until 2, sides)
      }
      // outage window: wave 2 lands while the pipeline is down
      writeWaveRange(None, lo0, hi0, 4, 2 until 3, sides)
      StreamRun.run(() => start()) { sq =>
        writeWaveRange(Some(sq), lo0, hi0, 4, 3 until 4, sides)
        sentinelWaves(spark, sq, stage, hi0, stepMs = 3600000L)
      }
      // batch read through _spark_metadata: only committed batches visible
      sessionRows(spark.read.parquet(out))
    }
  }

  /** Packed-segment map (q85): the materialized writer table for q81's
    * packing — every (document, sequence) intersection with its token range
    * and sequence offset, all integer arithmetic derived from the packed
    * rows. Sequence writers shard on seq_id with no coordination. */
  def packedSegments(spark: SparkSession, dir: String): DataFrame =
    Packing.packSegments(
        Packing.packSequences(docTokenCounts(spark, dir), "doc_id", "n_tokens",
          capacity = 2048)._1,
        capacity = 2048)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "seq_id")

  /** Deterministic epoch shuffle (q91): the training-data step after
    * packing — every packed sequence gets its exact position in a
    * pseudorandom global permutation, keyed by md5(epoch || seq_id) so the
    * order is reproducible (re-runs and failure retries see the same
    * permutation; a different epoch constant reshuffles). The rank is
    * `Sorts.globalOrderIndex` — range-repartition + per-partition bases +
    * intra-partition row_number, NEVER a single-partition window — so the
    * permutation assignment scales exactly like a TeraSort. Oracle: the
    * same md5 order ranked by DuckDB's row_number. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val packed = Packing.packSequences(docTokenCounts(spark, dir),
        "doc_id", "n_tokens", capacity = 2048)._1
      .groupBy("seq_id").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
    Packing.epochOrder(packed, "seq_id", epoch = 0L)
      .select(col("seq_id"), col("n_docs"), col("n_tokens"), col("shuffle_pos"))
      .orderBy("seq_id")
  }

  /** Chunk-level decontamination (q92): which CONTEXT WINDOWS of each held
    * document contain an eval-suite 5-gram — q62's leakage filter pushed
    * to training granularity (a long doc can pass a doc-level overlap
    * fraction while one contaminated span still lands verbatim in a
    * training window). Contaminated chunks are located by pure position
    * arithmetic on the shingle index (no chunk text materialized); chunk
    * counts reuse the native TokenCount. Same corpus split as q62. */
  def chunkDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val held = docs.filter(col("doc_id") % 10 >= 3)
    val contam = CorpusQuality.contaminatedChunks(held, "doc_id", "text",
        docs.filter(col("doc_id") % 10 < 3), "text", n = 5, size = 64, stride = 48)
      .groupBy("id").agg(count(lit(1)).as("n_contam"))
    val counts = held
      .select(col("doc_id").as("id"),
        plans.TextExpressions.token_count(col("text")).as("nt"))
      .filter(col("nt") > 0)
      .select(col("id"),
        (greatest(lit(0L), ceil((col("nt") - 64).cast("double") / lit(48.0))) + 1L)
          .as("n_chunks"))
    counts.join(contam, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_chunks"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        round(coalesce(col("n_contam"), lit(0L)).cast("double") / col("n_chunks"), 6)
          .as("contam_frac"))
      .orderBy("doc_id")
  }

  /** Chunk-level duplication rate (q84): how much intra-corpus redundancy
    * survives at TRAINING granularity — documents may be unique while their
    * 64-token chunks repeat (templates, boilerplate spans). Per source:
    * chunks, distinct chunk hashes, dup_frac. The source column rides
    * through the chunker (no corpus-sized join back on id). */
  /** End-to-end composed training-data pipeline (q88): quality gate → exact
    * dedup → cluster dedup (CC over minhash pairs, canonical min-id doc per
    * cluster) → chunk (64/48) → pack (2048) → segment map, WRITTEN as
    * parquet partitioned by seq_bucket and read back — the oracle replays
    * the whole chain as one CTE stack (q65 gates + q74 closure + q80 chunk
    * arithmetic + q81 prefix sum + q85 segments), so any cross-stage drift
    * anywhere in the composition hash-mismatches. The md5 token hash makes
    * the sketch stage (and so the cluster structure) DuckDB-replayable. */
  def pipelineSegments(spark: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(spark, s"q88_${Integer.toHexString(dir.hashCode)}")
    jobs.CorpusPipeline.curateToSequences(t(spark, dir).documents, out,
        CurationCfg)
      .select(col("doc_id"), col("chunk_idx"), col("seq_id"), col("seq_off"),
        col("chunk_from"), col("n_tok"),
        col("seq_bucket").cast("long").as("seq_bucket"))
      .orderBy("doc_id", "chunk_idx", "seq_id")
  }

  def chunkDupRate(spark: SparkSession, dir: String): DataFrame =
    Packing.chunk(t(spark, dir).documents, "doc_id", "text",
        size = 64, stride = 48, carry = Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_md5")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_chunks"), 6)
          .as("dup_frac"))
      .orderBy("source")

  /** Semantic (embedding-space) cluster dedup (q93): q48's exhaustive
    * cosine near-dup pairs closed into clusters by distributed connected
    * components, then a FULL-COVERAGE assignment — every vector gets
    * (cluster_id = min member id, cluster_size, is_canonical), singletons
    * included — the SemDeDup keep-one-per-cluster decision (Abbas et al.
    * 2023, arXiv:2303.09540) as a table. Embedding-space counterpart of
    * q74's minhash clusters; the oracle replays the pair set (double
    * cosine over the same float vectors) and closes it with the same
    * recursive-CTE min-label reachability. */
  /** Once-per-process parquet staging for a deterministic build shared by
    * several queries: the first caller computes `build` and writes it to
    * scratch; every later caller (including bench re-runs of the SAME
    * query) reads the parquet back. This keeps each cluster-family bench
    * entry measuring its OWN increment instead of repeating the identical
    * upstream build — q93 still constructs the exhaustive assignment
    * in-query (its entry IS the build measurement); q94's prior and the
    * q95/q99 consumers read the stage. computeIfAbsent serializes
    * concurrent first-callers per key (Verify runs queries on a pool). */
  private val stagedBuilds = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()
  /** The shared once-per-process staging idiom: `build` runs against a
    * fresh scratch root and the path it returns is memoized under `key`.
    * A CompletableFuture placeholder keeps the map mutation instant (no
    * multi-second Spark write inside computeIfAbsent's bin lock — a
    * colliding-bin key would block on an unrelated build); concurrent
    * same-key callers await the creator, a failed build is removed so a
    * retry rebuilds instead of caching the exception forever. One map,
    * one copy of the tricky concurrency — the parquet-table and
    * service-state stagers below are thin wrappers. */
  private def stagedDir(spark: SparkSession, key: String)
                       (build: String => String): String = {
    val fresh = new java.util.concurrent.CompletableFuture[String]()
    val f = stagedBuilds.putIfAbsent(key, fresh) match {
      case null =>
        try fresh.complete(build(scratchDir(spark, key)))
        catch {
          case e: Throwable =>
            fresh.completeExceptionally(e)
            stagedBuilds.remove(key, fresh)
        }
        fresh
      case existing => existing
    }
    f.get()
  }
  private def stagedParquet(spark: SparkSession, key: String)
                           (build: => DataFrame): DataFrame =
    spark.read.parquet(stagedDir(spark, s"stage_$key") { out =>
      build.write.mode("overwrite").parquet(out); out
    })

  /** Collision-free stage key for a testdata dir: full-width md5, NOT
    * String.hashCode — two dirs with colliding 32-bit hashes must never
    * silently share a staged build. The digest folds in a cheap DATA
    * fingerprint (every file's relative path, length, and mtime, two
    * levels deep — local listing, no file reads), so regenerating the
    * testdata under the same path in-process invalidates the key instead
    * of silently serving a staged build of the old data. The staleness
    * contract that remains: an EXTERNALLY deleted scratch dir during a
    * run still breaks consumers (acceptable for the bench/verify harness —
    * nothing else writes scratch). */
  private def dirKey(dir: String): String = {
    // NIO mtimes, not File.lastModified: the legacy API truncates to
    // 1-second granularity on several filesystems, so a same-second
    // same-size regeneration could silently serve a stale staged build —
    // Files.getLastModifiedTime preserves the FS's full (ms/ns) precision
    def mtime(f: java.io.File): Long =
      try java.nio.file.Files.getLastModifiedTime(f.toPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => f.lastModified }
    val root = new java.io.File(dir)
    val level1 = Option(root.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
    val entries = level1.flatMap { f =>
      val self = Seq(s"${f.getName}:${f.length}:${mtime(f)}")
      if (f.isDirectory)
        self ++ Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .map(c => s"${f.getName}/${c.getName}:${c.length}:${mtime(c)}")
      else self
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "\n" + entries.mkString("\n")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** The q93 exhaustive-config assignment, staged once per process —
    * the shared upstream of q95 and q99. */
  private def exhaustiveAssignment(spark: SparkSession, dir: String): DataFrame =
    stagedParquet(spark, s"asg_${dirKey(dir)}") {
      val emb = t(spark, dir).embeddings
      Dedup.componentAssignments(
        emb.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1),
        "id_a", "id_b")
    }

  def semanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1)
    Dedup.componentAssignments(
        emb.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
        pairs, "id_a", "id_b")
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** Semantic cluster dedup on the PRUNED candidate generator (q103): the
    * q93 clustering re-run with candidates from the REAL multi-table LSH
    * bucket join — 16 tables x 4 hyperplane bits, probe radius 1, the
    * q59/q98 ANN configuration — instead of the declared-exhaustive
    * all-pairs branch. This is the 100 TB plan shape, but not a 100 TB
    * candidate volume: on these near-random embeddings the geometry makes
    * ≈ 0.9975 of all pairs candidates, about n²/2. No crossJoin appears
    * anywhere in the plan (spec-asserted). The oracle replays the ENTIRE
    * pruned pipeline — seeded plane signatures, {0,1,2,4,8} probe masks,
    * the bucketed candidate join, the exact cosine gate, the recursive
    * min-label closure, the full-coverage assignment — from the same
    * constants, so the green row certifies the bucketed plan itself, not
    * a crossJoin stand-in. (A pair both of whose sides hash > radius 1
    * apart in every table is invisible to BOTH engines — that recall
    * trade is the declared semantics of the pruned configuration, q59's
    * recall row quantifies it.) */
  def prunedSemanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
    Dedup.componentAssignments(
        emb.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
        pairs, "id_a", "id_b")
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** Incremental semantic clustering (q94): the cross-batch maintenance
    * path. The low-id 80% of the corpus is "yesterday's" accumulated
    * assignment; the high-id 20% arrives as a batch whose similarity pairs
    * are computed only against batch × accumulated (every pair here touches
    * a new id). `Dedup.incrementalComponentAssignmentsScoped` folds the
    * batch in by replacing each AFFECTED old cluster with its star and
    * passing untouched clusters through verbatim — provably the same
    * components, and with append-only ids the same labels, as a full
    * recompute (scoped == full equality spec-gated in
    * DedupSimilaritySpec). At 100 TB this is the difference between a
    * daily corpus² re-cluster and a daily batch-sized one — and the scoped
    * form keeps even the CC rounds off the corpus. */
  def incrementalSemanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val maxId = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val h = maxId * 4 / 5 // bounded scalar read; oracle derives the same split
    val old = emb.filter(col("vec_id") < h)
    // "yesterday's" assignment, staged once per process: the query's bench
    // cost then measures the INCREMENTAL fold (the operator under test),
    // not a second full prior build on every repetition
    val prior = stagedParquet(spark, s"prior80_${dirKey(dir)}") {
      Dedup.componentAssignments(
        old.select(col("vec_id").cast("long").as("vec_id")), "vec_id",
        Similarity.cosineNearDupPairs(old, "vec_id", "embedding",
          threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1),
        "id_a", "id_b")
    }
    // The production candidate generator: batch × (corpus ∪ batch), never
    // old × old — with append-only ids this is exactly the "pairs with
    // id_b >= h" slice of the full pair set (operator-level equality is
    // spec-gated in DedupSimilaritySpec).
    val newPairs = Similarity.cosineNearDupPairsAgainst(
      emb.filter(col("vec_id") >= h), old, "vec_id", "embedding",
      threshold = 0.35, numPlanes = 8, dim = 64, probeRadius = 8, numTables = 1)
    Dedup.incrementalComponentAssignmentsScoped(prior,
        emb.filter(col("vec_id") >= h)
          .select(col("vec_id").cast("long").as("vec_id")), "vec_id",
        newPairs, "id_a", "id_b")
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** Cluster-safe train/val/test split (q95): split membership keyed on the
    * SEMANTIC CLUSTER label, not the document — near-duplicates always land
    * in the same split, so an eval document can never be a near-copy of a
    * training document. This is the leakage mode a per-document q54 split
    * cannot prevent (the standard eval-contamination failure after dedup is
    * only approximate). Composition: q93's full-coverage assignment keyed
    * into q54's deterministic md5 split — adds nothing to the cluster
    * build but one projection. */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val asg = exhaustiveAssignment(spark, dir)
    CorpusQuality.hashSplit(asg, col("cluster_id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("id").as("vec_id"), col("cluster_id"), col("split"))
      .orderBy("vec_id")
  }

  /** Data-contract validation report (q96): the declarative ingest gate —
    * seven constraints over lineitem evaluated into one small report
    * (check_name, target, violations, status). The five row-local checks
    * share ONE scan (a single multi-column aggregate); uniqueness adds one
    * key shuffle; the FK check one left-anti join against orders. Two
    * checks are chosen to FAIL with data-dependent counts (quantity ≤ 30,
    * returnflag ∈ {A,R}) so the oracle hash pins real violation
    * arithmetic, not an all-zero report. */
  def dataContract(spark: SparkSession, dir: String): DataFrame = {
    import Contracts._
    val tb = t(spark, dir)
    Contracts.check(tb.lineitem, Seq(
        NotNull("l_shipdate"),
        Bounds("l_quantity", 1, 50),
        AcceptedValues("l_returnflag", Seq("A", "R")),
        Satisfies("qty_le_30", col("l_quantity") <= 30),
        RowCountMin(100),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey("l_orderkey", tb.orders, "o_orderkey", "orders")))
      .orderBy("check_name", "target")
  }

  /** STREAMING incremental cluster maintenance (q104): the production
    * shape of a continuously-ingesting dedup service — q94's incremental
    * fold driven from the file-source ingest path via foreachBatch, with a
    * kill/outage/restart through the checkpoint.
    *
    * The corpus arrives as three ascending-id wave files (modification
    * times stamped explicitly, so batch order is deterministic — the
    * append-only-id discipline the incremental theorem needs). Each
    * micro-batch is one [[jobs.ClusterMaintenance.foldBatch]]: the PRUNED
    * candidate generator (16x4-bit, radius 1) broadcasts the batch's probed
    * signatures and reads corpus ∪ batch in ONE map-side pass with the
    * exact cosine gate applied in place (the corpus is scanned, never
    * paired with itself); the components are closed over the affected
    * subgraph only; the fold writes an assignment snapshot `state/v=N` or
    * a batch-proportional delta `state/d=N`, then the batch vectors
    * `corpus/b=N`. Every write is a keyed overwrite by batchId, so a
    * replayed in-flight batch rewrites the same state — idempotence IS the
    * exactly-once story for a foreachBatch sink, and it makes the final
    * state kill-point independent. Retention bounds the state of the
    * long-running service: a replay reads only the reconstruction at N-1,
    * so everything older than the newest snapshot it needs is deleted as
    * each fold commits. Run 1 is killed once batch 1 commits (later files
    * unread; stop can land mid-batch); run 2 resumes from the checkpoint,
    * replays any in-flight batch, and drains.
    *
    * The final assignment equals the BATCH pruned build over the whole
    * corpus (q103's oracle, verbatim): induction over batches on the
    * star-replacement theorem, with candidate completeness from
    * probe-mask symmetry (both spec-gated in DedupSimilaritySpec). At
    * 100 TB each day pays one corpus scan against the broadcast batch + CC
    * over the affected clusters — never corpus². */
  def streamingClusterMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q104_${Integer.toHexString(dir.hashCode)}_$runId"
    val state = scratchDir(spark, s"${tag}_state")
    val corpusDir = scratchDir(spark, s"${tag}_corpus")
    val emb = Snapshot.take(t(spark, dir).embeddings
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding")))
    // three waves = the minimal shape that exercises every tier: a
    // bootstrap fold (empty prior), a committed pre-kill fold, and a
    // post-restart fold (often the replay of an in-flight batch); each
    // extra wave would re-pay the per-fold CC fixed cost for no new claim
    val nWaves = 3
    // the per-batch fold is the LIBRARY service (jobs.ClusterMaintenance):
    // this harness contributes only the file-source plumbing and the
    // kill/restart choreography. compactEvery=2 makes the THIRD fold run
    // the corpus-compaction path (b=0,b=1 → gen=1) under this query's
    // oracle — the final assignment must still equal the batch pruned
    // build, so a compaction that dropped or duplicated corpus rows
    // hash-fails here, not just in the spec. snapshotEvery=2 likewise puts
    // the DELTA state layout under the oracle: fold 0 snapshots (v=0),
    // fold 1 writes the batch-proportional delta d=1, fold 2 reconstructs
    // its prior through the (v=0, d=1) merge and snapshots v=2 — with the
    // kill/restart landing a replayed fold on whichever tier is in flight.
    val mcfg = jobs.ClusterMaintenance.Config(threshold = 0.35,
      numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16,
      compactEvery = 2, snapshotEvery = 2)
    // one finally owns the corpus snapshot: a failure in staging, run 1, or
    // run 2 must not leak its blocks into the rest of the process
    try {
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) // bounded scalar
      val (stageWave, start) = serviceStream(spark, tag,
          w => emb.filter(idSlice(col("vec_id"), maxId, nWaves, w))) { (batch, batchId) =>
        jobs.ClusterMaintenance.foldBatch(batch, batchId, state, corpusDir,
          "vec_id", "embedding", mcfg)
      }
      (0 until nWaves).foreach(stageWave) // all staged before ingest begins
      // kill once batch 1 commits — files 2/3 unread, stop may land with
      // batch 2 in flight (the restart then replays it idempotently)
      StreamRun.killRestartDrain(start, killAfter = 1, outage = ())
    } finally Snapshot.release(emb)
    jobs.ClusterMaintenance.latestAssignment(spark, state)
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** Span-deduped chunking (q111): q109's cleaned token streams chunked
    * into q80's 64/48 sliding windows — the composed form the pipeline's
    * `spanDedupN` option runs (span dedup consumes the tokenize-once
    * attribute, the chunker consumes the CLEANED stream; a fully-covered
    * document chunks to nothing). The chunk md5s hash the exact
    * post-removal token content, so the oracle must replay the span
    * arithmetic AND the chunk slice arithmetic end-to-end. */
  def spanDedupChunks(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = Dedup.removeDuplicateSpansOfTokens(
        t(spark, dir).documents.select(col("doc_id"),
          functions.TextFunctions.tokens(col("text")).as("toks")),
        "doc_id", "toks", n = 8)
      .select(col("id"), col("clean_toks"))
    Packing.chunkTokens(cleaned, "id", "clean_toks", size = 64, stride = 48)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_idx")
  }

  /** PMI collocation mining (q110): the top-20 adjacent word pairs by
    * pointwise mutual information — the collocation/stop-phrase
    * extraction tier of text analysis (which bigrams co-occur far more
    * than their unigram frequencies predict). PMI is kept as the RAW
    * probability ratio p(w1,w2)/(p(w1)p(w2)) — the log is monotone, so
    * the ranking is unchanged, and the raw form is a FIXED-ORDER chain
    * of integer-valued divisions both engines replay bit-identically
    * (the q64/q78 no-ln discipline). Pairs under 5 occurrences are
    * dropped (singleton pairs of two rare words would otherwise dominate
    * any PMI list). Shape: one shuffle-free bigram explode (chunker
    * pattern), two grouped counts, two joins of the (vocab-sized)
    * unigram table onto the bigram table, and a distributed top-k
    * (TakeOrderedAndProject). */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(spark, dir).documents
      .select(functions.TextFunctions.tokens(col("text")).as("toks"))
    val bigrams = toks.select(
        explode(when(size(col("toks")) >= 2,
            sequence(lit(0), size(col("toks")) - 2))
          .otherwise(array().cast("array<int>"))).as("i"), col("toks"))
      .select(element_at(col("toks"), col("i") + 1).as("w1"),
        element_at(col("toks"), col("i") + 2).as("w2"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // unigrams from the SAME toks projection — one corpus scan + one
    // tokenize feeds both count tables
    val uni = toks.select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val n1 = uni.agg(sum(col("c")).cast("double").as("n_uni"))
    val np = bc.agg(sum(col("c12")).cast("double").as("n_bi"))
    val scored = bc.filter(col("c12") >= 5)
      .join(uni.select(col("word").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(np))
      .select(col("w1"), col("w2"), col("c12"),
        // fixed-order chain, mirrored verbatim in the oracle:
        // (((c12 * n_uni) / c1) * (n_uni / c2)) / n_bi
        round((((col("c12").cast("double") * col("n_uni")) / col("c1")) *
          (col("n_uni") / col("c2"))) / col("n_bi"), 6).as("pmi_raw"))
    scored.orderBy(col("pmi_raw").desc, col("w1"), col("w2")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi_raw").desc, col("w1"), col("w2"))).cast("long"))
      .select(col("rank"), col("w1"), col("w2"), col("c12"), col("pmi_raw"))
      .orderBy("rank")
  }

  /** Exact substring (span-level) dedup (q109): every 8-token window
    * occurring more than once in the corpus marks its positions covered;
    * covered positions merge into maximal spans and the cleaned document
    * is the uncovered remainder — the Lee-et-al-style dedup tier that
    * catches shared boilerplate and quoted passages whole-document dedup
    * (q23) and near-dup clustering (q74/q93) cannot see. The report hash
    * pins the full span arithmetic: per doc, token count, duplicated
    * window starts, merged span count, covered-token count, and the md5
    * of the cleaned text (so WHICH tokens survived is hashed, not just
    * how many). ~10% of window starts are duplicated in this corpus at
    * both gate SFs — the counts are data-dependent everywhere. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicateSpans(t(spark, dir).documents, "doc_id", "text", n = 8)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_dup_starts"),
        col("n_spans"), col("n_covered"),
        md5(to_binary(col("clean_text"), lit("utf-8"))).as("clean_md5"))
      .orderBy("doc_id")

  /** Hybrid dense+sparse retrieval (q108): the two ranked retrievers this
    * engine already ships — the pruned multi-table LSH ANN over
    * embeddings (dense) and per-query BM25 over text (sparse) — fused by
    * reciprocal-rank fusion into one top-5 per probe. Probe set: docs
    * with id % 50 == 29 (vec_id aligns with doc_id in the testdata);
    * each probe's dense query is its embedding, its sparse query its own
    * top-3 most-frequent terms (ties by term — deterministic), self
    * excluded on both sides. RRF uses only RANKS (k0 = 60), so the two
    * incomparable score scales never meet — the standard production
    * recipe for retrieval-augmented eval mining. The oracle replays BOTH
    * retrievers (the q59 LSH CTE stack + the q78 BM25 arithmetic
    * per-query) and the fusion sum. On this testdata the embeddings are
    * statistically independent of the text, so the two top-5s rarely
    * intersect and the gated rows mostly pin the rank-interleave of
    * disjoint lists (which docs + which order); the both-lists agreement
    * arithmetic is pinned by RelevanceStatsSpec's crafted case. */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tb = t(spark, dir)
    val emb = tb.embeddings
    val queries = emb.filter(col("vec_id") % 50 === 29)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val dense = Similarity.lshCosineTopK(emb, "vec_id", "embedding", queries,
        "qid", "qvec", k = 5, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
      .select(col("qid"), col("id"), col("rank"))
    // sparse probes: each probe doc's top-3 terms (per-probe window — the
    // partition is one document's vocabulary, bounded by doc length)
    val ptoks = tb.documents.filter(col("doc_id") % 50 === 29)
      .select(col("doc_id").as("query_id"),
        explode(functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("c"))
    val wp = Window.partitionBy("query_id").orderBy(col("c").desc, col("term"))
    val probes = ptoks.withColumn("term_rank", row_number().over(wp))
      .filter(col("term_rank") <= 3)
      .select("query_id", "term", "term_rank")
    val ws = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc"))
    val sparse = Relevance.bm25PerQuery(tb.documents, "doc_id", "text",
        probes, nTerms = 3)
      .filter(col("doc") =!= col("query_id"))
      .withColumn("rank", row_number().over(ws)).filter(col("rank") <= 5)
      .select(col("query_id").as("qid"), col("doc").as("id"), col("rank"))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id"))
    Relevance.rrfFuse(Seq(dense, sparse), k0 = 60)
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("id"), col("rrf"))
      .orderBy("qid", "rank")
  }

  /** Canonical-key exact dedup (q105): the variant-collapse semantics of
    * the pipeline's `canonicalDedupKey` option, gated. Every document is
    * exploded into THREE encoding/case variants of the same page —
    * suffixed " cafe"+U+0301 (combining), " café" (composed), " CAFÉ"
    * (composed uppercase) — under distinct doc ids, then exact-deduped on
    * the pipeline's own key definition (`CorpusPipeline.dedupKey` with
    * canonicalDedupKey = true ⇒ `TextFunctions.canonicalDigest` =
    * md5(lower(NFKC))). All three raw texts differ byte-wise; all three
    * canonical digests agree, so exactly the min-id variant survives.
    * The per-language report pins variant count, raw-text distincts,
    * canonical-digest distincts, survivor count, and the survivor id SUM
    * (so the min-id keep policy is hashed, not just the count). Variants
    * stay NFC-foldable ASCII+Latin-1+combining (the corpus itself carries
    * no compatibility characters), so DuckDB's nfc_normalize + lower
    * replays the NFKC+lower key byte-for-byte. */
  def canonicalDedupCollapse(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val variants = docs.select(col("doc_id"), col("lang"),
        posexplode(array(
          concat(col("text"), lit(" cafe\u0301")), // combining acute
          concat(col("text"), lit(" caf\u00e9")),  // precomposed e-acute
          concat(col("text"), lit(" CAF\u00c9")))) // precomposed E-acute
          .as(Seq("v", "text")))
      .select((col("doc_id") * 4 + col("v")).as("doc_id"), col("lang"),
        col("text"))
    val cfg = jobs.CorpusPipeline.Config(canonicalDedupKey = true)
    val survivors = Dedup.exactDedup(variants,
      Seq(jobs.CorpusPipeline.dedupKey(cfg)), col("doc_id"))
    val stats = variants.groupBy("lang").agg(
      count(lit(1)).as("n_variants"),
      countDistinct(col("text")).as("n_raw_texts"),
      countDistinct(functions.TextFunctions.canonicalDigest(col("text")))
        .as("n_canonical_digests"))
    val surv = survivors.groupBy("lang").agg(
      count(lit(1)).as("n_survivors"),
      sum(col("doc_id")).cast("long").as("survivor_id_sum"))
    stats.join(surv, Seq("lang"), "left")
      .select(col("lang"), col("n_variants"), col("n_raw_texts"),
        col("n_canonical_digests"),
        coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
        coalesce(col("survivor_id_sum"), lit(0L)).as("survivor_id_sum"))
      .orderBy("lang")
  }

  /** Data-contract suite over `events` (q107): the second q96-style
    * declarative ingest gate, on the event-stream table — and the
    * testdata-drift sentinel for it (a regenerated events.parquet with a
    * new event type, value range, or time window changes these counts
    * before anything downstream breaks). Eight constraints: the five
    * row-local checks share ONE scan, uniqueness adds one key shuffle,
    * the user FK one anti-join against customer. THREE checks fail with
    * data-dependent counts (the accepted set omits 'error', value capped
    * at 100, ts required before Jan 25) so the hash pins real violation
    * arithmetic at every SF, not an all-zero report. */
  def eventsContract(spark: SparkSession, dir: String): DataFrame = {
    import Contracts._
    val tb = t(spark, dir)
    Contracts.check(tb.events, Seq(
        NotNull("ts"),
        Bounds("user_id", 0, 2000),
        Bounds("value", 0, 100),
        AcceptedValues("event_type", Seq("click", "view", "purchase", "signup")),
        Satisfies("ts_before_jan25",
          col("ts") < to_timestamp(lit("2024-01-25 00:00:00"))),
        RowCountMin(100),
        Unique(Seq("event_id")),
        ForeignKey("user_id", tb.customer, "c_custkey", "customer")))
      .orderBy("check_name", "target")
  }

  /** Payload replication factor for [[unicodeNormalize]] — sizes the q97
    * sf0.01 leg above the scaling ratchet's 1 s denominator line (r16
    * verdict item 2: q97 was the last rider of the sub-second noise class,
    * a ~0.16 s leg whose ratio swung to 7.25 on quiet-window jitter while
    * a REAL regression in (2x-baseline, 8] could never flag). Replication
    * multiplies the normalize + digest work by the same factor at every
    * SF, so the sf0.1/sf0.01 ratio stays an honest linear observable.
    * Sized against the FULLY-WARM end-of-suite leg, not a standalone
    * run: cold JIT inflates a standalone q97 ~4x (2.49 s cold vs 0.58 s
    * warm at factor 48), and the scaling pass runs AFTER the whole sf0.1
    * suite — the warmest point of the run (measured 0.77 s at 144 there
    * vs 1.28 s mid-suite). 288 puts the fully-warm leg ~1.55 s, >= 1 s
    * even at the fastest observed window dip (~30%). */
  private[graft] val NfcRepeat = 288

  /** Unicode canonicalization (q97): the `normalize_text` native expression
    * (NFC) as a corpus pass — the step that makes two crawls of the same
    * page digest identically when they differ only in composed vs
    * combining-mark encoding. Every document is suffixed with a live
    * combining sequence ("e" + U+0301 → NFC "é") and the suffixed text
    * is replicated [[NfcRepeat]] times, so each row exercises the fold at
    * every copy's suffix; the digest of the normalized text is then a
    * data-dependent hash the DuckDB `nfc_normalize` replay must reproduce
    * byte-for-byte. */
  /** Documents normalized per task in [[unicodeNormalize]] — the q49
    * decode-batch recipe applied to the normalize pass: the test corpus is
    * ONE small parquet file at every SF, so without repartitioning the
    * whole pass runs on a single task (serial wall grows 10x per SF step —
    * an unscalable plan shape, and exactly what a 100 TB corpus pass must
    * not do). Bounding rows-per-task makes normalize parallelism follow
    * corpus size: ~500 docs x ~43 KB replicated text = ~21 MB per task. */
  private[graft] val NfcBatch = 500L

  def unicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.TextExpressions.normalize_text
    // combining acute per copy; NFC folds each copy's trailing pair to U+00E9
    val aug = repeat(concat(col("text"), lit("e\u0301")), NfcRepeat)
    val docs0 = t(spark, dir).documents.select(col("doc_id"), col("text"))
    // metadata-only row count (same construction-time pattern as imageMeta,
    // documented there) sizes the bounded repartition
    val batches = math.max(1L, (docs0.count() + NfcBatch - 1) / NfcBatch).toInt
    docs0.repartition(batches).select(
        col("doc_id"),
        md5(to_binary(aug, lit("utf-8"))).as("raw_md5"),
        md5(to_binary(normalize_text(aug), lit("utf-8"))).as("norm_md5"),
        (length(aug) - length(normalize_text(aug))).cast("long").as("chars_folded"))
      .orderBy("doc_id")
  }

  /** Ranked-retrieval quality metrics (q98): the q59 pruned multi-table LSH
    * configuration scored with MRR and NDCG@5 against the brute-force
    * truth — recall (q59) says whether the right neighbors appear; these
    * say how HIGH they rank, the metric an eval-mining pipeline actually
    * gates on. Query set % 50 == 11, disjoint from every other ANN query;
    * fully seeded, so the oracle replays BOTH sides from the plane
    * constants and computes the same metrics. */
  def annRankMetrics(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 11)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lsh = Similarity.lshCosineTopK(emb, "vec_id", "embedding", queries,
      "qid", "qvec", k = 5, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
    val bf = Similarity.cosineTopK(emb, "vec_id", "embedding", queries,
      "qid", "qvec", k = 5)
    Similarity.rankMetrics(bf, lsh, k = 5).orderBy("qid")
  }

  /** Streaming data contract (q100): the q96 ingest gate running
    * IN-FLIGHT — the row-local tier as a complete-mode global aggregation
    * on the production file-source ingest path. Corpus files arrive as
    * micro-batches (maxFilesPerTrigger=1); after the last, the report
    * equals the batch evaluation over everything ingested, and the
    * aggregation state is ONE row of counters at any ingest volume. Two
    * checks fail with data-dependent counts, as in q96, so the hash pins
    * the in-flight violation arithmetic. */
  def streamingContract(spark: SparkSession, dir: String): DataFrame = {
    import Contracts._
    val runId = streamRunCounter.getAndIncrement()
    val ss = streamSession(spark)
    val stage = scratchDir(spark,
      s"q100_${Integer.toHexString(dir.hashCode)}_$runId")
    val docs = t(spark, dir).documents
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    docs.repartition(4).write.mode("overwrite").parquet(stage)
    val stream = ss.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val name = s"q100_stream_$runId"
    StreamRun.drain(() => Contracts.checkStream(stream, Seq(
        NotNull("text"),
        Bounds("n_chars", 1, 500),
        AcceptedValues("lang", Seq("en", "zh")),
        Satisfies("ids_nonneg", col("doc_id") >= 0),
        RowCountMin(10)))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start())
    sinkTable(ss, name).orderBy("check_name", "target")
  }

  /** Deterministic token-budget draw (q102): every document whose span in
    * the md5-ordered token stream fits a 10,000-token budget —
    * training-run sizing by TOKENS, not documents, reproducible under
    * re-runs and appends. Rank via the distributed global order index,
    * positions via the hierarchical prefix sum, documents atomic (a doc
    * is kept iff its whole span fits). Reported per language so the hash
    * pins which documents were drawn, not just how many. */
  def tokenBudgetDraw(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents.select(col("doc_id"), col("lang"),
      plans.TextExpressions.token_count(col("text")).as("n_tokens"))
    CorpusQuality.tokenBudgetSample(docs, "doc_id", "n_tokens", budget = 10000L)._1
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
      .orderBy("lang")
  }

  /** Length-bucketed inference batching (q101): documents ranked by token
    * count into 32-doc batches of near-equal length, then the padded-cost
    * accounting per batch — n_docs, min/max length, and padding waste
    * (n_docs · max − sum), the number length-bucketing exists to minimize
    * (a fixed-shape scoring batch pays batchSize × max tokens). The rank
    * is the distributed global order index — the q91 machinery's second
    * production consumer. */
  def lengthBucketReport(spark: SparkSession, dir: String): DataFrame =
    Packing.lengthBuckets(docTokenCounts(spark, dir), "doc_id", "n_tokens",
        batchSize = 32)._1
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_len"),
        max(col("n_tokens")).as("max_len"),
        (max(col("n_tokens")) * count(lit(1)) - sum(col("n_tokens")))
          .cast("long").as("padding"))
      .orderBy("batch_id")

  /** GRADED ranked-retrieval metrics (q106): the q98 evaluation upgraded
    * from binary to graded relevance, scored with exponential-gain NDCG
    * (2^rel − 1) and first-relevant MRR against the pruned multi-table
    * LSH ranking. Truth = the brute-force top-10 per query, graded
    * rel = id mod 3 ∈ {0,1,2} — a deterministic surrogate for editorial
    * labels, deliberately UNCORRELATED with the retrieval score (grades
    * bucketed from the cosine itself are monotone in the ranking, which
    * collapses every NDCG to exactly 1.0 — measured — and pins nothing).
    * With uncorrelated grades the ideal ordering differs from the cosine
    * ordering, zero-grade truth rows exist, and the found set (top 5 of
    * 10) is proper — so the per-query values spread and the hash pins
    * the graded gain/ideal/miss arithmetic. Query set % 50 == 17,
    * disjoint from every other ANN query. */
  def annRankMetricsGraded(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 17)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lsh = Similarity.lshCosineTopK(emb, "vec_id", "embedding", queries,
      "qid", "qvec", k = 5, numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
    val bf = Similarity.cosineTopK(emb, "vec_id", "embedding", queries,
      "qid", "qvec", k = 10)
    val truth = bf.select(col("qid"), col("id"), (col("id") % 3).as("rel"))
    Similarity.rankMetricsGraded(truth, lsh, k = 5).orderBy("qid")
  }

  /** Dedup diagnostics (q99): the cluster-size distribution of the
    * semantic clustering — the report a dedup run is judged by (SemDeDup
    * and the dedup literature report exactly this curve): per cluster
    * size, how many clusters, how many documents they hold, what fraction
    * of the corpus that is, and how many documents keep-one-per-cluster
    * removes. Costs one distinct + one groupBy over the (already tiny)
    * cluster table on top of the q93 build. */
  def dedupDiagnostics(spark: SparkSession, dir: String): DataFrame = {
    val asg = exhaustiveAssignment(spark, dir)
    val clusters = asg.select(col("cluster_id"), col("cluster_size")).distinct()
    val total = asg.agg(count(lit(1)).as("n_total"))
    clusters.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1L) * col("n_clusters")).as("n_removed"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_removed"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("corpus_frac"))
      .orderBy("cluster_size")
  }

  /** Incremental (cross-batch) span dedup (q113): q109's exact-substring
    * dedup in its production shape for a continuously ingested corpus.
    * The low-id 80% of documents is "yesterday's" accumulated corpus,
    * present only as its [[Dedup.spanGramCounts]] gram-count table (the
    * mergeable state a service persists beside the corpus); the high-id
    * 20% arrives as today's batch and is span-deduped against
    * batch ∪ corpus without re-scanning corpus text —
    * [[Dedup.removeDuplicateSpansIncrementalOfTokens]], whose exact semi
    * join against the gram table decides every batch-unique gram (an
    * empty corpus side, possible when doc_ids don't start near 0, gives
    * the single-corpus dedup through the same path). The oracle replays
    * the FULL recompute over all documents restricted to batch ids —
    * exactly what the incremental path must equal (the split identity:
    * covered-ness depends only on a gram's total count, which splits as
    * batch + corpus). Both dup paths
    * are data-exercised at the gate SFs: grams duplicated within the
    * batch alone AND batch-unique grams covered only via the corpus
    * (measured 88/386 grams at sf0.001, 76/299 at sf0.01). */
  def incrementalSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0)
    val h = maxId * 4 / 5 // bounded scalar read; oracle derives the same split
    def toks(d: DataFrame) = d.select(col("doc_id").cast("long").as("doc_id"),
      functions.TextFunctions.tokens(col("text")).as("toks"))
    val corpus = toks(docs.filter(col("doc_id") < h))
    val batch = toks(docs.filter(col("doc_id") >= h))
    val grams = Dedup.spanGramCounts(corpus, "doc_id", "toks", n = 8)
    spanCleanRows(Dedup.removeDuplicateSpansIncrementalOfTokens(batch, "doc_id", "toks",
      n = 8, grams))
  }

  /** A span-service fold's clean rows in the oracles' shape and order
    * (q113/q115/q116/q122/q124): the cleaned token stream as its md5. */
  private def spanCleanRows(clean: DataFrame): DataFrame =
    clean
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_dup_starts"),
        col("n_spans"), col("n_covered"),
        md5(to_binary(concat_ws(" ", col("clean_toks")), lit("utf-8")))
          .as("clean_md5"))
      .orderBy("doc_id")

  /** The foreachBatch body of the span-service streams (q116/q124): the
    * micro-batch tokenized once and folded through
    * [[jobs.SpanDedupMaintenance.foldBatch]]. */
  private def spanServiceFold(gramDir: String, cleanDir: String,
                              cfg: jobs.SpanDedupMaintenance.Config)
                             (batch: DataFrame, batchId: Long): Unit =
    jobs.SpanDedupMaintenance.foldBatch(
      batch.select(col("doc_id"), functions.TextFunctions.tokens(col("text")).as("toks")),
      batchId, gramDir, cleanDir, "doc_id", "toks", cfg)

  /** The q115 tercile fold sequence into (gramDir, cleanDir) — shared by
    * q115 (fresh run per call: the service IS the measurement) and the
    * staged state q117 mines. */
  private def runSpanServiceFolds(spark: SparkSession, dir: String,
                                  gramDir: String, cleanDir: String): Unit = {
    val docs = t(spark, dir).documents
    val lims = docs.agg(min(col("doc_id").cast("long")),
      max(col("doc_id").cast("long"))).head()
    val (mn, span) = (lims.getLong(0), lims.getLong(1) - lims.getLong(0) + 1)
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      functions.TextFunctions.tokens(col("text")).as("toks"),
      least(lit(2L), floor((col("doc_id").cast("long") - mn) * 3 /
        lit(span.toDouble)).cast("long")).as("b"))
    val cfg = jobs.SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 3).foreach { k =>
      jobs.SpanDedupMaintenance.foldBatch(
        base.filter(col("b") === k).select("doc_id", "toks"), k.toLong,
        gramDir, cleanDir, "doc_id", "toks", cfg)
    }
  }

  /** Span-dedup maintenance SERVICE (q115): [[jobs.SpanDedupMaintenance]]
    * driven end-to-end — documents arrive as three ascending doc_id
    * terciles, each fold span-dedupes its batch against everything
    * ingested before it (the accumulated gram-count state, never the
    * corpus text) and contributes its own counts; the query returns the
    * union of the three folds' clean outputs. compactEvery=2 makes the
    * THIRD fold run the gram-state compaction path under this oracle —
    * a compaction that dropped or double-counted grams changes coverage
    * and hash-fails here, not just in the spec. The oracle replays the
    * whole SEQUENCE in one pass: per-(gram, batch) counts, a cumulative
    * window sum over batch order, covered iff the PREFIX count at the
    * start's own batch exceeds one — the service's append-only semantics
    * (batch k sees batches 0..k, earlier batches are never re-deduped)
    * derived independently from the same constants. */
  def spanDedupService(spark: SparkSession, dir: String): DataFrame = {
    val root = freshScratchDir(spark, "q115_svc")
    val (gramDir, cleanDir) = (s"$root/grams", s"$root/clean")
    runSpanServiceFolds(spark, dir, gramDir, cleanDir)
    spanCleanRows(spark.read.parquet((0 until 3).map(k => s"$cleanDir/b=$k"): _*))
  }

  /** The span-dedup service's gram state, staged once per process per
    * testdata dir (the q93/q95 staging pattern): q117 then measures the
    * state-table read + sum-merge, not a third repetition of q115's fold
    * sequence. */
  private def spanServiceGramState(spark: SparkSession, dir: String): String =
    stagedDir(spark, s"spansvc_${dirKey(dir)}") { root =>
      runSpanServiceFolds(spark, dir, s"$root/grams", s"$root/clean")
      s"$root/grams"
    }

  /** Boilerplate mining over the service's gram-count state (q117): the
    * accumulated [[jobs.SpanDedupMaintenance.gramCounts]] table — committed
    * generation sum-merged with the post-generation batch dirs — filtered
    * to recurring grams and ranked. This is the state table AS a
    * deliverable (the most frequent 8-gram spans = the corpus's
    * boilerplate), and its oracle is the strongest arithmetic gate on the
    * service's bookkeeping: per-batch map-side-combined counts, the
    * compaction's groupBy-sum, and the reader's final sum-merge must
    * together equal a flat recount of EVERY window in the corpus — a
    * dropped batch dir, a double-counted generation, or a torn compaction
    * all change some gram's total and hash-fail here. */
  def boilerplateGrams(spark: SparkSession, dir: String): DataFrame =
    jobs.SpanDedupMaintenance.gramCounts(spark, spanServiceGramState(spark, dir))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("gram_md5"))

  /** Recursive copy of a state directory tree through the Hadoop FS API —
    * the tombstone-rebuild gates copy the per-process STAGED service
    * state to a private temp root before mutating it (a rebuild
    * overwrites versions and sweeps dirs; the shared stage must stay
    * pristine for other entries and repeat runs). */
  private def copyStateDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    org.apache.hadoop.fs.FileUtil.copy(
      sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp, false, conf)
    ()
  }

  /** Span-service tombstone rebuild, GATED (q118): every doc_id divisible
    * by 7 is retracted from the accumulated gram state via
    * [[jobs.SpanDedupMaintenance.rebuildState]] — the service's takedown
    * escape hatch run against real state (the staged q115 fold sequence,
    * copied to a private root first) — and the rebuilt state answers to
    * q117's oracle restricted to the retained corpus: a flat DuckDB
    * recount over documents WHERE doc_id % 7 <> 0. A rebuild that kept a
    * tombstoned doc's grams, lost a retained doc's, or failed to
    * supersede the old generation changes some count and hash-fails. */
  def tombstoneSpanRebuild(spark: SparkSession, dir: String): DataFrame = {
    val staged = spanServiceGramState(spark, dir)
    val root = freshScratchDir(spark, "q118_reb")
    copyStateDir(spark, staged, s"$root/grams")
    val retained = t(spark, dir).documents
      .filter(col("doc_id").cast("long") % 7 =!= 0)
      .select(col("doc_id").cast("long").as("doc_id"),
        functions.TextFunctions.tokens(col("text")).as("toks"))
    jobs.SpanDedupMaintenance.rebuildState(retained, s"$root/grams",
      "doc_id", "toks", jobs.SpanDedupMaintenance.Config(n = 8, compactEvery = 2))
    jobs.SpanDedupMaintenance.gramCounts(spark, s"$root/grams")
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("gram_md5"))
  }

  /** The cluster service's state after ingesting the whole embedding
    * corpus as one fold, staged once per process — the takedown gate
    * (q119) copies and then mutates it, so its bench entry measures the
    * REBUILD, not a repeated service build. */
  private def clusterServiceState(spark: SparkSession, dir: String): String =
    stagedDir(spark, s"clussvc_${dirKey(dir)}") { root =>
      val emb = t(spark, dir).embeddings
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      jobs.ClusterMaintenance.foldBatch(emb, 0L,
        s"$root/state", s"$root/corpus", "vec_id", "embedding",
        jobs.ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
          dim = 64, probeRadius = 1, numTables = 16))
      root
    }

  /** Untimed staging hook for the bench's stage warmup: builds exactly the
    * per-process staged state a consumer entry reads, WITHOUT running the
    * consumer query itself (q118's rebuild and q119's rebuild are the
    * declared measurements — only their shared upstream state belongs in a
    * warmup). Returns true when `name` is a state consumer it warmed. */
  def warmStagedState(spark: SparkSession, dir: String, name: String): Boolean =
    if (name.startsWith("q117_") || name.startsWith("q118_")) {
      spanServiceGramState(spark, dir); true
    } else if (name.startsWith("q119_")) {
      clusterServiceState(spark, dir); true
    } else false

  /** Cluster-service tombstone rebuild, GATED (q119): every vec_id
    * divisible by 7 is retracted via
    * [[jobs.ClusterMaintenance.rebuildWithoutTombstones]] — the from-
    * scratch pruned build over the retained corpus, run against real
    * committed service state (staged, copied to a private root) — and
    * the rebuilt head assignment answers to q103's full pruned-pipeline
    * replay restricted to the retained corpus (the identical seeded
    * signatures / probe masks / bucket join / cosine gate / recursive
    * closure, over embeddings WHERE vec_id % 7 <> 0). A tombstoned id
    * surviving, a retained pair lost, or a label drifting from the
    * filtered min all hash-fail. */
  def tombstoneClusterRebuild(spark: SparkSession, dir: String): DataFrame = {
    val staged = clusterServiceState(spark, dir)
    val root = freshScratchDir(spark, "q119_reb")
    copyStateDir(spark, s"$staged/state", s"$root/state")
    copyStateDir(spark, s"$staged/corpus", s"$root/corpus")
    val tomb = t(spark, dir).embeddings
      .select(col("vec_id").cast("long").as("vec_id"))
      .filter(col("vec_id") % 7 === 0)
    jobs.ClusterMaintenance.rebuildWithoutTombstones(spark,
        s"$root/state", s"$root/corpus", tomb, "vec_id",
        jobs.ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
          dim = 64, probeRadius = 1, numTables = 16))
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** Takedown-and-RESUME, gated (q121): q119 gates the rebuild itself;
    * this gates the service's full takedown LIFECYCLE — ingest, retract,
    * resume — under one oracle. Two tercile folds commit; every ingested
    * vec_id % 7 == 0 is then retracted via
    * [[jobs.ClusterMaintenance.rebuildWithoutTombstones]] (state collapses
    * to one rebuilt snapshot, the corpus to one filtered generation); the
    * stream then RESUMES with the third tercile folded on top of the
    * rebuilt state, its candidates from one map-side pass over the
    * filtered generation ∪ the batch. The final assignment must equal the full
    * pruned build over (retained ∪ resumed batch) — the incremental
    * theorem on the filtered corpus, i.e. exactly the claim that a
    * takedown is invisible to the stream that follows it. The oracle
    * replays q103's pipeline over embeddings WHERE vec_id % 7 <> 0 OR
    * vec_id >= the re-derived tercile boundary (ids arriving AFTER the
    * takedown are kept even when ≡ 0 mod 7 — retraction applies to the
    * corpus at rebuild time, not to future ingests). A retracted vector
    * left in the corpus (which would bring its id back as a candidate), a
    * rebuild head resolved at the wrong fold, or a resume fold reading
    * swept state all hash-fail here end-to-end, not just in the spec. */
  def takedownResume(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) // bounded scalar
    val b = (maxId + 1) * 2 / 3
    val root = freshScratchDir(spark, "q121_tr")
    val cfg = jobs.ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16)
    (0 until 2).foreach { w =>
      jobs.ClusterMaintenance.foldBatch(
        emb.filter(idSlice(col("vec_id"), maxId, 3, w)), w.toLong,
        s"$root/state", s"$root/corpus", "vec_id", "embedding", cfg)
    }
    val tomb = emb.select(col("vec_id"))
      .filter(col("vec_id") % 7 === 0 && col("vec_id") < b)
    jobs.ClusterMaintenance.rebuildWithoutTombstones(spark, s"$root/state",
      s"$root/corpus", tomb, "vec_id", cfg)
    jobs.ClusterMaintenance.foldBatch(emb.filter(col("vec_id") >= b), 2L,
      s"$root/state", s"$root/corpus", "vec_id", "embedding", cfg)
    jobs.ClusterMaintenance.latestAssignment(spark, s"$root/state")
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** Span-service takedown-and-RESUME, gated (q122): q118 gates the gram
    * recount itself; this gates the span service's full takedown
    * LIFECYCLE under one oracle. Two tercile folds commit their gram
    * counts; every ingested doc_id % 7 == 0 is then retracted via
    * [[jobs.SpanDedupMaintenance.rebuildState]] (the recount of the
    * retained prefix becomes a single superseding generation); the
    * stream resumes with the third tercile folded on top. The resumed
    * fold's clean output must equal the full span-dedup recompute over
    * (retained ∪ batch) restricted to the batch — the operator's split
    * identity on the filtered corpus. A retraction that is invisible to
    * the next fold (a doc whose only duplicates were retracted must come
    * back UNCOVERED), a superseded dir read beside the rebuilt
    * generation, or a rebuild that kept a tombstoned doc's grams all
    * change coverage and hash-fail here. */
  def spanTakedownResume(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir).documents
    def toks(d: DataFrame) = d.select(col("doc_id").cast("long").as("doc_id"),
      functions.TextFunctions.tokens(col("text")).as("toks"))
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0)
    val b = (maxId + 1) * 2 / 3 // bounded scalar; oracle re-derives it
    val root = freshScratchDir(spark, "q122_tr")
    val cfg = jobs.SpanDedupMaintenance.Config(n = 8, compactEvery = 2)
    (0 until 2).foreach { w =>
      jobs.SpanDedupMaintenance.foldBatch(
        toks(docs.filter(idSlice(col("doc_id"), maxId, 3, w))), w.toLong,
        s"$root/grams", s"$root/clean", "doc_id", "toks", cfg)
    }
    val retained = toks(docs.filter(col("doc_id") < b && col("doc_id") % 7 =!= 0))
    jobs.SpanDedupMaintenance.rebuildState(retained, s"$root/grams",
      "doc_id", "toks", cfg)
    spanCleanRows(jobs.SpanDedupMaintenance.foldBatch(toks(docs.filter(col("doc_id") >= b)),
      2L, s"$root/grams", s"$root/clean", "doc_id", "toks", cfg))
  }

  /** Cluster-service fold SEQUENCE, gated (q120): [[jobs.ClusterMaintenance]]
    * driven as three direct tercile folds with `snapshotEvery = 2` — fold 0
    * anchors the `v=0` snapshot, fold 1 writes only the batch-proportional
    * `d=1` delta, fold 2 reconstructs its prior through the (v=0, d=1)
    * latest-fold-wins merge and snapshots `v=2` — and the RECONSTRUCTED
    * assignment is recorded after EVERY fold, not just the last. Each
    * fold's reconstruction must equal the full pruned build over the id
    * prefix ingested so far (the star-replacement induction at every
    * step), so the oracle replays q103's whole signature → probe-mask →
    * bucket-join → cosine-gate → recursive-closure pipeline once per
    * prefix (the tercile boundary re-derived in SQL from max(vec_id), not
    * taken from this run). A delta that dropped a superseded row, a
    * reconstruction resolving latest-fold-wins wrongly, or retention
    * sweeping a dir a later read still needs all hash-fail AT THE FOLD
    * WHERE THEY FIRST BITE — q104 gates only the final state through the
    * streaming harness; this pins the whole state trajectory. Per-fold
    * outputs are materialized to scratch parquet before the next fold
    * mutates the state dirs (a lazy plan would re-read swept state). */
  def clusterServiceFoldSequence(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir).embeddings
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) // bounded scalar
    val nWaves = 3
    val root = freshScratchDir(spark, "q120_seq")
    val cfg = jobs.ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4,
      dim = 64, probeRadius = 1, numTables = 16,
      compactEvery = 2, snapshotEvery = 2)
    (0 until nWaves).foreach { w =>
      jobs.ClusterMaintenance.foldBatch(
        emb.filter(idSlice(col("vec_id"), maxId, nWaves, w)), w.toLong,
        s"$root/state", s"$root/corpus", "vec_id", "embedding", cfg)
      jobs.ClusterMaintenance.latestAssignment(spark, s"$root/state")
        .withColumn("fold", lit(w.toLong))
        .write.mode("overwrite").parquet(s"$root/seq/f=$w")
    }
    spark.read.parquet((0 until nWaves).map(w => s"$root/seq/f=$w"): _*)
      .select(col("fold"), col("id").as("vec_id"), col("cluster_id"),
        col("cluster_size"), col("is_canonical"))
      .orderBy("fold", "vec_id")
  }

  /** STREAMING span-dedup maintenance (q116): q115's service driven the
    * way q104 drives the cluster service — from the file-source ingest
    * path via foreachBatch, with a kill/outage/restart through the
    * checkpoint. The documents arrive as three ascending-doc_id tercile
    * wave files (the SAME split as q115, so this query answers to q115's
    * oracle verbatim); each micro-batch tokenizes its slice and folds it
    * through [[jobs.SpanDedupMaintenance.foldBatch]] — gram-count state,
    * compactEvery=1 (the tightest cadence): fold 1 commits `gen=0`, so
    * the POST-RESTART fold resolves its prior through a committed
    * generation and semi-joins against it in-stream, and fold 2's own
    * compaction also runs UNDER this oracle. Run 1 is killed once batch 1 commits (stop can
    * land mid-batch); run 2 resumes from the checkpoint, replays any
    * in-flight batch (foldBatch's keyed overwrites make the replay
    * byte-identical — idempotence IS the exactly-once story), and
    * drains. The final clean outputs must equal the batch service's fold
    * sequence exactly, kill-point independent. */
  def streamingSpanDedupService(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q116_${Integer.toHexString(dir.hashCode)}_$runId"
    val gramDir = scratchDir(spark, s"${tag}_grams")
    val cleanDir = scratchDir(spark, s"${tag}_clean")
    val docs = t(spark, dir).documents
    val lims = docs.agg(min(col("doc_id").cast("long")),
      max(col("doc_id").cast("long"))).head()
    val (mn, span) = (lims.getLong(0), lims.getLong(1) - lims.getLong(0) + 1)
    val base = Snapshot.take(docs.select(col("doc_id").cast("long").as("doc_id"), col("text"),
        least(lit(2L), floor((col("doc_id").cast("long") - mn) * 3 /
          lit(span.toDouble)).cast("long")).as("b")))
    val cfg = jobs.SpanDedupMaintenance.Config(n = 8, compactEvery = 1)
    try {
      // one single-file wave per tercile
      val (stageWave, start) = serviceStream(spark, tag,
        w => base.filter(col("b") === w).select("doc_id", "text"))(
        spanServiceFold(gramDir, cleanDir, cfg))
      (0 until 3).foreach(stageWave) // all staged before ingest begins
      // kill once batch 1 commits — file 3 unread, stop may land with
      // batch 2 in flight (the restart then replays it idempotently)
      StreamRun.killRestartDrain(start, killAfter = 1, outage = ())
    } finally Snapshot.release(base)
    spanCleanRows(spark.read.parquet((0 until 3).map(k => s"$cleanDir/b=$k"): _*))
  }

  /** STREAM-GATED takedown lifecycle (q123): q121's ingest → retract →
    * resume, driven through q104's checkpointed streaming harness — the
    * deployment reality of a takedown. The service ingests from a live
    * file-source stream: run 1 is killed once batch 0 commits (the stop
    * free to land with batch 1 in flight), run 2 resumes from the
    * checkpoint, replays any in-flight fold idempotently, drains both
    * staged terciles, and stops cleanly — the QUIESCED window the
    * rebuild lease enforces. The operator then runs
    * [[jobs.ClusterMaintenance.rebuildWithoutTombstones]] against the
    * committed state (every ingested vec_id % 7 == 0 retracted; state
    * collapses to the rebuilt v=1 snapshot, the corpus to one filtered
    * generation, the lease taken and released around the swap). The SAME
    * stream then RESUMES FROM THE SAME CHECKPOINT with the third tercile
    * staged: the restart's fold (batchId 2) lands on the post-rebuild
    * dirs — its prior resolves the rebuilt snapshot, and its candidates
    * come from its one map-side pass over the filtered generation ∪ the
    * batch. The final head assignment answers q121's oracle VERBATIM (the
    * full pruned replay over retained ∪ resumed batch) — kill-point
    * independent, the takedown invisible to the stream that follows it. A
    * lease left behind blocking the resumed fold, a rebuild head resolved
    * at the wrong fold, a checkpoint restart landing on swept dirs, or a
    * retracted vector left in the corpus (which would bring its id back as
    * a candidate) all hash-fail HERE, end-to-end through the streaming
    * machinery rather than through direct batch calls (q121's tier). */
  def streamingTakedownLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q123_${Integer.toHexString(dir.hashCode)}_$runId"
    val state = scratchDir(spark, s"${tag}_state")
    val corpusDir = scratchDir(spark, s"${tag}_corpus")
    val emb = Snapshot.take(t(spark, dir).embeddings
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding")))
    // q121's config exactly — the oracle claim is the same filtered
    // pruned build, now reached through the streaming machinery
    val mcfg = jobs.ClusterMaintenance.Config(threshold = 0.35,
      numPlanes = 4, dim = 64, probeRadius = 1, numTables = 16)
    try {
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) // bounded scalar
      val b = (maxId + 1) * 2 / 3 // tercile boundary; oracle re-derives it
      // one single-file wave per ascending tercile (same staging as q104)
      val (stageWave, start) = serviceStream(spark, tag,
          w => emb.filter(idSlice(col("vec_id"), maxId, 3, w))) { (batch, batchId) =>
        jobs.ClusterMaintenance.foldBatch(batch, batchId, state, corpusDir,
          "vec_id", "embedding", mcfg)
      }
      (0 until 2).foreach(stageWave) // terciles 0/1 staged before ingest
      // kill once batch 0 commits — the stop may land with batch 1 in
      // flight (run 2 then replays it idempotently through the
      // checkpoint, still PRE-takedown: the lifecycle's kill window)
      StreamRun.killRestartDrain(start, killAfter = 0, outage = ())
      // the stream is STOPPED and drained — the quiesced window the
      // rebuild contract demands (and its lease enforces against error)
      val tomb = emb.select(col("vec_id"))
        .filter(col("vec_id") % 7 === 0 && col("vec_id") < b)
      jobs.ClusterMaintenance.rebuildWithoutTombstones(spark, state,
        corpusDir, tomb, "vec_id", mcfg)
      // resume: third tercile staged, the SAME checkpoint continues at
      // batchId 2 on top of the rebuilt state
      stageWave(2)
      StreamRun.drain(start)
    } finally Snapshot.release(emb)
    jobs.ClusterMaintenance.latestAssignment(spark, state)
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** STREAM-GATED span-service takedown lifecycle (q124): q122's ingest →
    * retract → resume driven through q116's checkpointed streaming
    * harness — the span-side counterpart of q123, so BOTH services carry
    * the deployment-shaped takedown gate. Two tercile waves ingest
    * through the file-source stream (run 1 killed once batch 0 commits,
    * stop free to land mid-batch-1; run 2 resumes from the checkpoint,
    * replays any in-flight fold idempotently, drains, stops cleanly —
    * the quiesced window the rebuild lease enforces);
    * [[jobs.SpanDedupMaintenance.rebuildState]] then recounts the
    * retained corpus (every ingested doc_id % 7 == 0 retracted) into a
    * single superseding generation; the SAME stream resumes from the
    * SAME checkpoint with the third tercile staged, so the restart's fold
    * (batchId 2) resolves the rebuilt generation — never a superseded
    * dir — and its clean output must equal the full span-dedup recompute
    * over (retained ∪ batch) restricted to the batch: q122's oracle
    * VERBATIM. A lease left behind, a head derived past the rebuilt
    * generation, or a stale dir read beside it all change coverage and
    * hash-fail here through the streaming machinery. */
  def streamingSpanTakedownLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val runId = streamRunCounter.getAndIncrement()
    val tag = s"q124_${Integer.toHexString(dir.hashCode)}_$runId"
    val gramDir = scratchDir(spark, s"${tag}_grams")
    val cleanDir = scratchDir(spark, s"${tag}_clean")
    val base = Snapshot.take(t(spark, dir).documents
      .select(col("doc_id").cast("long").as("doc_id"), col("text")))
    val cfg = jobs.SpanDedupMaintenance.Config(n = 8, compactEvery = 2) // q122's config
    try {
      val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
      val b = (maxId + 1) * 2 / 3 // tercile boundary; oracle re-derives it
      // one single-file wave per ascending tercile (same staging as q116,
      // and the SAME id split as q122 so its oracle answers verbatim)
      val (stageWave, start) = serviceStream(spark, tag,
        w => base.filter(idSlice(col("doc_id"), maxId, 3, w)))(
        spanServiceFold(gramDir, cleanDir, cfg))
      (0 until 2).foreach(stageWave) // terciles 0/1 staged before ingest
      // kill once batch 0 commits — the stop may land with batch 1 in
      // flight (run 2 replays it idempotently, still pre-takedown)
      StreamRun.killRestartDrain(start, killAfter = 0, outage = ())
      // stream stopped and drained — the quiesced takedown window
      val retained = base
        .filter(col("doc_id") < b && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          functions.TextFunctions.tokens(col("text")).as("toks"))
      jobs.SpanDedupMaintenance.rebuildState(retained, gramDir,
        "doc_id", "toks", cfg)
      // resume: third tercile staged, the SAME checkpoint continues at
      // batchId 2 over the rebuilt generation
      stageWave(2)
      StreamRun.drain(start)
    } finally Snapshot.release(base)
    spanCleanRows(spark.read.parquet(s"$cleanDir/b=2"))
  }

  /** Hybrid fusion of two OVERLAPPING retrievers (q114): q108's RRF gate
    * covers the rank-interleave of (on this testdata) disjoint dense and
    * sparse lists; this query gates the AGREEMENT path — the summed-rank
    * arithmetic for documents both retrievers return — by fusing two
    * rankings of the SAME signal at different precisions: full-precision
    * brute-force cosine top-5 (the q31 declared ground-truth tier) and
    * int8-quantized cosine top-5 (the q63 tier). Quantization preserves
    * most of the ranking (measured overlap 47/50 fused rows at sf0.001,
    * 50/50 at sf0.01 — RelevanceStatsSpec pins overlap > 0), so nearly
    * every output row sums contributions from BOTH lists, and the few
    * disagreement rows exercise the one-list fallback beside them. The
    * oracle replays both retrievers (the q31 cosine CTE + the q63
    * quantization CTEs) and the RRF sum. Query set % 50 == 13, disjoint
    * from every other ANN query. */
  def hybridQuantFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(spark, dir).embeddings
    val queries = emb.filter(col("vec_id") % 50 === 13)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val full = Similarity.cosineTopK(emb, "vec_id", "embedding", queries,
        "qid", "qvec", k = 5)
      .select(col("qid"), col("id"), col("rank"))
    val qemb = emb.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).as("qv"))
    val qqueries = qemb.filter(col("vec_id") % 50 === 13)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val quant = Similarity.cosineTopK(qemb, "vec_id", "qv", qqueries,
        "qid", "qvec", k = 5)
      .select(col("qid"), col("id"), col("rank"))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id"))
    Relevance.rrfFuse(Seq(full, quant), k0 = 60)
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("id"), col("rrf"))
      .orderBy("qid", "rank")
  }
}
