package graft.jobs

import graft.functions.TextFunctions._
import graft.operators.{CorpusQuality, Dedup, Packing, Snapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the composition the engine
  * exists for. One declarative chain, every stage from the operator library:
  *
  *   read → Unicode NFC canonicalize → PII scrub → quality score
  *        → repetition gate → filter
  *        → exact dedup → MinHash near-dup removal
  *        → language-ID annotate → partitioned write
  *
  * Scale shape: per-document stages (scrub, scoring, repetition) shuffle on
  * (doc, gram) with map-side combine; dedup adds one content shuffle
  * (the exact-dedup digest groupBy; the MinHash signature is map-only) + the
  * near-dup candidate step (LSH band buckets, linear in candidates, banded
  * on the driver while the signatures fit its heap); the
  * final write repartitions by the partition column so each output partition
  * is written by one task.
  */
object CorpusPipeline {

  final case class Config(minTokens: Long = 5, maxStopwordRatio: Double = 0.9,
                          minUniqRatio: Double = 0.1, nearDupThreshold: Double = 0.9,
                          // repetition gate (Gopher-style): drop docs whose
                          // most-frequent 2-gram covers more than this share.
                          // 1.0 disables (a 2-token doc is trivially at 1.0).
                          maxTop2gramFrac: Double = 1.0,
                          scrubPii: Boolean = false,
                          // Unicode NFC canonicalization (native expression,
                          // ASCII fast path free) — run FIRST so encoding
                          // variants of the same page share a digest and the
                          // PII regexes see canonical text
                          normalizeUnicode: Boolean = false,
                          // variant-insensitive exact-dedup KEY: digest
                          // lower(NFKC(text)) (TextFunctions.canonicalDigest)
                          // instead of the raw text, so case AND
                          // compatibility/combining-encoding variants of one
                          // page collapse to one surviving document — without
                          // rewriting the stored text the way
                          // normalizeUnicode does (keys fold, content stays)
                          canonicalDedupKey: Boolean = false,
                          // exact SUBSTRING dedup for the sequence tier:
                          // Some(n) removes every n-token span occurring
                          // more than once among the cluster-dedup
                          // survivors BEFORE chunking (Lee et al. 2022 —
                          // duplicated spans, not just duplicated docs,
                          // hurt training). None skips the stage.
                          spanDedupN: Option[Int] = None,
                          // token hash for the MinHash sketch: xxhash64 (fast
                          // default) or TextFunctions.md5Hash32 when the run
                          // must be replayable by an ANSI-SQL oracle (q65)
                          tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                            graft.functions.TextFunctions.tokenHash32)

  /** The exact-dedup KEY column — one definition shared by every pipeline
    * tier (curate / curationReport / segmentPlan / curateStream), so the
    * batch, composed, and streaming forms can never disagree on what "the
    * same document" means. */
  private[graft] def dedupKey(cfg: Config): org.apache.spark.sql.Column =
    if (cfg.canonicalDedupKey) canonicalDigest(col("text")) else col("text")

  /** The quality-gate predicate over the `q` metrics struct — one definition
    * shared by every pipeline form so the gates can never drift apart. */
  private def qualityGate(cfg: Config): org.apache.spark.sql.Column =
    col("q.n_tokens") >= cfg.minTokens &&
      col("q.stopword_ratio") <= cfg.maxStopwordRatio &&
      col("q.uniq_ratio") >= cfg.minUniqRatio

  /** Stage -1/0: optional Unicode canonicalization, then optional PII
    * scrub — both BEFORE any content digest, so encoding variants and
    * docs differing only in redacted PII dedup together. One shared
    * definition keeps [[qualityGated]] and [[segmentPlan]] in lockstep. */
  private def canonicalized(docs: DataFrame, cfg: Config): DataFrame = {
    val normed =
      if (cfg.normalizeUnicode)
        docs.withColumn("text",
          graft.plans.TextExpressions.normalize_text(col("text")))
      else docs
    if (cfg.scrubPii) normed.withColumn("text", redactPii(col("text")))
    else normed
  }

  /** Stages 0-1b: canonicalize/scrub → quality score+filter → repetition
    * gate. Output keeps every input column plus the `q` metrics struct. */
  private def qualityGated(docs: DataFrame, cfg: Config): DataFrame = {
    val stopwords = graft.Queries.Stopwords
    // spread: canonicalize + quality metrics tokenize every document — the
    // map-side cost of the whole gate (see operators.Parallelism.spread;
    // no-op at real scale where the scan has splits)
    val scrubbed = canonicalized(
      graft.operators.Parallelism.spread(docs, "doc_id"), cfg)
    // 1. quality gate — single codegen'd projection + filter
    val scored = scrubbed.withColumn("q", qualityMetrics(col("text"), stopwords))
      .filter(qualityGate(cfg))
    // 1b. repetition gate — anti-join against the over-repetitive doc set
    //     (one (doc, gram) shuffle; skipped entirely when disabled)
    if (cfg.maxTop2gramFrac >= 1.0) scored
    else {
      val repetitive = CorpusQuality
        .repetitionSignals(scored, "doc_id", "text", ns = Seq(2))
        .filter(col("top_frac") > cfg.maxTop2gramFrac)
        .select(col("id").as("doc_id"))
      scored.join(repetitive, Seq("doc_id"), "left_anti")
    }
  }

  /** Stage 3: near-dup removal — of each MinHash candidate pair keep the
    * smaller id (greedy; transitive clusters collapse over the id order). */
  private def nearDupRemoved(exact: DataFrame, cfg: Config): DataFrame = {
    val dupIds = Dedup.minhashCandidatePairs(exact, "doc_id", "text",
        threshold = cfg.nearDupThreshold, tokenHash = cfg.tokenHash)
      .select(col("id_b").as("doc_id")).distinct()
    exact.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Returns the curated corpus (doc_id, text, lang, predicted_lang, n_tokens). */
  def curate(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val gated = qualityGated(docs, cfg)
    // 2. exact dedup (content digest, keep smallest doc_id)
    val exact = Dedup.exactDedup(gated, Seq(dedupKey(cfg)), col("doc_id"))
    val deduped = nearDupRemoved(exact, cfg)
    // 4. annotate
    deduped.select(col("doc_id"), col("text"), col("lang"),
      langId(col("text"), graft.Queries.LangProfiles).as("predicted_lang"),
      col("q.n_tokens").as("n_tokens"))
  }

  /** The ingest-gated pipeline front door: evaluate a data-contract suite
    * (`operators.Contracts`) against the raw batch FIRST — one scan for
    * the row-local tier — and only curate if every check passes. On any
    * failure, throw with the full violation report in the message: a
    * malformed batch (nulls where the digest needs text, duplicate ids
    * that would silently merge, counts under a floor) must stop the run
    * at the gate, not corrupt state three stages later. The report action
    * is eager and O(#constraints) rows; the curation result stays lazy. */
  def validateAndCurate(docs: DataFrame,
                        contract: Seq[graft.operators.Contracts.Constraint],
                        cfg: Config = Config()): DataFrame = {
    val report = graft.operators.Contracts.check(docs, contract)
      .collect() // O(#constraints) rows — the gate's entire driver cost
    val failed = report.filter(_.getAs[String]("status") == "fail")
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "ingest contract failed:\n" + failed.map(r =>
          s"  ${r.getAs[String]("check_name")}(${r.getAs[String]("target")}): " +
            s"${r.getAs[Long]("violations")} violations").mkString("\n"))
    curate(docs, cfg)
  }

  /** Per-language stage accounting of a full `curate` run — the report a
    * curation job ships with its output: documents entering, surviving the
    * quality gate, surviving exact dedup, surviving near-dup removal, how
    * many survivors' predicted language agrees with the labeled one, and the
    * survivors' token volume. One row per input language.
    *
    * Scale shape: each stage count is a per-language aggregate (5 rows) of
    * the stage frame; `gated`/`exact` are [[Snapshot]]s so the upstream
    * stages compute once, not once per downstream count (the MinHash
    * signature snapshot inside `minhashCandidatePairs` does the same for
    * the sketch).
    * Nothing beyond the per-language count rows ever concentrates.
    *
    * EAGER by design (unlike the operator library): a stage-count report is
    * a job-level artifact, and running it inside the call lets the stage
    * snapshots be RELEASED before returning. The returned frame is the
    * collected per-language rows (a handful). */
  def curationReport(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = docs.sparkSession
    Snapshot.scoped(qualityGated(docs, cfg)) { gated =>
      Snapshot.scoped(Dedup.exactDedup(gated, Seq(dedupKey(cfg)), col("doc_id"))) { exact =>
        val fin = nearDupRemoved(exact, cfg)
          .withColumn("predicted_lang", langId(col("text"), graft.Queries.LangProfiles))
        def byLang(df: DataFrame, name: String) =
          df.groupBy("lang").agg(count(lit(1)).cast("long").as(name))
        val finAgg = fin.groupBy("lang").agg(
          count(lit(1)).cast("long").as("n_final"),
          sum(when(col("predicted_lang") === col("lang"), 1L).otherwise(0L))
            .cast("long").as("n_pred_match"),
          sum(col("q.n_tokens")).cast("long").as("sum_tokens"))
        val report = byLang(docs, "n_input")
          .join(byLang(gated, "n_quality"), Seq("lang"), "left")
          .join(byLang(exact, "n_exact"), Seq("lang"), "left")
          .join(finAgg, Seq("lang"), "left")
          .select(col("lang"), col("n_input"),
            coalesce(col("n_quality"), lit(0L)).as("n_quality"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            coalesce(col("n_final"), lit(0L)).as("n_final"),
            coalesce(col("n_pred_match"), lit(0L)).as("n_pred_match"),
            coalesce(col("sum_tokens"), lit(0L)).as("sum_tokens"))
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(report.collect().toList.asJava, report.schema)
      }
    }
  }

  /** The COMPLETE training-data pipeline, raw corpus to written training
    * sequences, as one composed job:
    *
    *   quality gate → exact dedup → near-dup CLUSTER dedup (connected
    *   components over MinHash pairs; the canonical min-id document per
    *   cluster survives) → [optional span-level exact-substring dedup
    *   among the survivors (cfg.spanDedupN)]
    *   → sliding-window chunking (chunkSize/chunkStride)
    *   → [optional chunk-level decontamination against a benchmark corpus]
    *   → sequence packing (capacity) → per-(chunk, sequence) segment map
    *   → parquet partitioned by sequence bucket.
    *
    * Returns the written segment table read back from `outDir`: one row per
    * (chunk, sequence) intersection — chunk tokens [chunk_from, chunk_from +
    * n_tok) land at offset seq_off of seq_id. A sequence writer reads its
    * shard by seq_bucket = floor(seq_id / seqsPerBucket) alone.
    *
    * Plan hygiene — the properties the composed form exists to hold (each
    * is individually easy, jointly they rot; spec-pinned):
    *  - ONE tokenize: `tokens(text)` is projected once into `toks`; the
    *    quality gate (qualityMetricsOfTokens), the MinHash sketch
    *    (minhashSignaturesOfTokens), the chunker (chunkTokens) and the
    *    packer's token counts all consume that attribute. No stage
    *    re-derives split().
    *  - Bounded snapshots, released before return: the exact-dedup
    *    survivor frame (with toks) backs the sketch, the survivor join and
    *    the chunker — a [[Snapshot]] for the duration of the write,
    *    released in a finally, like [[Packing.packSequences]]' (id, cnt)
    *    snapshot. The sketch's signature snapshot is released before the
    *    candidate step returns when it bands on the driver, else the moment
    *    the component closure — materialized — returns.
    *  - Cluster dedup, not pair dedup: dropping one side of each PAIR
    *    over-deletes on chains a-b, b-c; components keep exactly one
    *    canonical doc per near-dup cluster (min id — deterministic).
    *  - Chunk ids pack in (doc_id, chunk_idx) order via uid = doc_id·2^20 +
    *    chunk_idx, guarded against overflow (doc_id < 2^43, chunk_idx <
    *    2^20 ≈ 50M tokens/doc at stride 48) — a violation raises rather
    *    than silently interleaving chunks.
    *
    * Scale shape: every stage is the operator library's own (sketch
    * shuffles carry ≤ 520 B/doc, CC is O(log diameter) rounds, chunking is
    * shuffle-free, packing's prefix sum is hierarchical); the write
    * repartitions on (seq_bucket, row-hash spread) so one task writes one
    * output partition's files. */
  def curateToSequences(docs: DataFrame, outDir: String,
                        cfg: Config = Config(),
                        chunkSize: Int = 64, chunkStride: Int = 48,
                        capacity: Long = 2048,
                        seqsPerBucket: Long = 1024,
                        // eval corpus for CHUNK-level decontamination: any
                        // chunk containing a benchmark `decontamN`-gram is
                        // dropped BEFORE packing (sequences close ranks —
                        // capacity-fill holds on the survivors). None skips.
                        benchmark: Option[(DataFrame, String)] = None,
                        decontamN: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val (segs, release) = segmentPlan(docs, cfg, chunkSize, chunkStride,
      capacity, seqsPerBucket, benchmark, decontamN)
    try graft.sources.Sinks.partitionedParquet(segs, outDir, Seq("seq_bucket"))
    finally release()
    // explicit schema: a corpus where nothing survives curation writes only
    // _SUCCESS, and schema inference would throw instead of returning the
    // empty frame (the schema also types the seq_bucket partition column
    // long, not discovery-inferred int)
    spark.read.schema(segs.schema).parquet(outDir)
  }

  /** The lazy segment frame behind [[curateToSequences]], plus the thunk
    * releasing its stage snapshots — exposed for plan inspection (the
    * one-tokenize and snapshot-lifecycle specs assert on this frame). Jobs
    * use [[curateToSequences]], which writes, releases, and reads back.
    * NOTE: the snapshots and cluster dedup run EAGERLY in here (connected
    * components is a multi-round loop); only the chunk→pack→segment tail
    * is lazy. */
  private[graft] def segmentPlan(docs: DataFrame, cfg: Config,
                                 chunkSize: Int, chunkStride: Int,
                                 capacity: Long, seqsPerBucket: Long,
                                 benchmark: Option[(DataFrame, String)] = None,
                                 decontamN: Int = 5)
      : (DataFrame, () => Unit) = {
    require(seqsPerBucket >= 1)
    val stopwords = graft.Queries.Stopwords
    // spread: the base projection below tokenizes + digests every document
    // in one codegen'd pass — the chain's heaviest map side (measured as a
    // 5.8 s single-task stage at sf0.1 pre-spread); no-op at real scale
    val scrubbed = canonicalized(
      graft.operators.Parallelism.spread(docs, "doc_id"), cfg)
    // THE tokenize — the chain's only split(); everything downstream reads
    // the `toks` attribute. Exact dedup runs BELOW the quality gate: the
    // two commute (the gate is a pure function of text, and a digest group
    // shares one text), and the dedup aggregation is the optimizer barrier
    // that keeps it that way — a filter directly above this projection
    // would be rewritten through it, re-deriving split() once per gate
    // term (measured: 56 split() nodes in the optimized plan). Above the
    // aggregation the gate references plain attributes and stays
    // tokenize-free. The dedup shuffle carries (doc_id, 32-char digest,
    // toks) — the text column is digested away before the exchange.
    val base = scrubbed.select(col("doc_id").cast("long").as("doc_id"),
      (if (cfg.canonicalDedupKey) canonicalDigest(col("text"))
       else md5(col("text").cast("binary"))).as("__digest"),
      tokens(col("text")).as("toks"))
    val gated = Dedup.exactDedup(base, Seq(col("__digest")), col("doc_id"))
      .withColumn("q", qualityMetricsOfTokens(col("toks"), stopwords))
      .filter(qualityGate(cfg))
    val stage = Snapshot.take(gated.select(col("doc_id"), col("toks")))
    // repetition gate (same stage qualityGated applies it at; commutes with
    // exact dedup like the quality gate — a pure function of the deduped
    // text). Both anti-join sides read the stage snapshot, and the signals
    // consume its toks attribute, so the gate adds no tokenize.
    val exact =
      if (cfg.maxTop2gramFrac >= 1.0) stage
      else stage.join(
        CorpusQuality.repetitionSignalsOfTokens(stage, "doc_id", "toks", ns = Seq(2))
          .filter(col("top_frac") > cfg.maxTop2gramFrac)
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
    val (pairs, releaseSigs) = Dedup.candidatePairsOfSignatures(
      Dedup.minhashSignaturesOfTokens(exact, "doc_id", "toks", tokenHash = cfg.tokenHash),
      threshold = cfg.nearDupThreshold)
    // non-canonical cluster members (node ≠ its component's min label).
    // connectedComponents consumes the pairs eagerly and returns a
    // materialized frame (a local relation or a checkpoint), so the
    // sketch's signature checkpoint can be released as soon as it returns.
    val losers =
      try Dedup.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      finally releaseSigs()
    val kept0 = exact.join(losers, Seq("doc_id"), "left_anti")
    // optional span-level exact-substring dedup among the survivors:
    // consumes the snapshot's toks attribute (no tokenize added — the
    // one-tokenize plan spec covers this configuration too) and feeds the
    // chunker the CLEANED token stream; a fully-covered doc chunks to
    // nothing and packing closes ranks over the remainder
    val kept = cfg.spanDedupN.fold(kept0) { nSpan =>
      Dedup.removeDuplicateSpansOfTokens(kept0, "doc_id", "toks", nSpan)
        .select(col("id").as("doc_id"), col("clean_toks").as("toks"))
    }
    val allChunks = Packing.chunkTokens(kept, "doc_id", "toks",
      chunkSize, chunkStride)
    // optional CHUNK-level decontamination: benchmark-shingle positions map
    // to window indices by arithmetic (contaminatedChunksOfTokens — reads
    // the snapshot's toks attribute, so the stage adds no tokenize of the
    // corpus); contaminated chunks are anti-joined away BEFORE packing, so
    // the surviving sequences still fill to capacity
    val chunks = benchmark.fold(allChunks) { case (bdf, btextCol) =>
      val contam = CorpusQuality.contaminatedChunksOfTokens(
          kept, "doc_id", "toks", bdf, btextCol,
          n = decontamN, size = chunkSize, stride = chunkStride)
        .select(col("id"), col("chunk_idx"))
      allChunks.join(contam, Seq("id", "chunk_idx"), "left_anti")
    }
    val uidOk = col("id") >= 0 && col("id") < (1L << 43) &&
      col("chunk_idx") < (1L << 20)
    val withUid = chunks.select(
      when(uidOk, shiftleft(col("id"), 20) + col("chunk_idx"))
        .otherwise(raise_error(format_string(
          "curateToSequences: chunk uid overflow (doc %d, chunk %d)",
          col("id"), col("chunk_idx")))).as("uid"),
      col("token_cnt"))
    val (packed, releasePack) = Packing.packSequences(
      withUid, "uid", "token_cnt", capacity)
    val segs = Packing.packSegments(packed, capacity)
      .select(shiftright(col("id"), 20).as("doc_id"),
        col("id").bitwiseAND(lit((1L << 20) - 1)).as("chunk_idx"),
        col("seq_id"), col("seq_off"),
        col("doc_from").as("chunk_from"), col("n_tok"),
        floor(col("seq_id") / seqsPerBucket).cast("long").as("seq_bucket"))
    (segs, () => { releasePack(); Snapshot.release(stage) })
  }

  /** Curate + write partitioned by annotated language. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          cfg: Config = Config()): DataFrame = {
    val docs = graft.Engine.tables(spark, sfDir).documents
    val curated = curate(docs, cfg)
    graft.sources.Sinks.partitionedParquet(curated, outDir, Seq("predicted_lang"))
    spark.read.parquet(outDir)
  }

  /** Continuous-ingest curation: the same quality gate + exact dedup +
    * annotation over a STREAM of (doc_id, ingest_ts, text, lang) documents.
    *
    * Near-dup removal (a self-join) has no bounded-state streaming form — a
    * production pipeline runs it as a periodic batch compaction over the
    * curated output (exactly `curate` above); everything per-document runs
    * here, continuously, with state bounded by the dedup watermark. Content
    * dedup uses `dropDuplicatesWithinWatermark` on the text digest, so a
    * re-ingested document inside the lateness horizon is dropped. */
  def curateStream(docs: DataFrame, cfg: Config = Config(),
                   lateness: String = "1 hour"): DataFrame = {
    val stopwords = graft.Queries.Stopwords
    val scored = docs.withColumn("q", qualityMetrics(col("text"), stopwords))
      .filter(qualityGate(cfg))
      .withColumn("__digest",
        if (cfg.canonicalDedupKey) canonicalDigest(col("text"))
        else md5(col("text").cast("binary")))
    graft.streaming.Streams.dedupStream(scored, Seq("__digest"),
        tsCol = "ingest_ts", lateness = lateness)
      .select(col("doc_id"), col("ingest_ts"), col("text"), col("lang"),
        langId(col("text"), graft.Queries.LangProfiles).as("predicted_lang"),
        col("q.n_tokens").as("n_tokens"))
  }
}
