package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level quality / boilerplate operators for training-data curation —
  * the signals and transforms large public pipelines apply between raw crawl
  * and training shards (repetition gating as in the Gopher quality rules,
  * corpus-frequency boilerplate removal as in C4's duplicate-line rule).
  *
  * Both are pure DataFrame compositions whose shuffles are on (doc, gram) /
  * (unit) keys with map-side partial aggregation — the shapes that survive a
  * 100 TB corpus: nothing here ever materializes per-document state on the
  * driver or compares documents pairwise.
  */
object CorpusQuality {

  /** Per-document repetition signals over word n-grams, one output row per
    * (document, n): total n-gram instances, the most-frequent gram's share
    * (`top_frac`), and the share of instances whose gram occurs ≥2 times in
    * the document (`dup_frac`). High `top_frac`/`dup_frac` at small n flags
    * degenerate/looping text — the repetition tier of quality filtering.
    *
    * Shape at scale: ONE scan and one tokenize per document (all n-gram
    * sizes are built in a single projection and exploded together — a
    * union-of-explodes form was measured planning one scan + one regex
    * tokenize per n), a single (id, n, gram) count with map-side combine,
    * then a per-(id, n) rollup. Documents with fewer than n tokens emit no
    * row for that n.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        ns: Seq[Int] = Seq(1, 2, 3)): DataFrame =
    // Tokenize ONCE into a named column: shinglesOfTokens documents why a
    // computed expression must not be passed into its transform lambda.
    repetitionSignalsOfTokens(
      df.select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks")),
      "id", "__toks", ns)

  /** [[repetitionSignals]] over an already-tokenized corpus — the composed-
    * pipeline form (see Packing.chunkTokens): consumes a materialized token
    * attribute instead of re-deriving split(). */
  def repetitionSignalsOfTokens(df: DataFrame, idCol: String, toksCol: String,
                                ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    val toks = df.select(col(idCol).as("id"), col(toksCol).as("toks"))
    val gramArrays = ns.map { n =>
      transform(TextFunctions.shinglesOfTokens(col("toks"), n),
        g => struct(lit(n).as("n"), g.as("g")))
    }
    val grams = toks
      .select(col("id"), explode(flatten(array(gramArrays: _*))).as("x"))
      .select(col("id"), col("x.n").as("n"), col("x.g").as("g"))
    val counts = grams.groupBy("id", "n", "g").agg(count(lit(1)).as("c"))
    counts.groupBy("id", "n").agg(
      sum("c").as("n_grams"),
      max("c").as("top"),
      sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
      .select(col("id"), col("n"),
        col("n_grams").cast("long").as("n_grams"),
        round(col("top").cast("double") / col("n_grams"), 6).as("top_frac"),
        round(col("dup").cast("double") / col("n_grams"), 6).as("dup_frac"))
  }

  /** Remove units (lines, sentences, shingles — whatever `unitsExpr` splits a
    * document into) that occur in more than `maxDocFreq` DISTINCT documents —
    * the corpus-frequency boilerplate rule (C4 drops lines repeated across
    * the crawl; headers/footers/cookie banners die here). Returns the input
    * frame plus `kept_units`: the surviving units in original order.
    *
    * Shape at scale: posexplode → distinct (doc, unit) → unit document-
    * frequency count (map-side combined) → anti-join against the
    * over-frequent set → per-doc ordered reassembly. Two shuffles on unit
    * keys, one on doc ids; no driver-side state of any size.
    */
  def removeFrequentUnits(df: DataFrame, idCol: String, unitsExpr: Column,
                          maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1)
    val u = df.withColumn("__units", unitsExpr)
    val exploded = u.select(col(idCol).as("__id"),
      posexplode(col("__units")).as(Seq("__pos", "__u")))
    val overFreq = exploded.select(col("__id"), col("__u")).distinct()
      .groupBy("__u").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("__u")
    val kept = exploded.join(overFreq, Seq("__u"), "left_anti")
    val rebuilt = kept.groupBy("__id").agg(
      transform(array_sort(collect_list(struct(col("__pos"), col("__u")))),
        s => s.getField("__u")).as("kept_units"))
    u.join(rebuilt, u.col(idCol) === rebuilt.col("__id"), "left")
      .drop("__id", "__units")
      .withColumn("kept_units",
        coalesce(col("kept_units"), array().cast("array<string>")))
  }

  /** Deterministic train/val/test split assignment by content-independent
    * hash: each row lands in the split whose cumulative weight interval
    * contains `md5-bucket(key) / 2^32`. Idempotent and re-runnable — the
    * same key ALWAYS lands in the same split, across runs, machines and
    * engine versions (md5 is stable; nothing depends on partitioning or row
    * order), which is what makes held-out sets trustworthy at 100 TB where
    * "sample again" is not an option. Adds a `split` column. */
  def hashSplit(df: DataFrame, key: Column,
                weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0))
    val total = weights.map(_._2).sum
    val buckets = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
    // u in [0, 1): 32-bit md5 word over 2^32
    val u = TextFunctions.md5Hash32(key).cast("double") / lit(4294967296.0)
    // Nest the whens so the OUTERMOST tests the highest interval start:
    // forward foldLeft makes the last-processed (= last split) outermost.
    val expr = weights.map(_._1).zip(buckets.dropRight(1))
      .foldLeft(lit(weights.head._1): Column) {
        case (acc, (name, lo)) => when(u >= lo, lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Deterministic stratified sampling: keep a row of stratum s iff
    * `md5-bucket(key) < fractions(s) * 2^32` — the mixture-resampling step
    * that turns a curated pool into a target training mix (e.g. upweight
    * low-resource languages by keeping 100% of them, 10% of the rest).
    * Unlike `sample()`, membership is a pure function of the key: re-runs,
    * retries and incremental appends select consistently. Strata absent
    * from `fractions` use `defaultFraction`. */
  def stratifiedHashSample(df: DataFrame, stratum: Column, key: Column,
                           fractions: Map[String, Double],
                           defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1))
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (s, f)) => when(stratum === s, lit(f)).otherwise(acc)
    }
    df.filter(TextFunctions.md5Hash32(key).cast("double") < frac * lit(4294967296.0))
  }

  /** Temperature-scaled mixture resampling — the data-mixing step that
    * rebalances a multi-source pool into a training mix by sampling stratum
    * s with weight ∝ count(s)^α at α = 1/2 (the standard "temperature"
    * upweighting of low-resource strata), targeting `targetTotal` rows.
    *
    * Everything before the final per-row threshold is INTEGER arithmetic:
    * the weight is an exact integer sqrt (floor(sqrt(c)) with a one-step
    * correction where the correctly-rounded double sqrt lands above the
    * true root), the denominator is an integer sum (no float reduction
    * order), and the per-stratum take n_s = min(c_s, floor(T·w_s/Σw)) does
    * one replayable division. Membership is then the q55 rule — a pure
    * md5 function of the key against n_s/c_s — so re-runs, retries, and
    * incremental appends select consistently at any scale.
    *
    * Returns the sampled rows with (__stratum, c, w, n_target) attached
    * (per-stratum broadcast values; callers project what they need). */
  /** Deterministic TOKEN-budget draw: keep every document whose span
    * [pos, pos + cnt) in the md5-ordered token stream lies inside
    * `budget` — "give me ~N tokens of this corpus, reproducibly"
    * (training-run sizing, ablation draws), where row-level sampling can
    * only target a document COUNT. (Not a strict prefix: a document too
    * big for the remaining budget is skipped while smaller later ones may
    * still fit — positions are the exclusive prefix sum over the full
    * stream, so the kept set is still a pure function of the corpus.)
    * The draw order is md5(draw-`salt`:id) — replayable, a different salt
    * redraws, and appends don't reshuffle earlier keys — the rank is
    * [[Sorts.globalOrderIndex]] (range partitions, no single-partition
    * window) and each doc's running-total position comes from
    * [[Packing.packSequences]]' hierarchical prefix sum, so no stage ever
    * windows more than a bounded bucket. A document is kept iff its whole
    * span fits: pos + cnt <= budget (documents are atomic — the draw
    * never truncates one). Token-less documents are never kept (they
    * carry no budget weight; filter separately if they matter).
    * Eager: the rank's and the prefix sum's snapshots are taken while the
    * frame is built (two jobs). Returns the kept rows with input columns
    * intact, plus the thunk releasing both snapshots (call it after the
    * last action on the frame, which then fails loudly if read again). */
  def tokenBudgetSample(df: DataFrame, idCol: String, cntCol: String,
                        budget: Long, salt: String = ""): (DataFrame, () => Unit) = {
    require(budget >= 0, "budget must be non-negative")
    val keyed = df.withColumn("__draw_key",
      md5(concat(lit(s"draw-$salt:"), col(idCol).cast("string")).cast("binary")))
    val (ranked, releaseRank) = graft.operators.Sorts.globalOrderIndex(
      keyed, Seq(col("__draw_key"), col(idCol)), "__draw_rank")
    val (packedAll, releasePack) = Packing.packSequences(ranked,
      "__draw_rank", cntCol, capacity = math.max(budget, 1L))
    val packed = packedAll.select(col("id").as("__draw_rank"),
      col("seq_id"), col("seq_offset"), col("n_tokens").as("__cnt"))
    val out = ranked.join(packed, Seq("__draw_rank"))
      .filter(col("seq_id") === 0L && col("seq_offset") + col("__cnt") <= budget)
      .drop("__draw_rank", "__draw_key", "seq_id", "seq_offset", "__cnt")
    (out, () => { releaseRank(); releasePack() })
  }

  def temperatureMixture(df: DataFrame, stratum: Column, key: Column,
                         targetTotal: Long): DataFrame = {
    require(targetTotal >= 0)
    def isqrt(c: Column): Column = {
      val s = floor(sqrt(c.cast("double"))).cast("long")
      when(s * s > c, s - lit(1L)).otherwise(s)
    }
    val strata = df.groupBy(stratum.as("__stratum")).agg(count(lit(1)).as("c"))
      .withColumn("w", isqrt(col("c")))
    val denom = strata.agg(sum(col("w")).as("denom"))
    val plan = strata.crossJoin(broadcast(denom))
      .select(col("__stratum"), col("c"), col("w"),
        least(col("c"),
          floor((lit(targetTotal) * col("w")).cast("double") / col("denom"))
            .cast("long")).as("n_target"))
    df.withColumn("__stratum", stratum)
      .join(broadcast(plan), Seq("__stratum"))
      .filter(TextFunctions.md5Hash32(key).cast("double") <
        (col("n_target").cast("double") * lit(4294967296.0)) / col("c"))
  }

  /** Per-document document-frequency profile of its units: how many of a
    * document's units are corpus-common vs rare. The measurement companion
    * to `removeFrequentUnits` (same explode/count plan, aggregated instead
    * of filtered): n_units, n_kept (units with df ≤ maxDocFreq), kept_frac. */
  def unitRetentionStats(df: DataFrame, idCol: String, unitsExpr: Column,
                         maxDocFreq: Long): DataFrame = {
    val exploded = df.select(col(idCol).as("id"), explode(unitsExpr).as("u"))
    val freq = exploded.select(col("id"), col("u")).distinct()
      .groupBy("u").agg(count(lit(1)).as("df"))
    exploded.join(freq, Seq("u"))
      .groupBy("id").agg(
        count(lit(1)).cast("long").as("n_units"),
        sum(when(col("df") <= maxDocFreq, 1L).otherwise(0L)).cast("long").as("n_kept"))
      .select(col("id"), col("n_units"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_units"), 6).as("kept_frac"))
  }

  /** Rarity-weighted top terms per document — the tf-idf family's term-
    * importance signal (keyword extraction, topic tagging, index weighting).
    * score(term, doc) = tf x (N / df), the raw-idf variant: one IEEE
    * multiply and one divide, so rankings replay bit-identically in any
    * engine — classical log-idf differs in the last ulp between libm
    * implementations, which would make cross-engine verification of the
    * top-k cut impossible. (log is monotone in N/df, so for fixed tf the
    * term ordering is the same; only the mixing of tf against idf shifts.)
    * Ties break by term. Output: (id, rank, term, tf, score).
    *
    * Shape at scale: one (id, term) count with map-side combine, a term-df
    * aggregation of THAT result (tiny — one row per distinct (doc, term)),
    * join back on term, per-doc top-k window. N (the distinct-document
    * count) is a broadcast single-row aggregate INSIDE the plan — the
    * operator is lazy like every other one here (no Spark job at call time)
    * and the id column is scanned once, not twice. */
  def topTermsByRarity(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.agg(countDistinct(col(idCol)).cast("double").as("__n_docs"))
    val tf = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"), col("tf"),
        // same two IEEE ops as before (tf * (N / df)) — the oracle replays
        // the rank cut bit-identically; only N's provenance changed
        (col("tf").cast("double") * (col("__n_docs") / col("df").cast("double")))
          .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("score"))
  }

  /** Benchmark decontamination: per corpus document, the fraction of its
    * DISTINCT word n-gram shingles that also occur in a benchmark/eval
    * corpus — the leakage filter training pipelines run before a corpus may
    * ship (a doc overlapping an eval set inflates downstream scores). Output:
    * (id, n_shingles, n_overlap, overlap_frac, contaminated = frac >=
    * threshold as 0/1). Documents with fewer than n tokens have no shingles
    * and emit no row.
    *
    * Shape at scale: the benchmark side is distinct-ed and broadcast (eval
    * suites are MBs against a 100 TB corpus; swap the broadcast for a
    * Bloom-filter prefilter via `Dedup.novelAgainst`'s machinery if a
    * benchmark ever outgrows it), so the corpus is ONE scan + map-side
    * hash-join + one (id) aggregation — no shuffle of corpus shingles. */
  def decontamination(corpus: DataFrame, idCol: String, textCol: String,
                      benchmark: DataFrame, btextCol: String,
                      n: Int = 2, threshold: Double = 0.5): DataFrame = {
    val bsh = benchmark
      .select(TextFunctions.tokens(col(btextCol)).as("toks"))
      .select(explode(TextFunctions.shinglesOfTokens(col("toks"), n)).as("sh"))
      .distinct()
      .withColumn("hit", lit(1))
    val csh = corpus
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        explode(array_distinct(TextFunctions.shinglesOfTokens(col("toks"), n))).as("sh"))
    csh.join(broadcast(bsh), Seq("sh"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .select(col("id"), col("n_shingles"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_shingles"), 6).as("overlap_frac"),
        (col("n_overlap").cast("double") / col("n_shingles") >= threshold)
          .cast("long").as("contaminated"))
  }

  /** Chunk-level contamination map: which CONTEXT WINDOWS (the
    * `Packing.chunk` geometry — size/stride sliding token windows) of each
    * corpus document contain a benchmark shingle. Training-granularity
    * decontamination: the doc-level overlap fraction ([[decontamination]])
    * can pass a long document whose one contaminated span still lands
    * VERBATIM in a training window — here the contaminated chunks are
    * identified exactly, by arithmetic on the shingle's token position; no
    * chunk text is ever materialized.
    *
    * A shingle starting at 0-based token position p spans [p, p+n); chunk c
    * covers tokens [c·stride, c·stride+size); they overlap iff
    * max(0, floor((p−size)/stride)+1) ≤ c ≤ min(k, floor((p+n−1)/stride))
    * with k the document's last chunk index — `stride ≤ size` guarantees
    * the range is non-empty for every in-document shingle.
    *
    * Shape at scale: benchmark shingles distinct + broadcast (as in
    * [[decontamination]]); the corpus side is one scan, a map-side hash
    * join on the shingle, and a bounded explode of the ≤ (n+size)/stride
    * chunk indices each hit overlaps — no shuffle of corpus shingles.
    * Output: DISTINCT (id, chunk_idx) contaminated pairs. */
  def contaminatedChunks(corpus: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, btextCol: String,
                         n: Int, size: Int, stride: Int): DataFrame =
    contaminatedChunksOfTokens(
      corpus.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks")),
      "id", "__toks", benchmark, btextCol, n, size, stride)

  /** [[contaminatedChunks]] over an already-tokenized corpus (the composed-
    * pipeline form — shingles come from the materialized token attribute,
    * no second tokenize). */
  def contaminatedChunksOfTokens(corpus: DataFrame, idCol: String, toksCol: String,
                                 benchmark: DataFrame, btextCol: String,
                                 n: Int, size: Int, stride: Int): DataFrame = {
    require(n >= 1 && size >= 1 && stride >= 1 && stride <= size,
      s"need n >= 1 and 1 <= stride <= size, got n=$n size=$size stride=$stride")
    val bsh = benchmark
      .select(TextFunctions.tokens(col(btextCol)).as("toks"))
      .select(explode(TextFunctions.shinglesOfTokens(col("toks"), n)).as("sh"))
      .distinct()
    val toks = corpus
      .select(col(idCol).as("id"), col(toksCol).as("toks"))
      .withColumn("nt", size_(col("toks")))
      .filter(col("nt") > 0)
    val k = greatest(lit(0L),
      ceil((col("nt") - size).cast("double") / lit(stride.toDouble)))
    // posexplode: shingle array index IS the 0-based starting token position
    val hits = toks
      .select(col("id"), k.as("k"),
        posexplode(TextFunctions.shinglesOfTokens(col("toks"), n)).as(Seq("p", "sh")))
      .join(broadcast(bsh), Seq("sh"))
    hits
      .select(col("id"), explode(sequence(
        greatest(lit(0L),
          floor((col("p") - size).cast("double") / lit(stride.toDouble)).cast("long") + 1L),
        least(col("k"),
          floor((col("p") + (n - 1)).cast("double") / lit(stride.toDouble)).cast("long"))))
        .as("chunk_idx"))
      .distinct()
  }

  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c).cast("long")

  /** N-gram LM familiarity scoring — the cheap LM-quality-filter shape
    * (score documents by how typical their n-grams are of a corpus, the
    * role CCNet fills with a KenLM perplexity gate): a document's score is
    * the mean magnitude of its n-grams' corpus frequencies.
    *
    * Magnitude is floor(log2(count)), computed EXACTLY as
    * `length(bin(count)) - 1` — an integer bit-length, not a float log — so
    * the whole score is integer arithmetic until one final division +
    * round(6) and an oracle replays it bit-identically (the same trade the
    * raw-idf scorers make: log is monotone, rankings are preserved).
    *
    * Shape at scale: the n-gram frequency table is built by ONE map-side-
    * combined count; scoring joins grams back on the gram key — the
    * inverted-index join shape (never pairwise), with the frequency side
    * aggregated before it shuffles. The gram stream is derived twice (once
    * per side of the join) — deliberate, the same trade q52's boilerplate
    * pass documents: the stream is O(corpus tokens), far too large to
    * persist blindly, and re-deriving it costs one extra tokenize pass,
    * while the frequency side collapses to O(vocab) before shuffling.
    * Documents with fewer than n tokens score no row (no n-grams). */
  def lmFamiliarity(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 2): DataFrame = {
    require(n >= 1)
    val grams = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        explode(TextFunctions.shinglesOfTokens(col("toks"), n)).as("gram"))
    val mags = grams.groupBy("gram").agg(count(lit(1)).as("c"))
      .select(col("gram"), (length(bin(col("c"))) - 1).cast("long").as("mag"))
    grams.join(mags, Seq("gram"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum("mag").as("mag_sum"))
      .select(col("id"), col("n_grams"), col("mag_sum"),
        round(col("mag_sum").cast("double") / col("n_grams"), 6).as("familiarity"))
  }
}
