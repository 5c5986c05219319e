package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Four tiers, all shuffle-minimal and expression-only (no UDFs):
  *  - exact:   hash-groupBy on content digest — one shuffle on the digest.
  *  - minhash: shingle → 64-perm MinHash signature (one codegen'd pass) →
  *             LSH banding → bucket self-join for candidates. Only documents
  *             sharing a band bucket ever meet, so the join is linear-ish in
  *             candidates, not O(n²) — the property that survives 100 TB.
  *  - simhash: 64-bit sign-of-sums fingerprint; near-dups = small Hamming
  *             distance within identical high-bit prefix buckets.
  *  - exact n-gram Jaccard: shingle-explode + equi-join + group-count (for
  *             validation / small candidate sets; the oracle-checkable tier).
  */
object Dedup {

  /** Exact dedup on `keyCols` digest, keeping the row minimizing `tieBreak`.
    * Single shuffle (groupBy digest + min_by), no window needed — the digest
    * keeps the shuffle key at 32 hex chars even when the keys are whole
    * documents (grouping on the raw keys would shuffle the full text).
    *
    * The tuple digest is INJECTIVE (up to md5 collision): each key becomes a
    * fixed-width 32-char block — its md5, or a non-hex null marker (null
    * keys group together, matching groupBy null semantics) — and the blocks
    * are concatenated then digested once. The separator-join this replaces
    * (concat_ws over the raw keys) was not injective: concat_ws SKIPS nulls,
    * so ("x", null) and (null, "x") merged, and a separator byte INSIDE one
    * key shifts the block boundaries, so ("a\u0000b", "c") and
    * ("a", "b\u0000c") merged — the silent wrong-merge class exact dedup
    * exists to prevent. Non-binary keys group by their string cast;
    * BINARY keys digest their raw bytes — `cast(binary as string)` folds
    * invalid-UTF-8 bytes to replacement chars, so two distinct byte keys
    * could digest identically through the cast (the last conditional in
    * the injectivity claim, closed r15). The per-key datatype dispatch is
    * driver-side analysis only (one `df.select(k).schema` per key).
    *
    * Determinism contract: ties in `tieBreak` keep an ARBITRARY row of the
    * group (min_by semantics) — partition-order- and retry-dependent. Pass
    * a group-unique tiebreak (an id) when the surviving row's identity
    * must be reproducible across runs; every call site here does. */
  def exactDedup(df: DataFrame, keyCols: Seq[Column], tieBreak: Column): DataFrame = {
    val blocks = keyCols.map { k =>
      val bytes = df.select(k).schema.head.dataType match {
        case org.apache.spark.sql.types.BinaryType => k
        case _ => to_binary(k.cast("string"), lit("utf-8"))
      }
      coalesce(md5(bytes), lit("x" * 32))
    }
    val digest = md5(to_binary(concat(blocks: _*), lit("utf-8")))
    val packed = struct(df.columns.map(col): _*)
    df.groupBy(digest.as("__digest"))
      .agg(min_by(packed, tieBreak).as("__row"))
      .select(col("__row.*"))
  }

  /** Deterministic MinHash permutation parameters (LCG, fixed seed). */
  private val MinhashPrime = 4294967311L // smallest prime > 2^32
  private[graft] def permParams(numHashes: Int): (Seq[Long], Seq[Long]) = {
    var state = 88172645463325252L
    def next(): Long = { // xorshift64 — deterministic, public-domain algorithm
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17; state
    }
    val a = Seq.fill(numHashes)(math.abs(next()) % ((1L << 29) - 1) + 1)
    val b = Seq.fill(numHashes)(math.abs(next()) % (1L << 29))
    (a, b)
  }

  /** MinHash signatures over word `n`-gram shingles:
    * sig[i] = min over shingles of (a_i * h32(shingle) + b_i) mod p.
    *
    * Shape: explode shingle hashes once, then ONE hash aggregation with 64
    * `min` columns. Map-side partial aggregation reduces each task's stream
    * to 64 longs per doc before the shuffle — at 100 TB the shuffle carries
    * ~512 B/doc regardless of doc length. (A single nested-array expression
    * would recompute the shingle set per permutation after projection
    * collapse — measured pathological.)
    *
    * Docs with no shingles (shorter than `shingleN` words) are dropped.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3,
                        tokenHash: Column => Column = tokenHash32): DataFrame =
    // Tokenize ONCE into a named column before shingling: passing the token
    // expression straight into the shingle transform re-tokenizes the text
    // per shingle index (the q25 295 s pathology; see shinglesOfTokens).
    minhashSignaturesOfTokens(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks")),
      "id", "__toks", numHashes, shingleN, tokenHash)

  /** [[minhashSignatures]] over an ALREADY-TOKENIZED corpus — the composed-
    * pipeline entry point: a chain that has materialized `tokens(text)` once
    * (e.g. for its quality gate) sketches from that column instead of
    * re-deriving split() in a second plan branch. `toksCol` must be a plain
    * attribute, not a computed expression (see shinglesOfTokens). */
  def minhashSignaturesOfTokens(df: DataFrame, idCol: String, toksCol: String,
                                numHashes: Int = 64, shingleN: Int = 3,
                                tokenHash: Column => Column = tokenHash32): DataFrame = {
    val (as, bs) = permParams(numHashes)
    // spread: the shingle explode + 64-way min aggregation's map side is
    // the sketch's whole cost — per-row work far above its bytes (see
    // Parallelism.spread; no-op at real scale)
    val hs = Parallelism.spread(
        df.select(col(idCol).as("id"), col(toksCol).as("__toks")), "id")
      .select(col("id"),
        explode(array_distinct(shinglesOfTokens(col("__toks"), shingleN))).as("s"))
      .select(col("id"), tokenHash(col("s")).as("h"))
    val aggs = (0 until numHashes).map { i =>
      min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(MinhashPrime))).as(s"__m$i")
    }
    hs.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH band buckets for a signature: array of (band, bucket-hash). The
    * bucket id hashes the band's signature slice directly (xxhash64 on the
    * array — overflow-free under ANSI mode). */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    *
    * Returns (id_a, id_b, est_jaccard) for id_a < id_b where the pair shares
    * ≥1 band bucket and the signature-agreement estimate ≥ `threshold`.
    * Buckets larger than `maxBucket` are dropped (degenerate content — e.g.
    * empty docs — would otherwise produce a quadratic bucket; standard LSH
    * skew guard).
    *
    * Choose (bands, rows = numHashes/bands) so the banding s-curve's 50%%
    * recall point (1/bands)^(1/rows) sits at or below `threshold` — e.g.
    * 16x4 suits thresholds ≥ ~0.5, 32x2 reaches down to ~0.2. A threshold
    * far below the midpoint is accepted but logs a warning: such pairs
    * rarely ever become candidates.
    *
    * Eager: the signatures are checkpointed while the frame is built (one
    * job; see [[candidatePairsOfSignatures]]). This entry drops the release
    * thunk, so Spark's context cleaner frees the snapshot once the pairs
    * frame is garbage.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            threshold: Double = 0.5,
                            maxBucket: Int = 1000,
                            tokenHash: Column => Column = tokenHash32): DataFrame =
    candidatePairsOfSignatures(
      minhashSignatures(df, idCol, textCol, numHashes, tokenHash = tokenHash),
      numHashes, bands, threshold, maxBucket)._1

  /** [[minhashCandidatePairs]] over an already-tokenized corpus (see
    * [[minhashSignaturesOfTokens]]) — identical pairs, no second tokenize —
    * plus a thunk releasing the internal signature snapshot (~520 B/doc,
    * checkpointed because the pair plan references it four times). A
    * composed job that consumes the pairs EAGERLY — e.g. closes them into
    * components, whose output is checkpoint-backed — should release as soon
    * as that action completes; a caller that drops the thunk leaves the
    * snapshot to Spark's context cleaner ([[minhashCandidatePairs]]). */
  def minhashCandidatePairsOfTokensReleasable(
      df: DataFrame, idCol: String, toksCol: String,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 1000,
      tokenHash: Column => Column = tokenHash32): (DataFrame, () => Unit) =
    candidatePairsOfSignatures(
      minhashSignaturesOfTokens(df, idCol, toksCol, numHashes, tokenHash = tokenHash),
      numHashes, bands, threshold, maxBucket)

  /** [[minhashCandidatePairs]]' banding/bucketing/scoring stage over
    * PRE-COMPUTED signatures — (id, sig: array<bigint>) with `numHashes`
    * entries. Public for callers that bring their own sketch (and for the
    * synthetic-scale soak, which drives the bucket-cap skew guard with
    * adversarial signature sets no real tokenizer run could shape
    * precisely). Returns the pairs plus the signature-snapshot release
    * thunk ([[minhashCandidatePairsOfTokensReleasable]] semantics).
    *
    * The signatures are taken through [[truncate]], the checkpoint the CC
    * loop uses, not `persist`: a persisted frame is a CacheManager entry
    * keyed by its plan, and a file scan's plan compares by root path only,
    * so a later build over a rewritten input at the same path would read
    * the old signatures. A checkpoint belongs to this call alone. */
  def candidatePairsOfSignatures(sigs: DataFrame, numHashes: Int = 64,
                                 bands: Int = 16, threshold: Double = 0.5,
                                 maxBucket: Int = 1000): (DataFrame, () => Unit) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Parameter sanity: the (bands, rows) s-curve should put its steep section
    // near the declared threshold — 50% candidate recall at j ≈ (1/bands)^(1/r).
    // A threshold far below that point implies recall the banding cannot give.
    // Warn (don't throw): mismatched callers get the low-recall behavior they
    // asked for, with the fix spelled out in the log.
    val recall50 = math.pow(1.0 / bands, 1.0 / r)
    if (threshold < recall50 * 0.6)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"minhashCandidatePairs: threshold $threshold%.2f is far below the " +
          f"(bands=$bands, rows=$r) s-curve midpoint $recall50%.2f — pairs near " +
          f"the threshold will rarely become candidates; re-band (more bands, " +
          f"fewer rows) or raise the threshold")
    // The signature table is referenced four times in this plan (both sides
    // of the bucket join, both signature joins); checkpoint it so the
    // shingle explosion + 64-way min aggregation runs once. ~520 B/doc — at
    // 100 TB input this is n_docs * 0.5 KB.
    val snap = truncate(sigs)
    // Explode band buckets; kill skewed buckets before the self-join.
    val bucketed = snap
      .select(col("id"), col("sig"), explode(lshBuckets(col("sig"), bands, r)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val bucketSizes = bucketed.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") between (2, maxBucket))
    val ok = bucketed.join(bucketSizes, Seq("band", "bucket"), "left_semi")
    // Distinct id-pairs FIRST (ids only — a pair found in many bands must not
    // be scored per band), then join the 64-long signatures back once per side.
    val a = ok.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = ok.select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // Statically-unrolled agreement count (codegen'd; a zip_with/aggregate
    // lambda runs interpreted and measured ~10x slower at bench scale).
    val agree = (0 until numHashes).map { i =>
      when(element_at(col("sig_a"), i + 1) === element_at(col("sig_b"), i + 1), 1)
        .otherwise(0)
    }.reduce(_ + _)
    val out = pairs
      .join(snap.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(snap.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    (out, () => release(snap))
  }

  /** Hash-word providers for `simhash`: token → fixed-width hash words whose
    * concatenated low bits form the 64-bit space. The default is one 64-bit
    * xxhash64 word (fast path); `Md5Words` is two 32-bit words from the md5
    * digest — reproducible by an ANSI SQL oracle (no 64-bit hex parse, which
    * would overflow a signed BIGINT). */
  val XxWords: (Column => Seq[Column], Int) = (w => Seq(xxhash64(w)), 64)
  val Md5Words: (Column => Seq[Column], Int) = (w => Seq(md5Hash32(w), md5Hash32b(w)), 32)

  /** 64-bit SimHash per row: sign of per-bit weighted sums over token hashes.
    * Tokens are pre-aggregated to (id, token) → count so the 64-column sum
    * runs over DISTINCT words weighted by count (roughly halves the agg input
    * on natural text); then ONE hash aggregation with 64 statically-unrolled
    * sum(±count) columns — whole-stage-codegen'd, map-side combined, no
    * row×64 expansion (an exploded (id, bit) form measured 10x slower). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              hashWords: (Column => Seq[Column], Int) = XxWords): DataFrame = {
    val (words, wordBits) = hashWords
    // spread: tokenize + explode + hash per token (see Parallelism.spread)
    val wc = Parallelism.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), "id")
      .select(col("id"), explode(tokens(col("__t"))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("cnt"))
    val hcols = words(col("w")).zipWithIndex.map { case (c, i) => c.as(s"__h$i") }
    val hashed = wc.select(col("id") +: col("cnt") +: hcols: _*)
    def bit(b: Int): Column =
      shiftright(col(s"__h${b / wordBits}"), b % wordBits).bitwiseAND(lit(1L))
    val sums = (0 until 64).map { b =>
      sum(when(bit(b) === lit(1L), col("cnt")).otherwise(-col("cnt"))).as(s"__b$b")
    }
    hashed.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 64).map { b =>
          when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-duplicate pairs: by pigeonhole, any pair within Hamming
    * distance `maxHamming` (< bands) of each other shares at least one exact
    * 16-bit band — so candidates come from an equi-join on (band, band-bits),
    * then the exact distance is one codegen'd `bit_count(xor)`. Linear in
    * candidates, never O(n²).
    *
    * Eager: building the frame runs one job, the fingerprint checkpoint.
    * Both sides of the band join read the fingerprints, so they go through
    * [[truncate]] like the MinHash signatures
    * ([[candidatePairsOfSignatures]]), not through `persist`: a CacheManager
    * entry keyed by a file scan's plan would hand a later call over a
    * rewritten input at the same path the old fingerprints. The
    * checkpoint's blocks go with the returned frame (Spark's context
    * cleaner), as [[minhashCandidatePairs]]' signatures do. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          hashWords: (Column => Seq[Column], Int) = XxWords): DataFrame = {
    require(maxHamming < 4, "4 bands of 16 bits guarantee recall only for maxHamming < 4")
    val sim = truncate(simhash(df, idCol, textCol, hashWords))
    val banded = sim.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("bits"))
      }: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val a = banded.select(col("band"), col("bits"), col("id").as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("bits"), col("id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact word-`n`-gram Jaccard similarity for all pairs with ≥1 shared
    * shingle and jaccard ≥ threshold. Shingle-explode + equi-join: each pair
    * is formed only via shared shingles (inverted-index join), never a cross
    * join. Intended for modest candidate sets or as the exactness oracle.
    *
    * `maxDocFreq` drops shingles appearing in more than that many documents
    * from the inverted index BEFORE the self-join: one ubiquitous shingle
    * (boilerplate, a stop-phrase) would otherwise fan out df² pairs — the
    * quadratic blowup at 100 TB. Set sizes are computed from the UNCAPPED
    * shingle sets, so when the cap binds the reported jaccard is a lower
    * bound (capped shingles lose only their pair-discovery role). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDocFreq: Long = 10000): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(array_distinct(shinglesOfTokens(col("__toks"), n))).as("sh"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
    val idx = sh.join(rare, Seq("sh"), "left_semi")
    val inter = idx.select(col("id").as("id_a"), col("sh"))
      .join(idx.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected edge list — the clustering
    * step that turns near-duplicate PAIRS (minhash/simhash/jaccard tiers
    * above) into dedup GROUPS, so a pipeline can keep ONE canonical doc per
    * group instead of dropping one side of every pair (pair-wise dropping
    * over-deletes on transitive chains a–b, b–c).
    *
    * Algorithm: the edge list is symmetrized once and checkpointed; its
    * row count then picks one of two paths (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014: iterate only while
    * the graph is too big for one machine).
    *
    * LOCAL path — snapshot rows ≤ `localBound` (default
    * [[localComponentsBound]], derived from the driver heap): the rows are
    * collected into primitive long arrays and closed by union-find on the
    * driver, uniting toward the smaller root, so every root is its
    * component's min id. Exact by construction, zero rounds, and two small
    * jobs (count, collect) over the snapshot's blocks instead of ~6 AQE
    * materialization jobs per round — the per-round cost of the
    * distributed path is scheduling latency, not compute, so every
    * batch-proportional graph (q74, the rebuilds) takes this path; the
    * scoped service folds close theirs on the driver before any
    * checkpoint ([[incrementalComponentAssignmentsScopedParts]]).
    *
    * DISTRIBUTED path — larger snapshots, or `localBound = 0`: min-label
    * propagation with pointer jumping. The edge table is seeded with one
    * self-edge per node, so each round
    *   (a) relaxes each label to the min over the node's CLOSED
    *       neighborhood in a single edge–label join + min-agg (the
    *       self-edge contributes the node's own label — no separate
    *       label-merge join), then
    *   (b) pointer-jumps: replaces each label by its label's label (one
    *       self-join on the relaxed table; Spark's exchange reuse computes
    *       the relax aggregation once even though it appears on both
    *       sides).
    * Jumping roughly doubles the graph distance a label has travelled, so
    * rounds are O(log diameter) on ANY graph — bare propagation is
    * O(diameter), which on a 10⁶-doc duplicate chain would mean 10⁶
    * sequential rounds. Each round costs three shuffles (edge–label join,
    * min-agg, jump self-join). Per-round state is one (node, label) row
    * per node and only labels travel between rounds, so a 10⁸-member
    * component costs the same shuffle volume as 10⁸ singletons — nothing
    * component-shaped is ever materialized in one place. Each round's
    * labels are checkpointed (see [[truncate]]: RELIABLE checkpoint when
    * the session configures a checkpoint dir — the cluster-deployment
    * fault-tolerance path — executor-local otherwise) — MANDATORY, not an
    * optimization: the
    * jump references the relaxed table twice, so without truncation the
    * logical plan doubles every round and plan traversal goes exponential
    * (measured: an 8-round run OOMs the driver building an explain
    * string). Live storage stays O(nodes + edges): once a round's
    * checkpoint is materialized by the convergence action, the previous
    * round's backing RDD is unpersisted explicitly — never more than two
    * label snapshots plus the edge cache. (localCheckpoint trades
    * executor-loss recovery for speed; at ≤ ~40 rounds for any physical
    * diameter, a lost executor costs one query retry — prefer a reliable
    * `checkpoint` dir if that matters.)
    *
    * Convergence is detected by an exact monotone argument rather than a
    * change-join: labels never increase (relax takes a min; a jump assigns
    * lbl(u) ≤ u = lbl(v) ≤ old lbl(v)), so the label SUM (widened to
    * decimal(38,0) — overflow-free at any node count) strictly decreases
    * until fixpoint, and an unchanged sum IS the fixpoint. That scalar is
    * the only value the driver reads per round.
    *
    * Returns (node, component) where component = min node id of the
    * component — deterministic, no tie-breaking, identical on both paths.
    * The result is already materialized either way (callers typically
    * consume it more than once — size it as one long pair per node): a
    * driver-side local relation on the local path, the last round's
    * checkpoint on the distributed one. Self-loops in the input are discarded: a
    * node appearing ONLY in self-loops is absent from the output (it is
    * in no 2+-node component). Id columns must be integral — a lossy cast
    * (string ids hashing to null) would silently drop edges, so it is
    * rejected loudly.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 64): DataFrame =
    connectedComponentsWithRounds(edges, srcCol, dstCol, maxIter)._1

  /** Default `localBound` of [[connectedComponentsWithRounds]]: the largest
    * symmetrized edge snapshot (in rows) finished by union-find on the
    * driver. Derived from the driver's max heap, never a host-tuned
    * constant. Per snapshot row the local path holds at most
    *   - 16 B: the collected (s, d) longs in a primitive array,
    *   - 16 B: the row's serialized task result, until the collect returns,
    *   -  8 B: its entry in the sorted node-id array,
    *   -  4 B: its union-find parent slot,
    *   - ~80 B: its result row in the local relation (a row object, its
    *     two-slot value array, two boxed longs),
    * ≈ 128 B, counting one node per row (every node of the snapshot is the
    * source of at least one row, so nodes ≤ rows). The path may take 1/8
    * of the heap: Spark's unified memory claims 60% of what lies beyond
    * 300 MB, and the rest (user memory) also carries the optimizer's and
    * the scan's transient copies of the result rows. Hence
    * bound = maxMemory / 8 / 128 B = maxMemory / 1024, i.e. 2^20 rows per
    * GiB of driver heap, capped so every array index fits an Int. */
  def localComponentsBound: Long =
    math.min(Runtime.getRuntime.maxMemory / 1024, Int.MaxValue / 2)

  /** Eager, plan-truncating checkpoint for the CC loop's reused frames.
    * When the session has a RELIABLE checkpoint directory configured
    * (`SparkContext.setCheckpointDir`), use it: checkpoint files live on
    * the DFS and survive executor loss, so a cluster deployment keeps
    * fault tolerance through the loop (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` if the app
    * outlives many builds). Otherwise `localCheckpoint`: faster (executor-
    * local blocks, no DFS round-trip) but NON-REPLAYABLE — losing an
    * executor mid-loop fails the query and a retry recomputes from source.
    * That is the right default for the ≲40-round loops here on local or
    * retry-tolerant jobs; a cluster job that cannot afford a query retry
    * opts into durability by setting a checkpoint dir — no API change. */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Deterministic release of a [[truncate]]d frame's persisted blocks:
    * the checkpointed Dataset is backed by a LogicalRDD leaf whose RDD
    * holds the storage. (Dataset.unpersist goes through the CacheManager
    * and does not know about checkpoint RDDs; without this, snapshots
    * linger until driver GC happens to collect the Dataset.) */
  private def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ => ()
  }

  /** [[connectedComponents]] plus the number of label-propagation rounds the
    * build ran (including the final confirming round whose label sum was
    * unchanged; 0 on the local path) — the observable the O(log diameter)
    * claim is measured by: the soak bench pins rounds ≈ log₂(diameter) on a
    * synthetic chain, turning the complexity argument into a number. Such
    * a measurement passes `localBound = 0`, which disables the local path;
    * every other caller keeps the heap-derived default
    * ([[localComponentsBound]]).
    *
    * `seed`, when given, WARM-STARTS the label propagation: a (node, lbl)
    * frame whose labels replace the self-label start for the nodes it
    * covers (uncovered nodes still start at themselves). Contract — for
    * EXACTNESS, not just speed — each seeded `lbl` must be (a) ≤ its
    * `node` and (b) the id of a node REACHABLE from `node` in the edge
    * graph. Both invariants are what the convergence proof rests on
    * (labels never increase, labels always name reachable nodes, so the
    * fixpoint label is the component min); self-labels satisfy them
    * trivially, and a prior component assignment whose clusters are
    * star-edged into the graph satisfies them by construction (the star
    * edge member→label makes the label reachable, min-labels are ≤ member
    * ids). A seed violating the contract silently mislabels — hence the
    * spec-gated warm==cold equality in DedupSimilaritySpec rather than a
    * (corpus-sized) runtime check. Seeding near the fixpoint cuts rounds
    * from O(log diameter) to the few needed to merge NEW structure —
    * measured 6–10 → ~3 on the incremental maintenance folds. The local
    * path ignores the seed: under the contract the fixpoint is the
    * component min anyway, which union-find computes directly. */
  def connectedComponentsWithRounds(edges: DataFrame, srcCol: String,
                                    dstCol: String,
                                    maxIter: Int = 64,
                                    seed: Option[DataFrame] = None,
                                    localBound: Long = localComponentsBound): (DataFrame, Int) = {
    Seq(srcCol, dstCol).foreach { c =>
      val dt = edges.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"connectedComponents: id column '$c' must be integral, got $dt " +
          "(casting would null out unparseable ids and silently drop edges)")
    }
    val sym = edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    // CHECKPOINT (not persist) the symmetrized edges: they feed `und` twice
    // (directly and via the self-edge node list), and without materializing
    // each copy re-runs the whole upstream edge computation — for q74 that
    // is an extra full minhash sketch pass (measured +50%). A checkpoint
    // beats the previous persist two ways: the materialization runs under
    // AQE, so the stored partition count follows data size (the persisted
    // form pinned the edge plan's raw map-side layout — 2x32 near-empty
    // cached partitions at sf0.1, paid as 64-task map stages by every
    // later read), and `und`'s distinct then plans over a LogicalRDD leaf
    // instead of the full pair-generator plan.
    // Symmetrize with ONE scan (explode of both orientations), not
    // `sym.union(sym.swapped)`: the union's branches shared the edge
    // plan's shuffles via exchange reuse but each re-ran its post-exchange
    // segment — for the LSH generators that is the exact cosine gate,
    // paid twice per build (guide §2.3: don't compute what you throw
    // away). Same row multiset, checkpointed identically.
    val real = truncate(
      sym.filter(col("s") =!= col("d"))
        .select(explode(array(
          struct(col("s"), col("d")),
          struct(col("d").as("s"), col("s").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d")))
    if (localBound > 0) {
      // counted over the checkpoint's blocks, not the upstream plan
      val snapshot = real.queryExecution.toRdd
      if (snapshot.count() <= localBound) {
        val local = localComponents(real.sparkSession, snapshot)
        release(real)
        return (local, 0)
      }
    }
    val nodes = real.select(col("s")).distinct()
    // Symmetrized + self-edge-seeded + deduped once; reused every round.
    // truncate, i.e. a checkpoint (not persist): a persisted frame still CARRIES the
    // upstream logical plan inside its InMemoryRelation, and every one of
    // the O(log) per-round actions re-runs analysis + optimization over
    // it — for an edge plan holding a large expression tree (the pruned
    // LSH candidate generator: 64 hyperplane literal arrays) that driver
    // cost dwarfed the actual stages (measured 10x on q104's per-batch
    // folds). The checkpoint truncates the plan to a LogicalRDD leaf, so
    // every round plans over a two-column table no matter what produced
    // the edges.
    val und = truncate(
      real.union(nodes.select(col("s"), col("s").as("d"))).distinct())
    val selfStart = und.filter(col("s") === col("d"))
      .select(col("s").as("node"), col("s").as("lbl"))
    var labels = truncate(seed match {
      case None => selfStart
      case Some(sd) =>
        // warm start: prior labels where provided, self elsewhere — the
        // seed is restricted to the graph's own node set so stray rows
        // cannot inject labels for absent nodes
        val s0 = sd.select(col("node").cast("long").as("node"),
          col("lbl").cast("long").as("pl"))
        selfStart.join(s0, Seq("node"), "left")
          .select(col("node"), coalesce(col("pl"), col("lbl")).as("lbl"))
    })
    release(real) // und and labels are materialized; the edge snapshot is done
    var prevSum: Option[java.math.BigDecimal] = None
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val relaxed = und
        .join(labels.select(col("node").as("d"), col("lbl").as("nl")), Seq("d"))
        .groupBy("s").agg(min(col("nl")).as("lbl"))
        .select(col("s").as("node"), col("lbl"))
      // Jump: labels are always node ids present in the table (mins of node
      // ids), so the lookup is total; left+coalesce guards the invariant.
      // The eager localCheckpoint both materializes the round and truncates
      // the otherwise per-round-doubling plan (relaxed appears twice).
      val jumped = truncate(relaxed.join(
          relaxed.select(col("node").as("lbl"), col("lbl").as("ll")), Seq("lbl"), "left")
        .select(col("node"), coalesce(col("ll"), col("lbl")).as("lbl")))
      val sum = jumped.agg(
          org.apache.spark.sql.functions.sum(col("lbl").cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)
      release(labels) // jumped is materialized — release the old snapshot
      labels = jumped
      val s = Option(sum) // None ⇔ empty graph — converged trivially
      done = s == prevSum || s.isEmpty
      prevSum = s
      it += 1
    }
    release(und)
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    (labels.select(col("node"), col("lbl").as("component")), it)
  }

  /** The local path of [[connectedComponentsWithRounds]] over the
    * symmetrized (s, d) snapshot rows: one primitive long array per
    * partition is collected, the distinct node ids are indexed by sorting,
    * and union-find (path halving) always unites toward the smaller root.
    * Indices follow id order, so every root is its component's min id. */
  private def localComponents(spark: SparkSession,
                              snapshot: RDD[InternalRow]): DataFrame = {
    val parts = snapshot.mapPartitions { rows =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()
    // every node is the source of a row, so the sources are the node set
    val ids = new Array[Long](parts.map(_.length / 2).sum)
    var n = 0
    for (p <- parts; j <- p.indices by 2) { ids(n) = p(j); n += 1 }
    val nodes = sortedUnique(ids)
    val comp = componentMins(nodes, parts.toSeq)
    val out = new java.util.ArrayList[Row](nodes.length)
    for (i <- nodes.indices) out.add(Row(nodes(i), comp(i)))
    spark.createDataFrame(out, StructType(Seq(
      StructField("node", LongType), StructField("component", LongType))))
  }

  /** Full-coverage cluster assignment over a universe of ids: close `edges`
    * into components ([[connectedComponents]]) and give EVERY id in
    * `universe` a row — (id, cluster_id, cluster_size, is_canonical) — with
    * singletons filling their own id as the label. The cluster label is the
    * component's minimum member id, so `is_canonical` (id == cluster_id)
    * marks exactly one keeper per cluster: the SemDeDup-style
    * keep-one-per-cluster dedup decision, materialized as a column instead
    * of a filter so callers can also compute removal rates or pick a
    * different survivor policy downstream.
    *
    * Scale shape on top of the CC rounds: one left join of the universe
    * against the (strictly smaller) clustered-node set, one groupBy on
    * cluster_id for sizes, one join back — all hash-partitioned on id-like
    * keys, nothing driver-side, no windows.
    *
    * Precondition: edge endpoints should lie in `universe`. An edge to an
    * OUTSIDE id still propagates labels (it can even become a cluster's
    * min label) but gets no assignment row — sizes then count only the
    * universe members. Every caller here derives edges from the universe
    * itself, so this stays a documented contract rather than a
    * (corpus-sized, anti-join) runtime check. */
  def componentAssignments(universe: DataFrame, idCol: String,
                           edges: DataFrame, srcCol: String, dstCol: String,
                           maxIter: Int = 64,
                           seed: Option[DataFrame] = None,
                           localBound: Long = localComponentsBound): DataFrame = {
    val dt = universe.schema(idCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
      s"componentAssignments: id column '$idCol' must be integral, got $dt")
    val cc = connectedComponentsWithRounds(edges, srcCol, dstCol, maxIter, seed,
      localBound)._1
    val ids = universe.select(col(idCol).cast("long").as("id"))
    val assigned = ids
      .join(cc.select(col("node").as("id"), col("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"))
    val sz = assigned.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    assigned.join(sz, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).cast("int").as("is_canonical"))
  }

  /** Incremental (cross-batch) component closure: fold a NEW batch's edges
    * into an EXISTING full-coverage assignment without re-running the old
    * corpus's pairwise similarity. `assignment` is prior
    * [[componentAssignments]] output (id, cluster_id, cluster_size,
    * is_canonical) whose labels are component minima; `newEdges` is every
    * similarity pair that TOUCHES a new id (new-new and new-old — the
    * candidate generator runs batch × accumulated, never accumulated ×
    * accumulated).
    *
    * Correctness: a component of a graph is unchanged when each old cluster
    * is replaced by its star (member — label), because the star has exactly
    * the old cluster's connectivity; adding the new-touching edges then
    * yields the same components a full recompute over all pairs would find.
    * With append-only ids (new ids > old ids) the min-label is also
    * preserved: old clusters keep their labels, clusters merged by a new
    * bridge doc take the smaller (older) label — so incremental == full
    * recompute EXACTLY, not approximately (spec-gated in DedupSimilaritySpec).
    *
    * Scoping: in the star-reduced graph G = star(all old clusters) ∪
    * `newEdges`, an old cluster NONE of whose members touches a new edge is
    * a connected component of G all by itself — its members connect only
    * through its own star edges (other clusters' stars are disjoint by
    * definition, and the new edges miss it by assumption). So components of
    * G split into (a) untouched old clusters, exactly as the prior
    * assignment records them — same members, same min-label, same size,
    * same canonical — passed through verbatim, and (b) components of the
    * scoped graph star(affected clusters) ∪ newEdges over
    * (affected members ∪ new ids), which is the IDENTICAL subgraph a full
    * build would see for those nodes. Affected = prior clusters containing
    * any endpoint of a new edge. The CC loop runs on (b) only, warm-started
    * from the prior labels: valid exactly because each prior label is the
    * min of its old cluster, hence ≤ the member id, and the star edge
    * (member → label) makes it reachable — the seed contract of
    * [[connectedComponentsWithRounds]].
    *
    * Scale shape per fold: the corpus appears only as filtered SCANS of
    * the prior assignment (the affected-cluster selections — map-side, no
    * corpus shuffle); everything iterative runs on |affected ∪ batch|
    * rows, on the driver while they fit (see
    * [[incrementalComponentAssignmentsScopedParts]]). This is the 100 TB
    * maintenance story: a daily batch pays |batch| × candidate-bucket
    * similarity plus CC over the affected subgraph, instead of corpus ×
    * corpus.
    *
    * Preconditions:
    *  - append-only ids — every `newUniverse` id greater than all prior ids
    *    (label preservation), and every `newEdges` endpoint present in
    *    `assignment` ∪ `newUniverse`;
    *  - `assignment` carries the FULL coverage schema — untouched rows pass
    *    through verbatim, so all four columns must exist;
    *  - `newEdges` is batch-proportional: its endpoint set and the affected
    *    clusters' member rows are collected to the driver (within
    *    `localBound` rows) or into BROADCAST relations here, so a batch
    *    whose candidate-pair endpoints cannot broadcast (≳10⁸ pairs) needs
    *    a full [[componentAssignments]] recompute instead. */
  def incrementalComponentAssignmentsScoped(assignment: DataFrame,
                                            newUniverse: DataFrame, idCol: String,
                                            newEdges: DataFrame, srcCol: String,
                                            dstCol: String,
                                            maxIter: Int = 64,
                                            localBound: Long = localComponentsBound): DataFrame = {
    val (untouched, rec) = incrementalComponentAssignmentsScopedParts(
      assignment, newUniverse, idCol, newEdges, srcCol, dstCol, maxIter, localBound)
    untouched.unionByName(rec)
  }

  /** The two halves of [[incrementalComponentAssignmentsScoped]], exposed
    * separately: `(untouched, recomputed)` where `untouched` is the prior
    * rows of clusters no new edge reaches (passed through verbatim) and
    * `recomputed` is the freshly-computed assignment over
    * (affected-cluster members ∪ new ids).
    *
    * Why the split matters: `recomputed` is the fold's exact CHANGE SET —
    * its id set is precisely the rows the fold superseded or created (every
    * member of an affected cluster is in the scoped universe; every other
    * prior row is untouched by the exactness argument above). A caller
    * maintaining versioned state can therefore persist `recomputed` alone
    * as a batch-proportional DELTA and reconstruct full coverage later by
    * latest-fold-wins merge over (snapshot, deltas) — the contract
    * [[graft.jobs.ClusterMaintenance]] builds its delta state layout on.
    *
    * Two paths, one result (spec-gated), chosen like
    * [[connectedComponentsWithRounds]]'s: while each batch-sized frame —
    * the new edges, the new ids, the affected clusters' ids and their
    * member rows — stays within `localBound` rows, each is collected to
    * the driver once, the prior assignment is filtered by the collected
    * id and cluster sets, and union-find closes the scoped graph straight
    * from the collected arrays; `recomputed` is a one-partition local
    * relation. That is one job per frame (none for a local relation, none
    * for `affected`/`touched` when no new edge exists) and no checkpoint.
    * Above the bound, or with `localBound = 0`, each frame is checkpointed
    * instead and the CC runs on the checkpointed scoped graph. */
  def incrementalComponentAssignmentsScopedParts(
      assignment: DataFrame, newUniverse: DataFrame, idCol: String,
      newEdges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 64,
      localBound: Long = localComponentsBound): (DataFrame, DataFrame) = {
    val edges = newEdges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    val ids = newUniverse.select(col(idCol).cast("long").as("id"))
    val onDriver = if (localBound > 0) scopedOnDriver(assignment, ids, edges, localBound) else None
    onDriver.getOrElse(scopedCheckpointed(assignment, ids, edges, maxIter, localBound))
  }

  /** The prior rows of `assignment` whose cluster is not `affected`, in
    * the assignment schema. */
  private def untouchedRows(assignment: DataFrame, affected: DataFrame => DataFrame): DataFrame =
    affected(assignment).select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"),
      col("cluster_size").cast("long").as("cluster_size"),
      col("is_canonical").cast("int").as("is_canonical"))

  /** The driver path of [[incrementalComponentAssignmentsScopedParts]], or
    * None once a collected frame exceeds `bound` rows. */
  private def scopedOnDriver(assignment: DataFrame, ids: DataFrame, edges: DataFrame,
                             bound: Long): Option[(DataFrame, DataFrame)] = {
    def prior(c: String) = col(c).cast("long")
    def priorWhere(c: String, in: Array[Long], cols: String*) =
      if (in.isEmpty) Some(Array.empty[Long])
      else collectLongs(assignment.filter(prior(c).isInCollection(in.toSeq))
        .select(cols.map(prior): _*), bound)
    for {
      fresh <- collectLongs(edges, bound)
      batch <- collectLongs(ids, bound)
      // prior clusters containing any fresh endpoint, then all their rows
      affected <- priorWhere("id", sortedUnique(fresh.clone()), "cluster_id").map(sortedUnique)
      touched <- priorWhere("cluster_id", affected, "id", "cluster_id")
    } yield {
      val spark = assignment.sparkSession
      // the scoped graph: star(affected clusters) ∪ fresh edges
      val nodes = sortedUnique(fresh ++ touched ++ batch)
      val label = componentMins(nodes, Seq(fresh, touched))
      val universe = sortedUnique(Array.tabulate(touched.length / 2)(i => touched(2 * i)) ++ batch)
      val lbl = universe.map(v => label(java.util.Arrays.binarySearch(nodes, v)))
      val size = new scala.collection.mutable.LongMap[Long]()
      lbl.foreach(l => size(l) = size.getOrElse(l, 0L) + 1L)
      val rows = new java.util.ArrayList[Row](universe.length)
      for (i <- universe.indices)
        rows.add(Row(universe(i), lbl(i), size(lbl(i)), if (universe(i) == lbl(i)) 1 else 0))
      val rec = spark.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType), StructField("cluster_id", LongType),
        StructField("cluster_size", LongType), StructField("is_canonical", IntegerType))))
        .coalesce(1)
      val untouched = untouchedRows(assignment, a =>
        if (affected.isEmpty) a else a.filter(!prior("cluster_id").isInCollection(affected.toSeq)))
      (untouched, rec)
    }
  }

  /** The checkpointed path of [[incrementalComponentAssignmentsScopedParts]]. */
  private def scopedCheckpointed(assignment: DataFrame, ids: DataFrame, edges: DataFrame,
                                 maxIter: Int, localBound: Long): (DataFrame, DataFrame) = {
    // Materialize the candidate pairs once (they feed the endpoint set, the
    // scoped edge graph, and — via the broadcast builds — would otherwise
    // re-run the whole LSH candidate generator per consumer). localCheckpoint
    // rather than persist: the downstream CC loop plans over these many
    // times, and a persisted frame still carries the generator's plan
    // (see the note in connectedComponentsWithRounds).
    val fresh = edges.localCheckpoint(true)
    val eps = fresh.select(col("s").as("id"))
      .unionByName(fresh.select(col("d").as("id"))).distinct()
    // Prior clusters containing any fresh endpoint. Corpus side is scanned,
    // never shuffled: eps broadcasts into the semi join, affected (≤ |eps|
    // rows) broadcasts into the touched/untouched splits below.
    val affected = assignment.join(broadcast(eps), Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
      .localCheckpoint(true)
    // touched is affected-cluster-sized (batch-proportional). Checkpoint
    // rather than persist/unpersist: the result frame below still references
    // it lazily (through scopedU inside rec), so an eager unpersist here
    // would silently re-run the corpus semi join at consumption time.
    val touched = assignment
      .join(broadcast(affected), Seq("cluster_id"), "left_semi")
      .select(col("id").cast("long").as("id"),
        col("cluster_id").cast("long").as("cluster_id"))
      .localCheckpoint(true)
    val star = touched.select(col("id").as("s"), col("cluster_id").as("d"))
    val scopedU = touched.select(col("id")).unionByName(ids).distinct()
    val seed = Some(touched.select(col("id").as("node"),
      col("cluster_id").as("lbl")))
    val rec = componentAssignments(scopedU, "id", star.unionByName(fresh),
      "s", "d", maxIter, seed, localBound)
    // rec's CC ran eagerly above (local relation or checkpointed labels), so
    // consumers re-run only the cheap scoped joins on top of it — the
    // corpus-sized side is the untouched scan, read once by whatever action
    // consumes the result.
    (untouchedRows(assignment, _.join(broadcast(affected), Seq("cluster_id"), "left_anti")), rec)
  }

  /** `df`'s rows, every column read as a long, flattened row-major on the
    * driver by one job (none when `df` plans to a local relation), or None
    * when they may exceed `bound` rows: each of the P tasks ships at most
    * bound / P rows (+1 to detect overflow), so the driver never holds much
    * more than `bound` rows, and one partition over its share means None
    * (a caller's fallback is exact, so skew costs time, never results). */
  private def collectLongs(df: DataFrame, bound: Long): Option[Array[Long]] = {
    val w = df.schema.length
    def flat(rows: Iterator[InternalRow], cap: Long): Array[Long] = {
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      while (n <= cap && rows.hasNext) {
        val r = rows.next()
        var i = 0
        while (i < w) { b += r.getLong(i); i += 1 }
        n += 1
      }
      b.result()
    }
    df.queryExecution.executedPlan match {
      case l: org.apache.spark.sql.execution.LocalTableScanExec =>
        Some(flat(l.executeCollect().iterator, bound)).filter(_.length / w <= bound)
      case _ =>
        val rdd = df.queryExecution.toRdd
        val cap = math.max(bound / math.max(rdd.partitions.length, 1), 1L)
        val parts = df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => flat(it, cap))
        if (parts.exists(_.length / w > cap)) None else Some(Array.concat(parts.toSeq: _*))
    }
  }

  /** `a` sorted with repeats removed (sorts `a` in place). */
  private def sortedUnique(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var m = 0
    for (j <- a.indices if j == 0 || a(j) != a(j - 1)) { a(m) = a(j); m += 1 }
    java.util.Arrays.copyOf(a, m)
  }

  /** Union-find over the sorted unique `nodes`: every (p(j), p(j+1)) pair
    * of each flattened edge array is united toward the smaller root (path
    * halving); indices follow id order, so the returned label of each node
    * is its component's min id. */
  private def componentMins(nodes: Array[Long], edges: Seq[Array[Long]]): Array[Long] = {
    val parent = Array.range(0, nodes.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def root(v: Long): Int = find(java.util.Arrays.binarySearch(nodes, v))
    for (p <- edges; j <- p.indices by 2) {
      val (a, b) = (root(p(j)), root(p(j + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(nodes.length)(i => nodes(find(i)))
  }

  /** Exact SUBSTRING (span-level) dedup — the within-document member of
    * the dedup family (Lee et al. 2022, arXiv:2107.06499: duplicated
    * spans, not just duplicated documents, hurt LM training): every
    * position whose `n`-token window occurs more than once in the WHOLE
    * corpus (any doc, including elsewhere in the same doc) is "covered";
    * covered positions merge into maximal spans; the cleaned document is
    * the uncovered tokens in order. Returns one row per input doc:
    * (id, n_tokens, n_dup_starts, n_spans, n_covered, clean_text) —
    * docs with no duplicated span (or shorter than n) pass through with
    * zero counts and their full text.
    *
    * Scale shape: the window enumeration is shuffle-free (per-row
    * sequence explode, the chunker's shape); corpus-wide gram counts are
    * ONE groupBy on the gram's md5 DIGEST (map-side combined; see
    * [[windowStarts]] — the raw n-token string never shuffles) + one
    * join back — and unlike PAIR generation, that join is LINEAR in
    * window starts (each start matches its own gram's one distinct-dup
    * row, never the other occurrences), so a boilerplate gram with 10^6
    * occurrences contributes 10^6 covered starts, not 10^12 pairs — no
    * df cap needed (AQE handles the hot-key skew); span merging is a
    * per-document window ordered by start — bounded by document length,
    * like the chunker (intervals share length n, so ends are monotone in
    * starts and "new span iff start > prev start + n − 1" is exact).
    * The cleaned-text rebuild pays O(tokens × spans) per doc inside one
    * codegen'd projection — no extra shuffle. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    removeDuplicateSpansOfTokens(
        docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks")),
        "id", "toks", n)
      .withColumn("clean_text", concat_ws(" ", col("clean_toks")))
      .drop("clean_toks")

  /** [[removeDuplicateSpans]] over an EXISTING token-array column — the
    * composed-pipeline form (`CorpusPipeline.segmentPlan` projects
    * `tokens(text)` exactly once; this variant consumes that attribute so
    * adding span dedup to the chain adds no tokenize). Returns
    * (id, n_tokens, n_dup_starts, n_spans, n_covered, clean_toks). */
  def removeDuplicateSpansOfTokens(docs: DataFrame, idCol: String,
                                   toksCol: String, n: Int): DataFrame = {
    // spread once here: windowStarts AND the clean-toks rebuild
    // (spanOutput's O(tokens x spans) filter) both consume this frame
    val base = Parallelism.spread(
      docs.select(col(idCol).as("id"), col(toksCol).as("toks")), "id")
    val starts = windowStarts(base, n)
    val dupGrams = starts.groupBy("gram_md5").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("gram_md5")
    val dupStarts = starts.join(dupGrams, Seq("gram_md5")).select("id", "start")
    spanOutput(base, dupStarts, n)
  }

  /** Every n-token window start of (id, toks): one row (id, start,
    * gram_md5) per position 0..len−n. The gram travels as its md5 DIGEST,
    * never the raw joined string: both corpus-wide movements of this
    * column — the gram-count groupBy's exchange and the join back onto
    * starts — carry a fixed 32-hex key instead of an ~n-token string
    * (~3–5× less shuffle payload at n = 8 for any corpus). Joining tokens
    * with ' ' keeps gram identity unambiguous (tokens cannot contain
    * whitespace), and md5's 128 bits make a colliding pair vanishingly
    * improbable at any realistic gram count (birthday bound ~2⁻³⁸ even at
    * 10¹⁵ grams); the DuckDB oracles replay md5 natively. */
  private def windowStarts(base: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "span length must be at least 2 tokens")
    // NOT spread here: the incremental/fold callers pass batch-sized
    // frames (a service tercile) whose gram pass is cheaper than an extra
    // exchange (measured +2 s on the span services); the full-corpus
    // callers spread their own input once (removeDuplicateSpansOfTokens)
    base.select(col("id"),
        explode(when(size(col("toks")) >= n,
            sequence(lit(0), size(col("toks")) - n))
          .otherwise(array().cast("array<int>"))).as("start"),
        col("toks"))
      .select(col("id"), col("start"),
        md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(n))))
          .as("gram_md5"))
  }

  /** Shared back half of the span-dedup family: merge covered window
    * starts into maximal spans (per-document window, bounded by doc
    * length — fixed-length intervals make "new span iff start >
    * prev + n − 1" exact) and rebuild each doc's cleaned token stream in
    * one codegen'd projection. */
  private def spanOutput(base: DataFrame, dupStarts: DataFrame,
                         n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("start")
    val spans = dupStarts
      .withColumn("ng", when(lag(col("start"), 1).over(w).isNull ||
        col("start") > lag(col("start"), 1).over(w) + (n - 1), 1L).otherwise(0L))
      .withColumn("grp", sum(col("ng")).over(w))
      .groupBy("id", "grp")
      .agg(min(col("start")).as("s"), (max(col("start")) + n).as("e"),
        count(lit(1)).as("n_starts"))
    val perDoc = spans.groupBy("id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s")).as("n_covered"),
      sum(col("n_starts")).as("n_dup_starts"),
      collect_list(struct(col("s"), col("e"))).as("spans"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        filter(col("toks"), (_, i) =>
          !coalesce(exists(col("spans"), sp =>
            i >= sp.getField("s") && i < sp.getField("e")), lit(false)))
          .as("clean_toks"))
  }

  /** Corpus gram-count state for the INCREMENTAL span-dedup path:
    * (gram_md5, cnt) over every `n`-token window of `docs` — the
    * accumulated table a continuously-ingested pipeline maintains beside
    * its corpus. Counts from successive batches merge by plain summation
    * (`union.groupBy(gram_md5).sum(cnt)`), so the table is mergeable
    * monoid state: one map-side-combined groupBy per batch, never a
    * corpus recount. */
  def spanGramCounts(docs: DataFrame, idCol: String, toksCol: String,
                     n: Int): DataFrame =
    windowStarts(docs.select(col(idCol).as("id"), col(toksCol).as("toks")), n)
      .groupBy("gram_md5").agg(count(lit(1)).as("cnt"))

  /** Cross-batch (incremental) exact-substring dedup —
    * [[removeDuplicateSpans]] for a continuously ingested corpus: a window
    * start in `batch` is covered iff its gram occurs MORE THAN ONCE across
    * batch ∪ corpus, where the corpus side enters as its accumulated
    * [[spanGramCounts]] table rather than being re-scanned. EXACTLY equals
    * the full recompute over (batch ∪ corpus) restricted to the batch's
    * docs, for ANY split: covered-ness of a start depends only on the
    * TOTAL count of its gram, and that total splits as
    * batch count + corpus count (spec-gated in DedupSimilaritySpec).
    *
    * Scale shape per batch: the batch's own gram counts are one map-side-
    * combined groupBy; a gram occurring more than once in the batch is a
    * duplicate outright, and a batch-unique gram is a duplicate iff the
    * corpus gram table holds it — a `left_semi` join that scans
    * `corpusGrams` in place and keeps the batch on its build side, so the
    * planner broadcasts the batch's unique grams when they are small and
    * sort-merges when they are not; its output is at most the batch's
    * unique grams (once per gram dir holding them). Only presence matters,
    * so the window starts semi-join the duplicate grams and repeats are
    * harmless. (A [[novelAgainst]]-style Bloom over the corpus grams would
    * cost ~1.2 GiB of driver-built filter per 10⁹ grams shipped to every
    * task.) An empty `corpusGrams` is the single-corpus dedup of the batch.
    * Building the result launches no job. */
  def removeDuplicateSpansIncrementalOfTokens(batch: DataFrame, idCol: String,
                                              toksCol: String, n: Int,
                                              corpusGrams: DataFrame): DataFrame =
    removeDuplicateSpansIncremental(batch, idCol, toksCol, n,
      spanGramCounts(batch, idCol, toksCol, n), corpusGrams)

  /** [[removeDuplicateSpansIncrementalOfTokens]] with the batch's own
    * [[spanGramCounts]] `batchCnt` given — the span service passes the
    * counts it has just written, so the batch's grams are counted once per
    * fold. */
  private[graft] def removeDuplicateSpansIncremental(batch: DataFrame, idCol: String,
                                                     toksCol: String, n: Int,
                                                     batchCnt: DataFrame,
                                                     corpusGrams: DataFrame): DataFrame = {
    // not spread: the batch is fold-sized by contract (batch-proportional
    // service cost); an extra exchange per fold measured as a net loss
    val base = batch.select(col(idCol).as("id"), col(toksCol).as("toks"))
    // ≥2 in the batch alone: duplicated regardless of the corpus
    val dupInBatch = batchCnt.filter(col("cnt") > 1).select("gram_md5")
    // exactly 1 in the batch: duplicated iff the corpus has it
    val viaCorpus = corpusGrams.select("gram_md5")
      .join(batchCnt.filter(col("cnt") === 1).select("gram_md5"), Seq("gram_md5"), "left_semi")
    val dupStarts = windowStarts(base, n)
      .join(dupInBatch.unionByName(viaCorpus), Seq("gram_md5"), "left_semi")
      .select("id", "start")
    spanOutput(base, dupStarts, n)
  }

  /** Incremental dedup: rows of `batch` whose `key` does not appear in
    * `reference` — the "today's crawl vs the accumulated corpus" step of a
    * continuously ingested training pipeline.
    *
    * A Bloom filter over the reference keys (built distributed by
    * `stat.bloomFilter`'s aggregate — only the filter bits reach the driver)
    * is broadcast to prefilter the batch: rows the filter rejects are
    * DEFINITELY novel and never shuffle; only the ~`fpp` false-positive slice
    * plus the true duplicates reach an exact `left_anti` join. The result is
    * therefore EXACT — the bloom is a shuffle reducer, never a correctness
    * gate. At 100 TB the anti-join input shrinks from |batch| to
    * |dups| + fpp·|batch| rows; the filter itself costs ~1.2 GiB per 10⁹
    * reference keys at fpp 0.01, so size `expectedItems` to the real corpus
    * and keep fpp ≥ 1e-3 (or shard the reference and union) to stay within
    * executor broadcast budgets. */
  def novelAgainst(batch: DataFrame, reference: DataFrame, key: Column,
                   expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val refKeys = reference.select(key.cast("string").as("__k"))
    val bf = refKeys.stat.bloomFilter("__k", expectedItems, fpp)
    val mightContain = udf((s: String) => s != null && bf.mightContainString(s))
    val keyed = batch.withColumn("__k", key.cast("string"))
    val sureNovel = keyed.filter(!mightContain(col("__k")))
    val suspects = keyed.filter(mightContain(col("__k")))
      .join(refKeys.distinct(), Seq("__k"), "left_anti")
    sureNovel.unionByName(suspects).drop("__k")
  }
}
