package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Context-window shaping for LLM pretraining corpora: sliding token-window
  * CHUNKING and concat-and-chop sequence PACKING.
  *
  * The reference's record shaping stops at line/record splitting
  * (.../lib/input/NLineInputFormat.java:63 fixed line counts per split,
  * .../lib/input/FixedLengthInputFormat.java:47 fixed byte records); a
  * training-data pipeline shapes TOKEN windows instead: long documents are
  * cut into model-context-sized chunks (with overlap so no span loses its
  * left context), and short documents are packed head-to-tail into full
  * sequences so no context slot is wasted. Both are deterministic column
  * algebra here — no UDFs, no driver loops — and both replay in ANSI SQL.
  *
  * Scale shape: chunking is embarrassingly parallel (explode over a
  * per-document index sequence — no shuffle at all). Packing needs ONE
  * global exclusive prefix sum of token counts in document order; rather
  * than a single-partition window (the classic scale-killer) it buckets
  * doc ids by a width derived from max(doc_id), cumulates the ≤bucketTarget
  * per-bucket totals in a bounded window, and broadcasts those bases back —
  * two shuffles total, state bounded by the bucket count at any corpus size.
  */
object Packing {

  /** Sliding token windows: cut each document's token stream into chunks of
    * `size` tokens starting every `stride` tokens (overlap = size − stride).
    * Chunk starts are 0, stride, 2·stride, …; the last chunk begins at the
    * final start needed to cover the tail and may be shorter than `size`.
    * Token-less documents produce no chunks.
    *
    * Output: (id, [carry...], chunk_idx, token_cnt, chunk_md5) — the chunk
    * is carried as an md5 of its space-joined tokens so the result stays
    * narrow at any document length; callers that want the text re-slice
    * from the same deterministic arithmetic. `carry` columns ride through
    * unchanged (e.g. source/lang for per-stratum chunk accounting) —
    * cheaper than a corpus-sized join back on id. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            size: Int, stride: Int, carry: Seq[String] = Nil): DataFrame =
    chunkTokens(
      docs.select(col(idCol).as("id") +: carry.map(col) :+
        tokens(col(textCol)).as("toks"): _*),
      "id", "toks", size, stride, carry)

  /** [[chunk]] over an ALREADY-TOKENIZED corpus: a composed pipeline that has
    * materialized `tokens(text)` once (quality gate, sketches) chunks from
    * that attribute instead of re-deriving split() — the optimized plan of
    * the whole chain then tokenizes each document exactly once. */
  def chunkTokens(docs: DataFrame, idCol: String, toksCol: String,
                  size: Int, stride: Int, carry: Seq[String] = Nil): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    val reserved = Set("id", "toks", "n", "chunk_idx", "start", "token_cnt", "chunk_md5")
    require(carry.forall(c => !reserved.contains(c)),
      s"carry columns collide with chunk's internals: ${carry.filter(reserved)}")
    val carryCols = carry.map(col)
    val toks = docs
      .select(col(idCol).as("id") +: carryCols :+ col(toksCol).as("toks"): _*)
      .withColumn("n", org.apache.spark.sql.functions.size(col("toks")).cast("long"))
    // last start index k·stride with k = ceil((n−size)/stride) (0 when the
    // doc fits in one chunk); stride ≤ size guarantees start < n
    val k = greatest(lit(0L),
      ceil((col("n") - size).cast("double") / lit(stride.toDouble)))
    // slice's start argument is an int: a document whose chunk starts past
    // 2^31 tokens would wrap the cast and silently hash the WRONG slice
    // while chunk_idx/token_cnt (long arithmetic) stayed plausible — fail
    // loudly instead of diverging (no real document is ~2 GiB of tokens,
    // but silent wrong-hash is the one failure mode dedup can't detect).
    val sliceStart = when(col("start") < Int.MaxValue,
        (col("start") + 1).cast("int"))
      .otherwise(raise_error(format_string(
        "chunk: document %s starts a chunk beyond 2^31-1 tokens", col("id"))))
    toks
      .select(col("id") +: carryCols :+ col("toks") :+ col("n") :+
        explode(sequence(lit(0L), k)).as("chunk_idx"): _*)
      .withColumn("start", col("chunk_idx") * stride)
      .select(col("id") +: carryCols :+ col("chunk_idx") :+
        least(lit(size.toLong), col("n") - col("start")).as("token_cnt") :+
        md5(array_join(slice(col("toks"), sliceStart, lit(size)), " ")
          .cast("binary")).as("chunk_md5"): _*)
      // token-less docs are dropped HERE, after the explode: their single
      // chunk_idx-0 row has token_cnt = 0, every real chunk has ≥ 1 (start
      // < n). A pre-explode filter(n > 0) gets pushed below the tokenize
      // projection and re-derives split() in the predicate — a second full
      // tokenize per row (plan-asserted away in PackingSpec); this
      // predicate cannot sink past the Generate and is pure arithmetic.
      .filter(col("token_cnt") > 0)
  }

  /** Concat-and-chop sequence packing: documents are laid head-to-tail in
    * `idCol` order and the token stream is chopped at `capacity` boundaries
    * (the standard pretraining packing — documents may straddle a boundary).
    * For each document: the sequence its first token lands in, the offset
    * within that sequence, and how many sequences it spans.
    *
    * The global exclusive prefix sum is computed hierarchically: ids bucket
    * by `w = floor(maxId/bucketTarget)+1`, per-bucket totals (≤ bucketTarget
    * + 1 rows, a bounded frame) cumulate in one small window, and each row
    * adds its intra-bucket exclusive sum — so no window ever sees more than
    * a bucket's rows on one partition. maxId rides the plan as a broadcast
    * scalar; nothing is collected. Token-less documents are dropped (they
    * occupy no slot).
    *
    * `basePos` continues packing from a prior run's high-water token
    * position (the incremental-append case: new corpus batches extend the
    * packed stream without touching already-written sequences) — pack of
    * the whole equals pack of any id-ordered prefix followed by a basePos-
    * continued pack of the rest, a property PackingSpec pins and q86 gates
    * against the full-repack oracle.
    *
    * Eager: the (id, cnt) projection, which the plan reads three times
    * (maxId scalar, bucket totals, the positioned rows), is a [[Snapshot]]
    * taken while the frame is built (one job), so whatever produced cnt —
    * typically a full tokenize of the corpus — runs once. ~16 B/doc.
    *
    * Output: (id, n_tokens, seq_id, seq_offset, spans), ordered by id, plus
    * the thunk releasing the snapshot. Call it after the last action on the
    * frame; the frame then fails loudly if read again. A caller that drops
    * the thunk leaves the snapshot to go once the frame is garbage (see
    * [[Snapshot]]). */
  def packSequences(docs: DataFrame, idCol: String, cntCol: String,
                    capacity: Long, bucketTarget: Int = 4096,
                    basePos: Long = 0L): (DataFrame, () => Unit) = {
    require(capacity >= 1 && bucketTarget >= 1 && basePos >= 0)
    val base = Snapshot.take(docs
      .select(col(idCol).cast("long").as("id"), col(cntCol).cast("long").as("cnt"))
      .filter(col("cnt") > 0))
    (packPositioned(base, capacity, bucketTarget, basePos), () => Snapshot.release(base))
  }

  private def packPositioned(base: DataFrame, capacity: Long,
                             bucketTarget: Int, basePos: Long): DataFrame = {
    // The bucket width is positive only when max(id) >= 0. An ALL-NEGATIVE
    // id space (plausible: a signed-hash-derived id column whose draws all
    // came out negative) gives w <= 0: under ANSI (this engine's default)
    // the bucket division dies with an unactionable DIVIDE_BY_ZERO deep in
    // the plan, and with ANSI off it nulls out and the bucket join silently
    // drops EVERY row — fail loudly with the remedy instead, in both modes.
    // Mixed-sign ids are fine (negative buckets order correctly), and an
    // empty input never reaches the error branch (null max_id takes the
    // first branch; the null w is moot against zero base rows).
    val w = base.agg(max(col("id")).as("max_id"))
      .select(when(col("max_id").isNull || col("max_id") >= 0,
          floor(col("max_id") / bucketTarget) + 1)
        .otherwise(raise_error(format_string(
          "packSequences: all doc ids are negative (max id = %s) — the " +
            "bucket width derivation needs a non-negative max id; remap or " +
            "offset the id column", col("max_id").cast("string")))).as("w"))
    val bucketed = base.crossJoin(broadcast(w))
      .withColumn("bucket", floor(col("id") / col("w")))
    // per-bucket totals -> exclusive running base per bucket (bounded frame:
    // at most bucketTarget+1 rows flow through the unpartitioned window)
    val bucketBases = bucketed.groupBy("bucket").agg(sum("cnt").as("btot"))
      .withColumn("bbase",
        coalesce(sum("btot").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bucket", "bbase")
    val intra = Window.partitionBy("bucket").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .join(broadcast(bucketBases), Seq("bucket"))
      .withColumn("pos",
        lit(basePos) + col("bbase") + coalesce(sum("cnt").over(intra), lit(0L)))
      .select(col("id"), col("cnt").as("n_tokens"),
        floor(col("pos") / capacity).as("seq_id"),
        (col("pos") % capacity).as("seq_offset"),
        (floor((col("pos") + col("cnt") - 1) / capacity)
          - floor(col("pos") / capacity) + 1).as("spans"))
      .orderBy("id")
  }

  /** Deterministic training-order (epoch) shuffle: every row gets its exact
    * position in a pseudorandom global permutation keyed by
    * md5(epoch-`epoch`:`idCol`). Reproducible — re-runs and failure retries
    * of the same epoch see the same permutation, a different `epoch`
    * reshuffles — and assigned via [[Sorts.globalOrderIndex]] (range
    * partitions + bounded base window + intra-partition row_number), never
    * a single-partition window, so ordering 10^10 sequences costs a
    * TeraSort, not a one-task sort. Adds `posAlias` (0-based long). Eager
    * like [[Sorts.globalOrderIndex]]; its snapshot goes with the returned
    * frame once that is garbage. */
  def epochOrder(seqs: DataFrame, idCol: String, epoch: Long,
                 posAlias: String = "shuffle_pos"): DataFrame = {
    val keyed = seqs.withColumn("__shuffle_key",
      md5(concat(lit(s"epoch-$epoch:"), col(idCol).cast("string")).cast("binary")))
    Sorts.globalOrderIndex(keyed, Seq(col("__shuffle_key")), posAlias)._1
      .drop("__shuffle_key")
  }

  /** Length-bucketed inference batching: assign every row a `batch_id`
    * such that each batch holds exactly `batchSize` rows (the last one
    * ragged) of NEAR-EQUAL length — the padded-batch preparation for
    * fixed-shape inference/scoring, where a batch pays
    * batchSize × max(len) tokens and sorting by length first is the
    * standard padding-waste eliminator. Rank = [[Sorts.globalOrderIndex]]
    * over (lenCol, idCol) (range partitions + bounded base window — a
    * TeraSort shape, never a single-partition window), then
    * batch_id = rank / batchSize, batch_pos = rank % batchSize. Ties
    * break on id, so the assignment is total and replayable. Output:
    * input columns + (batch_id, batch_pos), plus the rank's snapshot
    * release thunk ([[Sorts.globalOrderIndex]]: eager, unusable once
    * released). */
  def lengthBuckets(df: DataFrame, idCol: String, lenCol: String,
                    batchSize: Int): (DataFrame, () => Unit) = {
    require(batchSize >= 1, "batchSize must be positive")
    val (ranked, release) = Sorts.globalOrderIndex(df,
      Seq(col(lenCol), col(idCol)), "__rank")
    (ranked
      .withColumn("batch_id", floor(col("__rank") / batchSize).cast("long"))
      .withColumn("batch_pos", pmod(col("__rank"), lit(batchSize.toLong)))
      .drop("__rank"), release)
  }

  /** The per-segment materialization of [[packSequences]] — the table a
    * training pipeline actually writes: for every (document, sequence) pair
    * the document touches, which token range of the document lands at which
    * offset of the sequence. Derived from the packed rows by pure integer
    * arithmetic (explode over the span index; intersection of the doc's
    * global token interval with the sequence's): writers for different
    * sequences need no coordination, a reader of sequence s selects its
    * segments by the s key alone, and segment lengths per sequence sum to
    * `capacity` on every full sequence (padding-free packing, the metric
    * PackingSpec pins).
    *
    * Input must be [[packSequences]] output (id, n_tokens, seq_id,
    * seq_offset, spans). Output: (id, seq_id, doc_from, seq_off, n_tok) —
    * doc tokens [doc_from, doc_from + n_tok) land at sequence offset
    * seq_off. */
  def packSegments(packed: DataFrame, capacity: Long): DataFrame = {
    require(capacity >= 1)
    val p = (col("seq_id") * capacity) + col("seq_offset") // global start
    packed
      .select(col("id"), col("n_tokens"), col("seq_id").as("first_seq"),
        p.as("p"), col("spans"))
      .select(col("id"), col("n_tokens"), col("p"), col("first_seq"),
        explode(sequence(lit(0L), col("spans") - 1)).as("j"))
      .withColumn("seq_id", col("first_seq") + col("j"))
      .select(col("id"), col("seq_id"),
        (greatest(col("p"), col("seq_id") * capacity) - col("p")).as("doc_from"),
        (greatest(col("p"), col("seq_id") * capacity)
          - col("seq_id") * capacity).as("seq_off"),
        (least(col("p") + col("n_tokens"), (col("seq_id") + 1) * capacity)
          - greatest(col("p"), col("seq_id") * capacity)).as("n_tok"))
  }
}
