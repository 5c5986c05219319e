package graft.jobs

import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous exact-substring (span-level) dedup as a batch-fold SERVICE —
  * the [[graft.operators.Dedup.removeDuplicateSpansIncrementalOfTokens]]
  * operator wrapped in restartable parquet state, the way
  * [[ClusterMaintenance]] wraps the incremental clustering. Each ingest
  * batch is span-deduped against everything ingested before it and its own
  * gram counts join the accumulated state; earlier batches are never
  * touched again (append-only processing — the production semantics for a
  * continuously crawled corpus).
  *
  * State layout (plain parquet — restartable from nothing but the dirs):
  *  - `gramDir/b=N`   — batch N's own gram counts (gram_md5, cnt), one
  *    map-side-combined groupBy per batch;
  *  - `gramDir/gen=G` — a COMPACTED sum-merge of batches 0..G (written
  *    every `Config.compactEvery` folds) — counts are a mergeable monoid,
  *    so compaction is one groupBy-sum and per-fold listing overhead stays
  *    bounded by `compactEvery` at any stream length;
  *  - `cleanDir/b=N`  — batch N's deduped output (the q109 report shape
  *    with `clean_toks`), the service's deliverable.
  *
  * Unlike the cluster service there is NO versioned assignment state:
  * gram counts are append-only facts (batch N's contribution never
  * changes), so the accumulated state is just the union of committed dirs
  * and a replayed fold simply overwrites its own `b=N` — idempotent
  * without any version chain. A `gen=G` dir counts only with its
  * `_SUCCESS` marker (same commit protocol as [[ClusterMaintenance]]);
  * compaction only ever covers batches ≤ batchId−1, so a replay of fold N
  * never finds its own batch folded into the corpus side.
  *
  * Semantics contract (spec-gated in SpanDedupMaintenanceSpec): fold k's
  * clean output EXACTLY equals the full [[Dedup.removeDuplicateSpansOfTokens]]
  * recompute over batches 0..k restricted to batch k's docs, for any batch
  * assignment — covered-ness of a window start depends only on the total
  * count of its gram over the prefix, and that total splits as
  * batch count + accumulated count (the operator's split identity, folded).
  *
  * Scale shape per fold: the batch's own gram counts are one map-side-
  * combined groupBy, written first as `b=N` and read back by the span
  * dedup, so the batch's grams are counted once. A batch-unique gram is a
  * duplicate iff the operator's exact semi join finds it in the committed
  * gram dirs — the fold's only scan of the generation gram state, read in
  * place with the batch's unique grams on the build side (broadcast while
  * they are small), so neither the driver nor a shuffle sees the gram
  * state. Presence is all the dedup needs, so the union of dirs is passed
  * unmerged (no corpus-wide groupBy per fold). Nothing derived is
  * persisted beside a generation; the Bloom filters earlier versions kept
  * there (`bloom=G.bin`) are never read and go with the next compaction
  * or rebuild. */
object SpanDedupMaintenance {

  /** `n = 8` matches the q109/q111/q113 gated gram length.
    * `compactEvery`: sum-merge the gram dirs once the latest committed
    * generation trails the fold by this many batch dirs (≤ 0 disables). */
  final case class Config(n: Int = 8, compactEvery: Int = 8)

  /** Fold one ingest batch — (idCol: integral, toksCol: array<string>) —
    * through the span dedup and into the gram state. Reads the accumulated
    * gram dirs (latest committed generation + later batch dirs); writes
    * `gramDir/b=$batchId`, then `cleanDir/b=$batchId` (both keyed
    * overwrites — a replay after a mid-fold crash rewrites the same
    * state); compacts the gram dirs when the generation lag reaches
    * `cfg.compactEvery`. Returns the deduped batch as written. */
  def foldBatch(batch: DataFrame, batchId: Long,
                gramDir: String, cleanDir: String,
                idCol: String, toksCol: String,
                cfg: Config = Config()): DataFrame = {
    val sess = batch.sparkSession
    val hconf = sess.sparkContext.hadoopConfiguration
    val gpath = new Path(gramDir)
    val fs = gpath.getFileSystem(hconf)
    // the ENFORCED half of the takedown quiesce contract: a rebuild in
    // progress (or crashed mid-run) holds the `_REBUILD` lease, and a fold
    // racing it could resolve a mid-swap generation or commit a batch dir
    // the rebuild's recount never saw and its sweep then deletes — fail
    // fast instead
    StateProtocol.requireNoRebuildLease(fs, gpath, "SpanDedupMaintenance.foldBatch")
    // the accumulated counts are joinable only under the gram length that
    // built them — validate the `_GRAMCONF` stamp before reading anything
    // (a mismatch fails loudly prescribing the rebuildState recount; gram
    // state is the ONLY record, never sweepable)
    ensureGramConfig(fs, gpath, cfg)
    val gen = StateProtocol.latestGeneration(fs, gpath, maxGen = batchId - 1)
    val genPart = gen.map(g => s"$gramDir/gen=$g").toSeq
    val batchParts =
      ((gen.getOrElse(-1L) + 1) until batchId).map(i => s"$gramDir/b=$i")
    // fold-side read gate (the generation is _SUCCESS-gated by
    // latestGeneration already): a torn prior b=i would read as empty and
    // this fold would silently miss batch i's grams — fail fast naming the
    // replay instead
    StateProtocol.requireCommitted(fs, batchParts,
      "SpanDedupMaintenance.foldBatch",
      "a prior fold crashed mid-write; replay that fold first (its keyed " +
        "overwrite converges), then fold later batches")
    val priorParts = genPart ++ batchParts
    val gramSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "gram_md5 string, cnt long")
    // no prior state (the first fold, or a fresh dir) is an empty local
    // relation, which the optimizer folds out of the semi join
    val prior =
      if (priorParts.isEmpty)
        sess.createDataFrame(java.util.Collections.emptyList[Row](), gramSchema)
      else sess.read.schema(gramSchema).parquet(priorParts: _*)
    // The batch's grams are counted ONCE: its gram counts land first, and
    // the span dedup reads them back from that batch-sized dir. Both writes
    // are _SUCCESS-gated keyed overwrites, so a replay after a crash
    // between them rewrites both.
    Dedup.spanGramCounts(batch, idCol, toksCol, cfg.n)
      .write.mode("overwrite").parquet(s"$gramDir/b=$batchId")
    val clean = Dedup.removeDuplicateSpansIncremental(batch, idCol, toksCol, cfg.n,
      sess.read.schema(gramSchema).parquet(s"$gramDir/b=$batchId"), prior)
    clean.write.mode("overwrite").parquet(s"$cleanDir/b=$batchId")
    // Compact AFTER the fold's own commits, sum-merging exactly the state
    // this fold just read (batches 0..batchId-1 — never b=batchId, so a
    // replay of THIS fold still resolves a generation ≤ batchId-1).
    if (cfg.compactEvery > 0 &&
        (batchId - 1) - gen.getOrElse(-1L) >= cfg.compactEvery) {
      val newGen = batchId - 1
      prior.groupBy("gram_md5").agg(sum(col("cnt")).as("cnt"))
        .write.mode("overwrite").parquet(s"$gramDir/gen=$newGen")
      StateProtocol.sweepSuperseded(fs, gpath, newGen)
    }
    // the schema is known, so reading the output back infers nothing
    sess.read.schema(clean.schema).parquet(s"$cleanDir/b=$batchId")
  }

  /** The gram-geometry fingerprint persisted beside the state
    * (`_GRAMCONF`): `Config.n` determines the gram length every count in
    * the state was built from, so counts accumulated under one `n` are
    * NOT joinable against batch digests computed under another — without
    * the stamp, a service restarted with a different `n` would md5-join
    * (say) 6-gram batch digests against 8-gram corpus digests, nothing
    * would ever collide, every batch would look fully novel, and dedup
    * coverage would silently collapse to zero. `compactEvery` is
    * deliberately excluded: the compaction cadence is layout, not
    * semantics, and can change freely over the same counts. */
  private def gramFingerprint(cfg: Config): String = s"n=${cfg.n}"

  // writes through the shared semantic-stamp primitive
  // ([[StateProtocol.writeStamp]] — one implementation for `_GRAMCONF`
  // and the cluster side's `_CLCONF`, so the stamp handling cannot
  // drift; it fails loudly on a failed rename because a LOST semantic
  // stamp lets the next fold's adopt-and-stamp record its own `n` over
  // state built under another)
  private def writeGramConfig(fs: org.apache.hadoop.fs.FileSystem,
                              gpath: Path, fp: String): Unit =
    StateProtocol.writeStamp(fs, gpath, "_GRAMCONF", fp)

  /** Validate (or establish) the `_GRAMCONF` stamp before a fold touches
    * the state. Gram counts are the ONLY record — the service never
    * stores text, so a sweep on mismatch would destroy the corpus history
    * permanently. The
    * mismatch behavior is therefore FAIL LOUDLY, prescribing either the
    * original `n` or a [[rebuildState]] recount of the retained corpus
    * under the new one ([[rebuildState]] is the one writer allowed to
    * change the stamp: it recounts from scratch, so any `n` is valid).
    * A missing stamp over EXISTING committed state is the pre-stamp
    * upgrade window — the dirs' geometry is unknowable after the fact, so
    * the current config is adopted and stamped (the operator's standing
    * declaration, recorded so every LATER change is caught); a missing
    * stamp over an empty dir is simply the first fold, which stamps its
    * own geometry. A mismatched stamp over NO committed state re-stamps:
    * there is nothing recorded under the old `n` to protect. */
  private[jobs] def ensureGramConfig(fs: org.apache.hadoop.fs.FileSystem,
                                     gpath: Path, cfg: Config): Unit = {
    val fp = gramFingerprint(cfg)
    StateProtocol.ensureStamp(fs, gpath, "_GRAMCONF", fp,
      hasCommittedState =
        StateProtocol.committedDirs(fs, gpath, "b=").nonEmpty ||
          StateProtocol.committedDirs(fs, gpath, "gen=").nonEmpty
    ).foreach { stamped =>
      throw new IllegalStateException(
        s"SpanDedupMaintenance: the gram state under $gpath was built " +
          s"with $stamped but this service is configured with $fp — " +
          "different-length gram digests never collide, so folding on " +
          "would silently collapse dedup coverage to zero. Gram counts " +
          "are the only record (never swept): either restore the " +
          s"original $stamped, or run rebuildState with the retained " +
          s"corpus under $fp — it recounts and re-stamps.")
    }
  }

  /** Takedown / retraction escape hatch: gram counts are APPEND-ONLY
    * monoid state (a fold never decrements), so removing documents is an
    * explicit OFFLINE rebuild — recount the grams of the RETAINED corpus
    * (caller-provided: the service never stores text) into a single
    * generation that supersedes every existing dir (the closing sweep also
    * removes any derived entries an earlier version left beside the
    * state). Afterwards the stream resumes unchanged: the next fold
    * (batchId = maxIngested+1) resolves the rebuilt
    * generation and dedupes against retained-only counts — equal to the
    * full recompute over (retained ∪ batch), the same split identity as
    * always. The head id is derived from COMMITTED dirs only, so a torn
    * `b=N` (a fold that crashed mid-write, replay pending) does not bump
    * the generation past the last complete fold — the replayed fold still
    * resolves the rebuilt generation under its own maxGen bound instead
    * of an empty prior. Already-emitted `cleanDir/b=N` deliverables are
    * keyed by doc id and are the caller's to filter (this method rebuilds
    * STATE).
    *
    * Cost: one gram recount over the retained corpus — O(corpus), the
    * documented price of a retraction against append-only state.
    *
    * Crash contract: the recount is staged to a hidden temp dir and the
    * old generation swapped ASIDE (never deleted) until the rebuilt one
    * commits, with an aside-restore pass at rebuild start — so re-running
    * the rebuild with the same retained corpus converges from EVERY crash
    * window (spec-pinned), and a crash can at worst leave superseded
    * batch dirs that every reader ignores (they are ≤ the rebuilt
    * generation); readers never read torn parquet or lose the only
    * committed state.
    *
    * Quiesce contract, ENFORCED: the rebuild takes the `_REBUILD` lease
    * ([[StateProtocol.acquireRebuildLease]]) before its first slow or
    * destructive step and releases it only on success; every [[foldBatch]]
    * fails fast while it is held. A crash mid-rebuild leaves the lease in
    * place deliberately — folds stay blocked until the re-run converges
    * and releases it. Acquisition is EXCLUSIVE: a second rebuild started
    * while one is live fails loudly (two interleaved sweep/swap windows
    * would corrupt the state undetected); the crashed-rebuild re-run is
    * the explicit `resumeCrashedRebuild = true` path — the operator's
    * declaration that no other rebuild is running. */
  def rebuildState(retained: DataFrame, gramDir: String,
                   idCol: String, toksCol: String,
                   cfg: Config = Config(),
                   resumeCrashedRebuild: Boolean = false): Unit = {
    val sess = retained.sparkSession
    val gpath = new Path(gramDir)
    val fs = gpath.getFileSystem(sess.sparkContext.hadoopConfiguration)
    require(fs.exists(gpath),
      s"rebuildState: no gram state under $gramDir")
    // Recover an interrupted PRIOR rebuild before deriving the head id: a
    // crash (or failed rename) between its aside and its swap-in leaves
    // `.gen=N.old` holding the only copy of the state — restore it so this
    // run sees the pre-takedown state again. If gen=N DID commit, the
    // aside is a superseded leftover to discard. This is what makes
    // "re-running the rebuild converges" true in every crash window.
    StateProtocol.restoreAsides(fs, gpath, "gen=")
    // head id from COMMITTED dirs only: a torn b=N (fold N crashed
    // mid-write, its replay pending) must not bump the rebuilt generation
    // past the last complete fold — a gen=N above the replay's own
    // maxGen bound would be invisible to it, and the fold would resolve
    // an EMPTY prior and skip corpus dedup entirely. With g at the last
    // committed fold, the replay resolves the rebuilt generation and
    // overwrites the torn dir as usual.
    val ids = StateProtocol.committedDirs(fs, gpath, "b=") ++
      StateProtocol.committedDirs(fs, gpath, "gen=")
    require(ids.nonEmpty,
      s"rebuildState: no committed batches or generations under $gramDir")
    val g = ids.max
    // every precondition holds — take the rebuild LEASE before the first
    // slow or destructive step, so folds fail fast for the whole window
    // (recount included: a batch committed mid-recount would be invisible
    // to the rebuilt generation and then swept — silent loss). Released
    // only on success; a crash leaves it held so folds stay blocked until
    // the re-run converges.
    StateProtocol.acquireRebuildLease(fs, gpath, takeover = resumeCrashedRebuild)
    val tmp = new Path(s"$gramDir/.gen=$g.rebuild")
    Dedup.spanGramCounts(retained, idCol, toksCol, cfg.n)
      .write.mode("overwrite").parquet(tmp.toString)
    // Swap via ASIDE, never delete-then-rename ([[StateProtocol.swapIn]]):
    // the old generation is moved aside (not destroyed) until the rebuilt
    // one is committed, so a crash or failed rename at any point leaves
    // either the committed old state or a restorable aside — the re-run
    // above converges from both.
    val fin = new Path(s"$gramDir/gen=$g")
    val aside = new Path(s"$gramDir/.gen=$g.old")
    StateProtocol.swapIn(fs, fin, aside, tmp, "rebuildState")
    // re-stamp the gram geometry AFTER the swap committed: the rebuild is
    // the one writer allowed to CHANGE `n` (it recounts from the retained
    // corpus, so any length is valid), and ordering the stamp after the
    // swap means a crash in between leaves stamp=old-n over new-n state —
    // caught by the next fold's mismatch check (which prescribes this very
    // re-run) — never the reverse window, where a new-n stamp over old-n
    // state would wave mismatched folds through
    writeGramConfig(fs, gpath, gramFingerprint(cfg))
    StateProtocol.discardAside(fs, aside)
    StateProtocol.sweepSuperseded(fs, gpath, g)
    StateProtocol.releaseRebuildLease(fs, gpath)
    ()
  }

  /** The accumulated corpus gram counts (sum-merged across the committed
    * generation and later batch dirs) — for a standalone batch job that
    * wants the state table itself (e.g. boilerplate mining over the most
    * frequent grams). */
  def gramCounts(spark: SparkSession, gramDir: String): DataFrame = {
    val gpath = new Path(gramDir)
    val fs = gpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a standalone reader takes the newest committed generation, whatever
    // its id — after a tombstone rebuild the state can be ONE generation
    // with no batch dirs at all (the replay-safety maxGen bound is a
    // FOLD's concern, scoped to its own batchId)
    val gen = StateProtocol.latestGeneration(fs, gpath, maxGen = Long.MaxValue)
    // COMMITTED post-generation batch dirs only (a torn dir reads as empty
    // parquet — silently missing that batch's counts). The committed set
    // must be CONTIGUOUS from the generation to its own head: folds are
    // sequential, so a gap means a torn/deleted dir in the MIDDLE of the
    // accumulated state — fail loudly naming the replay rather than
    // serving counts that silently miss one batch's contribution. A torn
    // dir ABOVE the committed head is an in-flight fold and is correctly
    // excluded (it is not yet part of the accumulated state).
    val bs = StateProtocol.committedDirs(fs, gpath, "b=")
      .filter(_ > gen.getOrElse(-1L)).sorted.toSeq
    require(gen.nonEmpty || bs.nonEmpty,
      s"SpanDedupMaintenance: no committed gram state under $gramDir")
    val expected = (gen.getOrElse(-1L) + 1) to bs.lastOption.getOrElse(-1L)
    require(bs == expected,
      s"SpanDedupMaintenance.gramCounts: committed batch dirs under " +
        s"$gramDir are not contiguous (have b=${bs.mkString(",")}, expected " +
        s"b=${expected.mkString(",")}) — a fold crashed mid-write; replay it " +
        "(its keyed overwrite converges) before reading the accumulated counts")
    val parts = gen.map(g => s"$gramDir/gen=$g").toSeq ++
      bs.map(i => s"$gramDir/b=$i")
    spark.read.schema("gram_md5 string, cnt long").parquet(parts: _*)
      .groupBy("gram_md5").agg(sum(col("cnt")).as("cnt"))
  }

  /** Operational snapshot of the service's on-disk state (the
    * [[ClusterMaintenance.status]] counterpart): newest ingested fold,
    * committed generation and post-generation batch dirs.
    * `rebuildInProgress` reports the `_REBUILD` lease — a crashed rebuild
    * deliberately leaves it held, so
    * this is the one field that explains every fold failing after an
    * incident, and the check an operator makes BEFORE resuming the
    * stream. `configStamp` reports the `_GRAMCONF` semantic stamp the
    * state was built under — the fact an operator checks before
    * restarting the service with a given `Config.n` (None = pre-stamp
    * layout; the next fold adopts and stamps its configured geometry).
    * Committed dirs only; all listings bounded by compactEvery. */
  final case class Status(headFold: Long, generation: Option[Long],
                          batchDirs: Seq[Long], rebuildInProgress: Boolean,
                          configStamp: Option[String])

  def status(spark: SparkSession, gramDir: String): Status = {
    val gpath = new Path(gramDir)
    val fs = gpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = StateProtocol.latestGeneration(fs, gpath, maxGen = Long.MaxValue)
    val bs = StateProtocol.committedDirs(fs, gpath, "b=").sorted.toSeq
    require(gen.nonEmpty || bs.nonEmpty,
      s"SpanDedupMaintenance.status: no committed gram state under $gramDir")
    Status(
      headFold = (gen.toSeq ++ bs).max,
      generation = gen,
      batchDirs = bs.filter(_ > gen.getOrElse(-1L)),
      rebuildInProgress = fs.exists(StateProtocol.rebuildLeasePath(gpath)),
      configStamp = StateProtocol.readStamp(fs, gpath, "_GRAMCONF"))
  }
}
