package graft.jobs

import graft.operators.{Dedup, Similarity, Snapshot}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental semantic-cluster maintenance as a SERVICE — the library
  * piece behind q104's streaming harness, usable from foreachBatch, a
  * scheduled batch job, or a backfill loop alike.
  *
  * State layout (all plain parquet — restartable from nothing but the
  * directories):
  *  - `stateDir/v=N`    — a full-coverage assignment SNAPSHOT after batch N
  *    (id, cluster_id, cluster_size, is_canonical), written every
  *    `Config.snapshotEvery` folds (and always at fold 0);
  *  - `stateDir/d=N`    — batch N's assignment DELTA: exactly the rows fold
  *    N recomputed ([[Dedup.incrementalComponentAssignmentsScopedParts]] —
  *    members of affected clusters ∪ the batch's ids), same schema. The
  *    full assignment after batch N is latest-fold-wins over the newest
  *    snapshot ≤ N plus the deltas after it ([[reconstructAssignment]]):
  *    exact because a delta's id set is precisely the rows its fold
  *    superseded or created. This makes the per-fold STATE WRITE
  *    batch-proportional — the last corpus-sized per-fold write the
  *    service had — at the amortized price of one snapshot write per
  *    `snapshotEvery` folds;
  *  - `corpusDir/b=N`   — batch N's vectors;
  *  - `corpusDir/gen=G` — a COMPACTED consolidation of batches 0..G
  *    (written every `Config.compactEvery` folds), so the accumulated
  *    corpus every batch probes is read as ONE generation dir plus the
  *    few batch dirs after it — per-fold listing and small-file overhead
  *    stay bounded by `compactEvery` at any stream length, instead of
  *    growing linearly with batch count.
  *
  * Any other entry under the dirs is ignored: every reader parses exact
  * name prefixes ([[StateProtocol.numericSuffix]]), and each fold
  * recomputes its candidate signatures from the vectors. The per-batch
  * LSH bucket tables and their geometry stamp that earlier versions kept
  * beside the corpus are removed by the first compaction or rebuild
  * ([[StateProtocol.sweepSuperseded]]).
  *
  * Commit protocol: a state version or generation dir is COMMITTED iff it
  * contains the `_SUCCESS` marker Spark's file committer writes last — a
  * crash mid-overwrite leaves a torn dir that every reader (the next
  * fold, [[latestAssignment]], a standalone batch job) skips in favor of
  * the previous committed one; the replayed fold then overwrites the torn
  * dir in place.
  *
  * Contracts:
  *  - batches carry APPEND-ONLY ids (every id in batch N greater than all
  *    ids in batches < N) — the precondition under which
  *    [[Dedup.incrementalComponentAssignmentsScopedParts]] equals a full
  *    recompute exactly (star-replacement theorem, spec-gated);
  *  - [[foldBatch]] is IDEMPOTENT per (batchId, batch content): every
  *    write is a keyed overwrite, so a replay after a mid-fold crash
  *    rewrites the same state — exactly-once for a foreachBatch caller
  *    without any sink-side transaction. Compaction keeps the invariant:
  *    `gen=G` only ever covers batches ≤ G < current batchId, so a replay
  *    of fold N never reads its own batch back as corpus, and a crash
  *    between the generation commit and the batch-dir deletes only leaves
  *    stale `b=` dirs that every reader already ignores (they are ≤ the
  *    committed generation) and the next compaction deletes;
  *  - state retention: a replay of fold N reads only the reconstruction at
  *    N-1, so as each fold commits, everything older than the newest
  *    snapshot ≤ N-1 (snapshots before it, deltas up to it) is deleted —
  *    the long-running service holds at most two snapshots plus
  *    `snapshotEvery` deltas at any stream length.
  *
  * Scale shape per fold: the batch is read once and kept on the driver
  * as a local relation (it is broadcast anyway). The batch-vs-corpus
  * candidate step ([[Similarity.cosineNearDupPairsAgainst]]) broadcasts
  * the batch's vectors, norms and probed signatures and reads
  * corpus ∪ batch in ONE map-side pass that applies the exact cosine gate
  * in place: the corpus is scanned, never shuffled, and only gated pairs
  * leave the pass. The connected components are SCOPED to the affected
  * subgraph ([[Dedup.incrementalComponentAssignmentsScopedParts]]): the
  * gated pairs, the affected cluster ids and their member rows are each
  * collected once (broadcast-free filtered scans of the reconstructed
  * prior), union-find closes them on the driver, and untouched prior
  * clusters pass through verbatim; the state write is the recomputed
  * DELTA alone. A fold is therefore about eight Spark jobs (batch read,
  * broadcast, pair scan, two prior scans, state write, batch write, and
  * the compaction write when due) and shuffles only the delta rows of its
  * prior's reconstruction, whatever the corpus size (spec-gated: per-fold
  * shuffle and task-result bytes equal at corpora of N and 8N). The corpus terms are the sequential scans —
  * the pair scan's signatures and gate dots, the prior scans, the
  * amortized 1/snapshotEvery snapshot write and 1/compactEvery
  * compaction — and the gate's dot count: |batch| x |corpus ∪ batch| x
  * the geometry's collision rate for a random pair,
  * 1 − (1 − Σ_{i≤r} C(k,i)/2^k)^T (k planes, radius r, T tables):
  * ≈ 0.9975 at the default 4/16/1, so on near-random embeddings a fold
  * computes about |batch| x |corpus| dot products; ≈ 8·10⁻⁶ at 18/2/0.
  * Above `Dedup.localComponentsBound` rows per batch-sized frame the CC
  * falls back to checkpointed frames and distributed rounds.
  */
object ClusterMaintenance {

  /** `numTables = 16` matches the configuration every gated oracle
    * certifies (q103/q104 and the service soak) — a caller accepting the
    * defaults gets exactly the recall the correctness gates measure.
    * `compactEvery = 8`: consolidate the corpus once the latest committed
    * generation trails the fold by this many batch dirs (≤ 0 disables).
    * `snapshotEvery = 8`: write a full-coverage snapshot once the newest
    * snapshot trails the fold by this many deltas; in between, folds write
    * batch-proportional deltas only. `≤ 1` restores the legacy
    * snapshot-every-fold layout. Reconstruction is exact at every cadence
    * — the knob trades per-fold write volume against read-side merge
    * fan-in, never results. Every fold runs its component closure on the
    * AFFECTED subgraph only
    * ([[Dedup.incrementalComponentAssignmentsScopedParts]]), so the
    * iterative CC cost tracks the batch, not the corpus. */
  final case class Config(threshold: Double = 0.35, numPlanes: Int = 4,
                          dim: Int = 64, probeRadius: Int = 1,
                          numTables: Int = 16, compactEvery: Int = 8,
                          snapshotEvery: Int = 8)

  /** Fold one ingest batch — (idCol: integral, vecCol: array<float>) —
    * into the versioned state. Reads the assignment as of fold
    * `batchId-1` and the accumulated corpus (latest committed generation +
    * later batch dirs); writes `stateDir/v=$batchId` (snapshot folds) or
    * `stateDir/d=$batchId`, then `corpusDir/b=$batchId`; deletes the state
    * dirs retention no longer needs; compacts the corpus when the
    * generation lag reaches `cfg.compactEvery`. */
  def foldBatch(batch: DataFrame, batchId: Long,
                stateDir: String, corpusDir: String,
                idCol: String, vecCol: String,
                cfg: Config = Config()): Unit = {
    val b0 = batch.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("embedding"))
    val sess = batch.sparkSession
    val hconf = sess.sparkContext.hadoopConfiguration
    val cpath = new Path(corpusDir)
    val fs = cpath.getFileSystem(hconf)
    val spath = new Path(stateDir)
    val sfs = spath.getFileSystem(hconf)
    // the ENFORCED half of the takedown quiesce contract: a rebuild in
    // progress (or crashed mid-run) holds the `_REBUILD` lease, and a
    // fold racing it could read a mid-swap generation or commit a batch
    // dir the rebuild's sweep then deletes — fail fast instead
    StateProtocol.requireNoRebuildLease(sfs, spath, "ClusterMaintenance.foldBatch")
    // the accumulated assignment is joinable only under the SEMANTIC
    // config that built it (threshold + LSH candidate geometry decide
    // which pairs were adopted, and adoption is forever) — validate the
    // `_CLCONF` stamp before reading anything; a mismatch fails loudly
    // prescribing the rebuild recompute, never a sweep (the state IS
    // the record)
    ensureClusterConfig(sfs, spath, cfg)
    val gen = StateProtocol.latestGeneration(fs, cpath, maxGen = batchId - 1)
    val batchParts =
      ((gen.getOrElse(-1L) + 1) until batchId).map(i => s"$corpusDir/b=$i")
    // fold-side read gate (the generation is _SUCCESS-gated by
    // latestGeneration): a torn prior b=i would read as EMPTY parquet and
    // this fold's near-dup pass would silently miss batch i's whole
    // corpus contribution — fail fast naming the replay instead
    StateProtocol.requireCommitted(fs, batchParts,
      "ClusterMaintenance.foldBatch",
      "a prior fold crashed mid-write; replay that fold first (its keyed " +
        "overwrite converges), then fold later batches")
    // The batch is read ONCE: collected to the driver (the candidate step
    // broadcasts it, so it must fit there anyway), it feeds the broadcast,
    // the new-id set and the b= write as a local relation
    val b = sess.createDataFrame(java.util.Arrays.asList(b0.collect(): _*), b0.schema)
    val corpusParts = gen.map(g => s"$corpusDir/gen=$g").toSeq ++ batchParts
    val corpus =
      if (corpusParts.isEmpty) b.limit(0)
      else sess.read.schema(b.schema).parquet(corpusParts: _*)
    val prior =
      if (batchId == 0)
        b.limit(0).select(col("vec_id").as("id"),
          col("vec_id").as("cluster_id"),
          lit(1L).as("cluster_size"), lit(1).as("is_canonical"))
      else reconstructAssignment(sess, stateDir, upTo = batchId - 1)
    // batch × (corpus ∪ batch) candidates: the batch's signatures probe
    // the multi-table buckets recomputed from the corpus vectors
    val pairs = Similarity.cosineNearDupPairsAgainst(b, corpus,
      "vec_id", "embedding", threshold = cfg.threshold,
      numPlanes = cfg.numPlanes, dim = cfg.dim,
      probeRadius = cfg.probeRadius, numTables = cfg.numTables)
    val lastSnap = StateProtocol.committedDirs(sfs, spath, "v=")
      .filter(_ <= batchId - 1).reduceOption(_ max _)
    // Snapshot folds write full coverage; in between, the scoped fold's
    // recomputed half alone IS the exact change set (see
    // incrementalComponentAssignmentsScopedParts) and is all that hits
    // disk — the batch-proportional state write. Fold 0 always snapshots
    // (its delta is full coverage anyway, and it anchors reconstruction);
    // lastSnap ≤ batchId-1, so snapshotEvery ≤ 1 snapshots every fold.
    val snapshotFold = batchId == 0 ||
      batchId - lastSnap.getOrElse(-1L) >= cfg.snapshotEvery
    val (untouched, rec) = Dedup.incrementalComponentAssignmentsScopedParts(
      prior, b.select(col("vec_id")), "vec_id", pairs, "id_a", "id_b")
    if (snapshotFold)
      untouched.unionByName(rec)
        .write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    else rec.write.mode("overwrite").parquet(s"$stateDir/d=$batchId")
    // the corpus batch lands AFTER the state commit above (the rebuild's
    // state-before-corpus coverage check); a crash between the two
    // leaves a torn or missing b= that the fold-side gate reports and a
    // replay overwrites. One file, as the batch's own scan wrote: a local
    // relation spans up to defaultParallelism partitions.
    b.coalesce(1).write.mode("overwrite").parquet(s"$corpusDir/b=$batchId")
    // Retention: keep exactly what a replay of THIS fold or the next one
    // needs — the newest snapshot ≤ batchId-1 and the deltas after it
    // (reconstruction at batchId-1), plus whatever this fold just wrote.
    // Everything at or before that snapshot is garbage. With
    // snapshotEvery ≤ 1 this reduces to the legacy delete of v=batchId-2.
    lastSnap.foreach { pv =>
      sfs.listStatus(spath).map(_.getPath.getName).foreach { nm =>
        if (StateProtocol.numericSuffix(nm, "v=").exists(_ < pv) ||
            StateProtocol.numericSuffix(nm, "d=").exists(_ <= pv))
          sfs.delete(new Path(s"$stateDir/$nm"), true)
      }
    }
    // Compact AFTER the fold's own commits, consolidating exactly the
    // corpus this fold just read (batches 0..batchId-1 — never b=batchId,
    // so a replay of THIS fold still finds a generation ≤ batchId-1 and
    // reads a corpus that excludes its own batch). The write re-reads the
    // same paths once — one extra corpus read+write per compactEvery
    // folds, amortized O(1/compactEvery) per fold.
    if (cfg.compactEvery > 0 &&
        (batchId - 1) - gen.getOrElse(-1L) >= cfg.compactEvery) {
      val newGen = batchId - 1
      // the sweep below runs only after the generation commits, so no
      // source dir is deleted under a concurrent reader
      corpus.write.mode("overwrite").parquet(s"$corpusDir/gen=$newGen")
      StateProtocol.sweepSuperseded(fs, cpath, newGen)
    }
  }

  /** Takedown / retraction escape hatch: both service contracts are
    * APPEND-ONLY (gram counts and cluster edges are never decremented),
    * so removing documents — takedowns, re-crawl supersessions — is an
    * explicit OFFLINE rebuild, not a fold. This recomputes the assignment
    * from scratch over the accumulated corpus MINUS the tombstoned ids
    * (the same pruned pair generator + full-coverage CC every fold and
    * gate certifies), overwrites the head version `v=V` in place, rewrites
    * the corpus as a single filtered generation `gen=V`, and sweeps the
    * superseded dirs. Afterwards the stream resumes unchanged: the next
    * fold (batchId = V+1) reads the rebuilt v=V and gen=V, and the
    * incremental==full theorem applies to the filtered corpus exactly as
    * before (removal preserves the append-only-id discipline).
    *
    * Cost: one full recompute over the retained corpus — O(corpus) by
    * design (this is the documented price of a retraction against
    * append-only state, paid per takedown batch, not per fold).
    *
    * Crash contract: every step is a keyed overwrite of DERIVED state
    * (the filtered corpus is staged to a hidden temp dir and renamed over
    * the generation, so no committed dir is ever half-written), but a
    * crash BETWEEN steps can leave the assignment rebuilt while the
    * corpus still holds tombstoned vectors (or a torn v=V that readers
    * resolve to the stale v=V−1) — the recovery is simply to RE-RUN the
    * rebuild with the same tombstones; it converges.
    *
    * Quiesce contract, ENFORCED: the rebuild takes the `_REBUILD` lease
    * ([[StateProtocol.acquireRebuildLease]]) before its first slow or
    * destructive step and releases it only on success; every [[foldBatch]]
    * fails fast while it is held. A crash mid-rebuild leaves the lease in
    * place deliberately — in that window the state can be internally
    * inconsistent (e.g. assignment rebuilt while the corpus still holds
    * tombstoned vectors, whose pairs a fold would adopt back into state),
    * so folds stay blocked until the re-run converges and releases it.
    * Acquisition is EXCLUSIVE: a second rebuild started while one is live
    * fails loudly (two interleaved sweep/swap windows would corrupt the
    * state undetected); the crashed-rebuild re-run is the explicit
    * `resumeCrashedRebuild = true` path — the operator's declaration that
    * no other rebuild is running.
    * Corpus batch dirs are read COMMITTED-only with full coverage
    * required: a b=N missing its `_SUCCESS` while the state head is fold
    * ≥ N means a fold crashed between its state and corpus commits, and
    * the rebuild fails loudly (replay that fold first) rather than baking
    * the loss of batch N into the rebuilt generation. */
  def rebuildWithoutTombstones(spark: SparkSession, stateDir: String,
                               corpusDir: String, tombstones: DataFrame,
                               idCol: String,
                               cfg: Config = Config(),
                               resumeCrashedRebuild: Boolean = false): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val spath = new Path(stateDir)
    val sfs = spath.getFileSystem(hconf)
    // recover an interrupted PRIOR rebuild's STATE swap before deriving the
    // head: a crash between its aside and its swap-in leaves `.v=N.old`
    // holding the only committed assignment — without the restore, the head
    // would resolve one fold low (or nothing at all) and the re-run would
    // silently rebuild at the wrong fold
    StateProtocol.restoreAsides(sfs, spath, "v=")
    // the head FOLD is the newest snapshot or delta — under the delta
    // layout the last fold usually wrote d=N, and rebuilding "as of v="
    // alone would silently drop the batches folded since the snapshot
    val versions = StateProtocol.committedDirs(sfs, spath, "v=") ++
      StateProtocol.committedDirs(sfs, spath, "d=")
    require(versions.nonEmpty,
      s"rebuildWithoutTombstones: no committed assignment version under $stateDir")
    val v = versions.max
    val cpath = new Path(corpusDir)
    val cfs = cpath.getFileSystem(hconf)
    // recover an interrupted PRIOR rebuild's swap before reading: a crash
    // (or failed rename) between its aside and its swap-in leaves
    // `.gen=N.old` holding the only corpus copy — restore it so this run
    // reads the pre-takedown corpus; a committed gen=N makes the aside a
    // superseded leftover to discard. This is what makes "re-running the
    // rebuild converges" true in every crash window.
    StateProtocol.restoreAsides(cfs, cpath, "gen=")
    val gen = StateProtocol.latestGeneration(cfs, cpath, maxGen = v)
    // COMMITTED batch dirs only, with full coverage REQUIRED: a fold
    // commits its state (v=/d=N) before its corpus batch (b=N), so with
    // head fold v every b=N in (gen, v] must carry a _SUCCESS marker — a
    // missing or torn one means a fold crashed between its state and
    // corpus commits, and rebuilding over it would bake the loss of batch
    // N's rows into gen=$v permanently (the sweep deletes the originals).
    // Fail loudly instead: replaying fold N (the stream's checkpoint
    // replay does) repairs both dirs, after which the rebuild can run.
    val bDirs = StateProtocol.committedDirs(cfs, cpath, "b=")
      .filter(b => b > gen.getOrElse(-1L) && b <= v).sorted
    val missing = ((gen.getOrElse(-1L) + 1) to v).filterNot(bDirs.toSet)
    require(missing.isEmpty,
      s"rebuildWithoutTombstones: corpus batch dir(s) " +
        s"${missing.map(b => s"b=$b").mkString(", ")} under $corpusDir are " +
        s"missing or uncommitted while the state head is fold $v — a fold " +
        "crashed between its state and corpus commits; replay that fold " +
        "(resume the stream from its checkpoint) before the takedown rebuild")
    val parts = gen.map(g => s"$corpusDir/gen=$g").toSeq ++
      bDirs.map(b => s"$corpusDir/b=$b")
    require(parts.nonEmpty,
      s"rebuildWithoutTombstones: no corpus state under $corpusDir")
    // every precondition holds — take the rebuild LEASE before the first
    // slow or destructive step, so folds fail fast for the whole window
    // (recount included: a batch committed mid-recount would be invisible
    // to the rebuilt generation and then swept — silent loss). Released
    // only on success; a crash leaves it held so folds stay blocked until
    // the re-run converges.
    StateProtocol.acquireRebuildLease(sfs, spath, takeover = resumeCrashedRebuild)
    val corpus = spark.read.parquet(parts: _*)
    val dropIds = tombstones.select(col(idCol).cast("long").as("vec_id")).distinct()
    Snapshot.scoped(corpus.join(dropIds, Seq("vec_id"), "left_anti")) { keep =>
      // stage the filtered corpus and recompute the assignment CONCURRENTLY
      // (guide §2.6): both consume only the `keep` snapshot (and the old
      // dirs, untouched until the swaps below), both land in HIDDEN tmp
      // dirs no reader resolves, and the swaps run only after both commit —
      // the crash contract is unchanged (a crash leaves tmp dirs the re-run
      // overwrites). The corpus stage is I/O-bound while the CC recompute
      // is driver/stage-latency-bound, so they overlap almost fully.
      val tmp = new Path(s"$corpusDir/.gen=$v.rebuild")
      val pairs = Similarity.cosineNearDupPairs(keep, "vec_id", "embedding",
        threshold = cfg.threshold, numPlanes = cfg.numPlanes, dim = cfg.dim,
        probeRadius = cfg.probeRadius, numTables = cfg.numTables)
      // the head snapshot gets the SAME aside treatment as the corpus
      // generation below — an in-place overwrite of v=$v would destroy the
      // only committed assignment for the crash window between the delete
      // and the rewrite's _SUCCESS, leaving the prescribed re-run to
      // resolve a stale head (or none at all) and bake the loss in
      val stateTmp = new Path(s"$stateDir/.v=$v.rebuild")
      StateProtocol.parallelJobs(
        () => keep.write.mode("overwrite").parquet(tmp.toString),
        () => Dedup.componentAssignments(keep.select(col("vec_id")), "vec_id",
            pairs, "id_a", "id_b")
          .write.mode("overwrite").parquet(stateTmp.toString))
      val stateFin = new Path(s"$stateDir/v=$v")
      val stateAside = new Path(s"$stateDir/.v=$v.old")
      StateProtocol.swapIn(sfs, stateFin, stateAside, stateTmp,
        "rebuildWithoutTombstones")
      StateProtocol.discardAside(sfs, stateAside)
      // re-stamp the semantic config AFTER the state swap committed: the
      // rebuild is the one writer allowed to CHANGE it (a full recompute
      // from the retained corpus is valid under any config), and stamping
      // after the swap means a crash in the window leaves stamp=old over
      // new state — harmless, because folds stay blocked behind the held
      // lease until this very re-run converges and re-stamps — never the
      // reverse window, where a new-config stamp over old-config state
      // would wave mismatched folds through
      StateProtocol.writeStamp(sfs, spath, "_CLCONF", clusterFingerprint(cfg))
      // Swap via ASIDE, never delete-then-rename ([[StateProtocol.swapIn]]):
      // the old generation is moved aside (not destroyed) until the rebuilt
      // one commits, so a crash or a failed rename at any point leaves
      // either the committed old corpus or a restorable aside — the
      // restoreAsides pass above makes the re-run converge from both.
      val fin = new Path(s"$corpusDir/gen=$v")
      val aside = new Path(s"$corpusDir/.gen=$v.old")
      StateProtocol.swapIn(cfs, fin, aside, tmp, "rebuildWithoutTombstones")
      StateProtocol.discardAside(cfs, aside)
      StateProtocol.sweepSuperseded(cfs, cpath, v)
      // the rebuilt v=$v snapshot supersedes every older snapshot AND all
      // deltas ≤ v (reconstruction only applies deltas newer than the
      // latest snapshot, so these are dead weight at best and, for a
      // half-swept dir, confusing at worst)
      val staleState = sfs.listStatus(spath).map(_.getPath.getName).filter { nm =>
        StateProtocol.numericSuffix(nm, "v=").exists(_ < v) ||
          StateProtocol.numericSuffix(nm, "d=").exists(_ <= v)
      }
      staleState.foreach(nm => sfs.delete(new Path(s"$stateDir/$nm"), true))
      StateProtocol.releaseRebuildLease(sfs, spath)
    }
    spark.read.parquet(s"$stateDir/v=$v")
  }

  /** The cluster-state SEMANTIC config fingerprint persisted beside the
    * assignment state (`_CLCONF`): the threshold and the full LSH
    * candidate geometry (planes/dim/probeRadius/tables) together determine
    * WHICH near-dup pairs each fold finds and adopts, and adopted pairs
    * live in the accumulated assignment forever — so state folded under
    * one config is NOT the state the oracle identity ("fold sequence
    * equals the full recompute under the same config") describes for
    * another. Without the stamp, a service restarted with, say, a
    * tightened threshold keeps every looser-threshold cluster it ever
    * merged, and the drift is silent and permanent.
    * `compactEvery`/`snapshotEvery` are deliberately excluded:
    * layout/cadence knobs with spec-pinned result identity. A sweep is
    * meaningless here; the only honest answers to a mismatch are the
    * original config or the rebuild recompute. */
  private def clusterFingerprint(cfg: Config): String =
    s"threshold=${cfg.threshold},planes=${cfg.numPlanes},dim=${cfg.dim}," +
      s"probe=${cfg.probeRadius},tables=${cfg.numTables}"

  /** Validate (or establish) the `_CLCONF` stamp before a fold touches the
    * state — the exact [[SpanDedupMaintenance.ensureGramConfig]] contract,
    * cluster-side: match → no-op; mismatch over COMMITTED state (any
    * `v=`/`d=` dir) → fail loudly prescribing the original config or a
    * [[rebuildWithoutTombstones]] recompute with no tombstones under the
    * new one (the rebuild is the one writer allowed to change the stamp:
    * it recomputes from the retained corpus, so any config is valid);
    * mismatch over NO committed state → re-stamp (nothing to protect);
    * missing stamp → adopt the configured fingerprint (the first fold, or
    * the pre-stamp upgrade window where the dirs' config is unknowable
    * after the fact — recorded so every LATER change is caught). */
  private[jobs] def ensureClusterConfig(fs: FileSystem, statePath: Path,
                                        cfg: Config): Unit = {
    val fp = clusterFingerprint(cfg)
    StateProtocol.ensureStamp(fs, statePath, "_CLCONF", fp,
      hasCommittedState =
        StateProtocol.committedDirs(fs, statePath, "v=").nonEmpty ||
          StateProtocol.committedDirs(fs, statePath, "d=").nonEmpty
    ).foreach { stamped =>
      throw new IllegalStateException(
        s"ClusterMaintenance: the assignment state under $statePath was " +
          s"built with [$stamped] but this service is configured with " +
          s"[$fp] — pairs are found and adopted under the configured " +
          "threshold/LSH geometry and live in the accumulated assignment " +
          "forever, so folding on would silently drift the state away " +
          "from the full-recompute identity. Either restore the original " +
          s"[$stamped], or run rebuildWithoutTombstones with no " +
          "tombstones under the new config — it recomputes the " +
          "assignment from the retained corpus and re-stamps.")
    }
  }

  /** The contiguous committed delta chain starting at `from` (bounded by
    * `upTo`) — THE resolution rule readers and [[status]] share: the walk
    * stops at the first gap, which under the crash model (only the newest
    * write can tear) is the torn write readers must not see. */
  private def committedDeltaChain(fs: FileSystem, stateDir: String,
                                  from: Long, upTo: Long = Long.MaxValue): Seq[Long] =
    Iterator.iterate(from)(_ + 1)
      .takeWhile(n => n <= upTo &&
        fs.exists(new Path(s"$stateDir/d=$n/_SUCCESS")))
      .toSeq

  private val AssignSchema = "id long, cluster_id long, cluster_size long, is_canonical int"

  /** The full-coverage assignment as of fold `upTo` (or the newest state
    * on disk with the default), reconstructed from the newest committed
    * snapshot ≤ upTo plus the contiguous committed deltas after it,
    * latest-fold-wins per id. Exactness rides on the delta contract
    * ([[Dedup.incrementalComponentAssignmentsScopedParts]]): a delta's id
    * set is exactly the rows its fold superseded or created, so an id's
    * newest occurrence across (snapshot, deltas) IS its current row.
    *
    * Scale shape: the snapshot enters as a SCAN into a broadcast anti-join
    * against the (batch-proportional × ≤ snapshotEvery) delta id set; only
    * delta rows shuffle for the within-delta winner pick. Torn dirs are
    * invisible (`_SUCCESS` gating), and the delta walk stops at the first
    * gap — a crash can only tear the newest write, so the walk resolves to
    * the last complete fold. */
  private[jobs] def reconstructAssignment(spark: SparkSession, stateDir: String,
                                          upTo: Long = Long.MaxValue): DataFrame = {
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = StateProtocol.committedDirs(fs, p, "v=").filter(_ <= upTo)
    require(snaps.nonEmpty,
      s"ClusterMaintenance: no committed assignment version under $stateDir " +
        "(the service has not completed any fold — or the dir is wrong)")
    val s = snaps.max
    val base = spark.read.schema(AssignSchema).parquet(s"$stateDir/v=$s")
    val deltas = committedDeltaChain(fs, stateDir, from = s + 1, upTo = upTo)
    // With the open-ended default, stopping at the first gap IS the
    // semantics (the gap is the torn newest write). With a finite upTo —
    // the fold's read-prior path — the chain MUST reach upTo: every fold
    // ≤ upTo committed before this one started, so a gap means lost state.
    require(upTo == Long.MaxValue || deltas.lastOption.getOrElse(s) == upTo,
      s"ClusterMaintenance: assignment state under $stateDir has no " +
        s"complete chain to fold $upTo (snapshot v=$s, deltas to " +
        s"${deltas.lastOption.getOrElse(s)})")
    if (deltas.isEmpty) base
    else {
      val all = deltas.map(n =>
          spark.read.schema(AssignSchema).parquet(s"$stateDir/d=$n")
            .withColumn("__fold", lit(n)))
        .reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("__fold").desc)
      val winners = all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "__fold")
      base.join(winners.select("id"), Seq("id"), "left_anti")
        .unionByName(winners)
    }
  }

  /** The newest complete assignment under `stateDir` (bounded directory
    * listing — retention holds at most two snapshots plus `snapshotEvery`
    * deltas). Snapshot-or-delta dirs without a `_SUCCESS` marker are
    * skipped: a crash mid-overwrite must resolve to the previous complete
    * fold, not a torn parquet dir. An empty or never-committed state dir
    * raises a clear error instead of an opaque empty-collection failure. */
  def latestAssignment(spark: SparkSession, stateDir: String): DataFrame =
    reconstructAssignment(spark, stateDir)

  /** Operational snapshot of the service's on-disk state — what an on-call
    * operator checks before/after a fold, a takedown, or an incident.
    * `headFold` is the fold `latestAssignment` resolves (newest committed
    * snapshot plus its contiguous delta chain — the same walk, so a torn
    * newest write is reported at the fold readers actually see). All
    * listings are COMMITTED (`_SUCCESS`-gated) dirs only, and all are
    * bounded by retention/compaction, never by stream length.
    * `rebuildInProgress` reports the `_REBUILD` lease on the state dir —
    * a crashed rebuild deliberately leaves it held, so this is the one
    * field that explains every fold failing after an incident, and the
    * check an operator makes BEFORE resuming the stream. `configStamp`
    * reports the `_CLCONF` semantic stamp the assignment was built under
    * (threshold + LSH candidate geometry) — the fact an operator checks
    * before restarting the service with a given `Config` (None =
    * pre-stamp layout; the next fold adopts and stamps its configured
    * fingerprint). */
  final case class Status(headFold: Long, snapshots: Seq[Long],
                          deltas: Seq[Long], corpusGeneration: Option[Long],
                          corpusBatches: Seq[Long],
                          rebuildInProgress: Boolean,
                          configStamp: Option[String])

  def status(spark: SparkSession, stateDir: String, corpusDir: String): Status = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val spath = new Path(stateDir)
    val sfs = spath.getFileSystem(hconf)
    val cpath = new Path(corpusDir)
    val cfs = cpath.getFileSystem(hconf)
    val snaps = StateProtocol.committedDirs(sfs, spath, "v=").sorted.toSeq
    require(snaps.nonEmpty,
      s"ClusterMaintenance.status: no committed snapshot under $stateDir")
    val chain = committedDeltaChain(sfs, stateDir, from = snaps.max + 1)
    val cgen = StateProtocol.latestGeneration(cfs, cpath, maxGen = Long.MaxValue)
    // batch listings are post-generation only (what readers actually
    // consume — same semantics as SpanDedupMaintenance.status): dirs at or
    // below the generation are sweep leftovers every reader already ignores
    Status(
      headFold = chain.lastOption.getOrElse(snaps.max),
      snapshots = snaps,
      deltas = StateProtocol.committedDirs(sfs, spath, "d=").sorted.toSeq,
      corpusGeneration = cgen,
      corpusBatches = StateProtocol.committedDirs(cfs, cpath, "b=").sorted.toSeq
        .filter(_ > cgen.getOrElse(-1L)),
      rebuildInProgress = sfs.exists(StateProtocol.rebuildLeasePath(spath)),
      configStamp = StateProtocol.readStamp(sfs, spath, "_CLCONF"))
  }
}
