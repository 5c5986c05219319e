package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions.vec_dot

/** Approximate-nearest-neighbor / similarity search over embedding columns.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * stream the corpus once, per-partition heap via TakeOrdered semantics
  * (row_number window per query). Dot products are `zip_with`+`aggregate`
  * column expressions (codegen'd, deterministic left-to-right fold — no
  * reduction-order nondeterminism).
  *
  * Scale path: LSH bucketing via random hyperplane signs (`rpSignature`) —
  * corpus hashed once, queries probe only their bucket, turning the scan into
  * an inverted-index join; the 100 TB variant of similarity search. How much
  * a geometry prunes is its collision rate (see `MultiTableLsh`): on
  * near-random embeddings the 16x4-bit radius-1 geometry still makes
  * ≈ 0.9975 of all pairs candidates.
  */
object Similarity {

  /** Left-to-right dot product of two array columns, computed in double.
    * When `dim` is known, statically unrolled into 64 codegen'd multiply-adds
    * (HOF lambdas run interpreted — measured ~10x slower in the hot path);
    * the fold order matches the dynamic form, so results are bit-identical. */
  def dot(a: Column, b: Column, dim: Int = -1): Column =
    if (dim > 0)
      (0 until dim).map(i =>
        element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double"))
        .reduce(_ + _)
    else
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity between two float-array columns (computed in double).
    * A zero-norm side has no direction, so the cosine is NULL (try_divide)
    * rather than an ANSI DIVIDE_BY_ZERO that would abort the whole job on
    * one zero vector; non-zero rows execute the identical IEEE division. */
  def cosine(a: Column, b: Column, dim: Int = -1): Column =
    try_divide(dot(a, b, dim), sqrt(dot(a, a, dim)) * sqrt(dot(b, b, dim)))

  /** Brute-force cosine top-k: for each row of `queries` (qid, qvec), the `k`
    * nearest corpus rows (id, vec) by cosine, self-matches excluded, ties
    * broken by corpus id. Queries are broadcast — corpus is streamed once
    * with no shuffle; the only shuffle is the final per-query top-k window.
    * Norms are computed once per side (not per pair); the per-pair work is
    * one dot product + one division — identical arithmetic to
    * dot/(norm_a*norm_b) per pair, so oracle results are unchanged. */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qidCol: String, qvecCol: String,
                 k: Int): DataFrame = {
    // spread: the per-corpus-row work below is |queries| dots, not bytes
    val c = normed(Parallelism.spread(corpus, idCol), idCol, vecCol, CorpusSide)
    val q = normed(queries, qidCol, qvecCol, QuerySide)
    rankTopK(c.crossJoin(broadcast(q)).filter(col("id") =!= col("qid")), k)
  }

  // the (key, vector, norm) names of the two sides of a top-k search
  private val CorpusSide = ("id", "vec", "cnorm")
  private val QuerySide = ("qid", "qvec", "qnorm")

  /** `df`'s `idCol` and `vecCol` renamed to `names` (key, vector, norm),
    * norm = sqrt(vec_dot(v, v)) — the native VectorDot expression
    * (graft.plans): tight codegen'd loop, bit-identical accumulation order.
    * `extra` columns sit between the vector and the norm.
    *
    * Rows whose norm is zero are DROPPED: cosine is UNDEFINED for a
    * zero-norm vector (no direction), and under ANSI mode (this engine's
    * default) the norm-product division would abort the entire job on the
    * FIRST zero vector in a 100 TB corpus (a failed encoder emitting
    * all-zero embeddings is a routine dirty input). Excluding them here
    * keeps every score expression's arithmetic byte-for-byte unchanged
    * for real vectors — oracle replays are unaffected — and gives the
    * principled semantics: a direction-less vector is nobody's neighbor
    * and has no neighbors. (A null vector stays null through the norm and
    * is dropped by the same predicate.) */
  private def normed(df: DataFrame, idCol: String, vecCol: String,
                     names: (String, String, String), extra: Column*): DataFrame = {
    val (id, vec, norm) = names
    df.select((Seq(col(idCol).as(id), col(vecCol).as(vec)) ++ extra :+
        sqrt(vec_dot(col(vecCol), col(vecCol))).as(norm)): _*)
      .filter(col(norm) > 0)
  }

  /** The one top-k step: score (qid, id) rows carrying both sides' vectors
    * and norms (the [[CorpusSide]] / [[QuerySide]] names) by exact cosine,
    * then keep each query's `k` best by (cos desc, id asc). */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(col("qid"), col("id"),
      (vec_dot(col("qvec"), col("vec")) / (col("qnorm") * col("cnorm"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The exact cosine gate of [[cosineNearDupPairs]]: join both ends'
    * vectors of each candidate (id_a, id_b) back from `v` (id, vec, norm)
    * and keep cos >= threshold. Zero-norm rows are already out of `v` (see
    * [[normed]]), so the inner joins drop their pairs. */
  private def cosineGate(pairs: DataFrame, v: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(v.select(col("id").as("id_a"), col("vec").as("va"), col("norm").as("na")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("vec").as("vb"), col("norm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)

  /** Random-hyperplane sign signature (for cosine LSH): `planes` is a fixed
    * Seq of unit-ish vectors; output = bit-packed sign pattern as long.
    * The input vector's length is CHECKED per row against the plane
    * dimension: a vector shorter or longer than the planes raises a
    * runtime error instead of silently signing a partial dot (VectorDot
    * takes a min-length dot, so a ragged corpus would otherwise hash short
    * rows by a truncated projection — different buckets than any oracle
    * replay expects). Full-length vectors pay one `size()` comparison. */
  def rpSignature(vec: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 63)
    val planeDim = planes.head.length
    require(planes.forall(_.length == planeDim),
      "rpSignature: all hyperplanes must share one dimension")
    // Native VectorDot against a SINGLE array literal per plane: one
    // expression node each (a runtime loop in codegen — no planes x dim
    // unroll, so no janino method-size risk), identical left-to-right
    // double accumulation to the HOF fold it replaces, so for any
    // full-length vector every sign decision — hence every signature and
    // every oracle replay — is unchanged.
    // The node-count matters beyond speed: a per-element
    // literal tree here (64 planes x 64 lit nodes + HOF machinery) made
    // every downstream analyzer/optimizer pass O(tree) — measured as
    // multi-second DRIVER cost per action on plans that carried the
    // signature stage (q104's per-batch folds).
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(vec_dot(vec, typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    // CASE WHEN evaluates lazily, so conforming rows never touch a
    // raise_error branch and the signature arithmetic is untouched. The
    // null case is tested FIRST and carries its own message: size(null)
    // is null, so without the explicit branch the length error would
    // raise with a NULL-concatenated (unreadable) message.
    when(vec.isNull, raise_error(
        lit(s"rpSignature: null vector (expected $planeDim-dim array)")))
      .when(size(vec) === lit(planeDim), bits.reduce(_.bitwiseOR(_)))
      .otherwise(raise_error(concat(
        lit(s"rpSignature: expected a $planeDim-dim vector, got length "),
        size(vec).cast("string"))))
  }

  /** IVF(-flat) approximate top-k: the corpus is coarse-quantized into
    * `nlist` inverted lists (deterministic seed vectors + `iters` Lloyd
    * steps, all as DataFrame ops — only the nlist x dim centroid table ever
    * reaches the driver); each query probes its `nprobe` nearest lists and
    * re-ranks exactly. Cost per query scans ~nprobe/nlist of the corpus —
    * the classic IVF trade, and the 100 TB path when LSH recall is too
    * vector-distribution-sensitive.
    *
    * Eager: the quantizer is built while the frame is built. The Lloyd
    * iterations read a [[Snapshot]] of the corpus projection, released
    * before returning; the returned plan reads the corpus from source once.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nlist: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    // spread: every Lloyd scan pays nlist centroid dots per row
    val proj = normed(Parallelism.spread(corpus, idCol), idCol, vecCol, CorpusSide)

    def centroidLit(v: Array[Double]): Column =
      array(v.map(x => lit(x.toFloat)): _*)

    // nearest-centroid id by cosine (centroids are broadcast as literals).
    // try_divide: a ZERO centroid (a Lloyd mean can cancel to zero even
    // over non-zero members) scores null — array_max skips nulls, so the
    // row assigns to its best REAL centroid instead of the whole stage
    // dying on an ANSI DIVIDE_BY_ZERO; non-zero centroids execute the
    // identical IEEE division.
    def assign(vecC: Column, normC: Column, cents: Seq[Array[Double]]): Column = {
      val scores = cents.map(ct => try_divide(vec_dot(vecC, centroidLit(ct)),
        normC * lit(math.sqrt(ct.map(x => x * x).sum))))
      val arr = array(scores: _*)
      // fully-degenerate guard: if EVERY centroid is a zero vector, every
      // score is null, array_max is null, array_position(arr, null) is
      // null — and a null cid would silently drop the row from the
      // bucketed probe join (the whole corpus, since degeneracy is
      // row-independent). Fail loudly naming the cause instead; a single
      // zero centroid among real ones still skips via null as before.
      val best = array_max(arr)
      when(best.isNull, raise_error(lit(
          "ivfTopK: every coarse centroid scored null — all centroids are " +
            "zero vectors, the corpus cannot be bucketed (degenerate " +
            "quantizer input; check the embedding column)")))
        .otherwise((array_position(arr, best) - 1).cast("int"))
    }

    // deterministic seeds: the nlist corpus vectors with smallest
    // (xxhash64(id), id) — the id tiebreak makes seed choice exact under
    // task retries even across an xxhash64 collision (the exact variant
    // below always had it; this path previously tied arbitrarily)
    val cents = Snapshot.scoped(proj) { c =>
      var cents: Seq[Array[Double]] = c.orderBy(xxhash64(col("id")), col("id"))
        .limit(nlist)
        .select(col("vec")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
      var it = 0
      while (it < iters) {
        val assigned = c.select(col("vec"), assign(col("vec"), col("cnorm"), cents).as("cid"))
        val means = assigned
          .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("centroid"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
        it += 1
      }
      cents
    }

    val bucketed = proj.select(col("id"), col("vec"), col("cnorm"),
      assign(col("vec"), col("cnorm"), cents).as("cid"))
    probeAndRerank(bucketed, normed(queries, qidCol, qvecCol, QuerySide), cents.map(ct =>
      try_divide(vec_dot(col("qvec"), centroidLit(ct)),
        col("qnorm") * lit(math.sqrt(ct.map(x => x * x).sum)))), nprobe, k)
  }

  /** The IVF query tail shared by [[ivfTopK]] and [[ivfTopKExact]]: each
    * query of `q` (qid, qvec, qnorm, ...) probes the `nprobe` lists with
    * the highest `listScores` (one column per list id, over `q`'s columns;
    * ties to the highest list id), joins the `bucketed` corpus rows (id,
    * vec, cnorm, cid) of those lists, and re-ranks them by exact cosine. */
  private def probeAndRerank(bucketed: DataFrame, q: DataFrame, listScores: Seq[Column],
                             nprobe: Int, k: Int): DataFrame = {
    val qScores = listScores.zipWithIndex.map { case (s, i) => struct(s.as("s"), lit(i).as("cid")) }
    val probes = q.select(col("qid"), col("qvec"), col("qnorm"),
      explode(slice(reverse(array_sort(array(qScores: _*))), 1, nprobe)).as("p"))
      .select(col("qid"), col("qvec"), col("qnorm"), col("p.cid").as("cid"))
    rankTopK(bucketed.join(broadcast(probes), Seq("cid")).filter(col("id") =!= col("qid")), k)
  }

  /** IVF top-k with a BIT-DETERMINISTIC, cross-engine-replayable build —
    * the q60 path. Same structure as `ivfTopK` (coarse quantizer → inverted
    * lists → nprobe lists per query → exact re-rank), but every build step
    * is exact arithmetic, so an independent engine (the DuckDB oracle)
    * replays the ENTIRE k-means + probe + re-rank and gets the same rows:
    *
    *  - the corpus is int8-quantized (`quantizeInt8`: floor-based, exact);
    *  - seeds are the `nlist` rows with smallest (md5-hash32(id), id) — a
    *    pure, engine-independent function of the ids (xxhash64 seeding, as
    *    `ivfTopK` uses, has no ANSI-SQL replay);
    *  - Lloyd "means" are kept as UNNORMALIZED integer sum-vectors + the
    *    implicit count: cosine is scale-invariant, so argmax against S/n
    *    equals argmax against S — no division ever happens, and every dot
    *    against a centroid is exact integer arithmetic carried in doubles
    *    (exact while dim · (127 · cluster)² < 2^53 ⇒ clusters ≲ 4M rows at
    *    dim 64 — grow nlist with the corpus, which IVF wants anyway);
    *  - empty clusters keep their previous sum-vector;
    *  - assignment ties break to the lowest list id, probe-order ties to
    *    the highest (the array_sort(struct) order) — both mirrored by the
    *    oracle's ORDER BY;
    *  - the final candidate re-rank is FULL-precision cosine over the
    *    original vectors (replayable bit-for-bit: `VectorDot` accumulates
    *    in array order, as list_dot_product does).
    */
  def ivfTopKExact(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   k: Int, nlist: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    val md5id = graft.functions.TextFunctions.md5Hash32(col("id").cast("string"))
    // spread: every Lloyd scan pays nlist centroid dots per row
    val proj = normed(Parallelism.spread(corpus, idCol), idCol, vecCol, CorpusSide,
      quantizeInt8(col(vecCol)).as("qv"))

    // exact double literals (components are integers)
    def centLit(s: Array[Double]): Column = array(s.map(lit): _*)
    def centNorm(s: Array[Double]): Double = math.sqrt(s.map(x => x * x).sum)

    // nearest-sum-vector list id: argmax of dot/||S|| (the row's own norm is
    // constant across lists — omitted), first (lowest) list id on ties.
    // try_divide: a sum-vector can cancel to EXACT zero over non-zero
    // members; its score is null (skipped by array_max) instead of an ANSI
    // DIVIDE_BY_ZERO killing the stage — non-zero lists divide identically,
    // so the oracle's replay of the build is unchanged.
    def assign(qvC: Column, cents: Seq[Array[Double]]): Column = {
      val scores = cents.map(s => try_divide(vec_dot(qvC, centLit(s)), lit(centNorm(s))))
      val arr = array(scores: _*)
      (array_position(arr, array_max(arr)) - 1).cast("int")
    }

    val cents = Snapshot.scoped(proj) { c =>
      var cents: Seq[Array[Double]] = c.orderBy(md5id, col("id")).limit(nlist)
        .select(col("qv")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
      var it = 0
      while (it < iters) {
        val sums = c.select(assign(col("qv"), cents).as("cid"),
            posexplode(col("qv")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(sum(col("x").cast("long")).as("sx"))
          .groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
            s => s.getField("sx").cast("double")).as("centroid"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        cents = cents.indices.map(i => sums.getOrElse(i, cents(i)))
        it += 1
      }
      cents
    }

    val bucketed = proj.select(col("id"), col("vec"), col("cnorm"),
      assign(col("qv"), cents).as("cid"))
    val q = normed(queries, qidCol, qvecCol, QuerySide, quantizeInt8(col(qvecCol)).as("qqv"))
    probeAndRerank(bucketed, q, cents.map(s =>
      try_divide(vec_dot(col("qqv"), centLit(s)), lit(centNorm(s)))), nprobe, k)
  }

  /** Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    * cosine >= threshold, candidates from the same multi-table hyperplane
    * bucketing as `lshCosineTopK` — a pair is considered if any table places
    * both rows within `probeRadius` bits of each other — then an exact
    * vec_dot check. The embedding-space member of the dedup family
    * (exact / minhash / simhash / embedding).
    *
    * (numTables=1, probeRadius=numPlanes) makes every pair a candidate —
    * exhaustive, the oracle-checkable configuration. Otherwise about
    * n²/2 x the geometry's collision rate (see [[MultiTableLsh]]) pairs are
    * candidates on near-random vectors: ≈ 0.9975 of all pairs at 4 planes /
    * 16 tables / radius 1 (still O(n²) candidate work), ≈ 8·10⁻⁶ at
    * 18/2/0. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numPlanes: Int, dim: Int,
                         probeRadius: Int = 1, numTables: Int = 8): DataFrame = {
    // spread once, shared by the candidate step and the exact gate
    val cs = Parallelism.spread(corpus, idCol)
    def side(id: String) = cs.select(col(idCol).as(id), col(vecCol).as("vec"))
    val lsh = MultiTableLsh(numPlanes, numTables, dim, probeRadius)
    // spreadEager: the distinct's output is ~16 B/pair, so AQE coalesces it
    // toward one partition — and the exact gate below pays a dim-width dot
    // PER PAIR on those partitions (guide §2: bytes-based coalescing is
    // compute-blind). The exhaustive cross join is already
    // left-side-parallel and skips the exchange. Results are
    // partitioning-independent.
    val cand = lsh.distinctHits(
      lsh.candidates(side("id_a"), side("id_b"), shipQuery = false)
        .filter(col("id_a") < col("id_b")).select(col("id_a"), col("id_b")),
      Parallelism.spreadEager(_, "id_a"))
    cosineGate(cand, normed(cs, idCol, vecCol, ("id", "vec", "norm")), threshold)
  }

  /** Embedding-cosine near-dup pairs of a NEW BATCH against an accumulated
    * corpus — every returned pair touches a batch row (batch × corpus and
    * batch × batch; no corpus × corpus pair is returned). This is the
    * candidate generator behind
    * [[graft.operators.Dedup.incrementalComponentAssignmentsScoped]] and the
    * one [[graft.jobs.ClusterMaintenance]] fold path: its output plus the
    * prior assignment's stars is exactly the connectivity a full recompute
    * would see.
    *
    * Plan: the batch side — ids, vectors, norms and probed signatures —
    * is broadcast, and corpus ∪ batch is read in ONE map-side pass that
    * joins on (t, sig) against it (the cross join when the geometry is
    * exhaustive) and applies the exact cosine gate in place, with
    * [[cosineGate]]'s vec_dot(a, b) / (na * nb) arithmetic (vec_dot is
    * symmetric bit for bit: the same products summed in the same order).
    * Only gated pairs leave the pass; the corpus is never shuffled and no
    * vector is joined back. A pair is emitted once: a bucket join keeps
    * only its hit in the first table the pair collides in (tested last,
    * on rows that passed the gate), and a batch × batch pair, met from
    * both ends, only from its smaller id. The candidate set stays exactly the
    * Hamming-ball predicate of [[MultiTableLsh]] (spec-gated).
    *
    * Cost: one scan of corpus ∪ batch computing every row's signatures
    * and norm, plus |batch| x |corpus ∪ batch| x the geometry's collision
    * rate (see [[MultiTableLsh]]) gate dots — at the service default of
    * 4 planes / 16 tables / radius 1 (rate ≈ 0.9975) that is about
    * |batch| x |corpus| on near-random vectors. The broadcast holds
    * |batch| x numTables x Σ_{i≤r} C(k,i) probe rows, each with its
    * batch vector, so the batch must fit the driver and every executor.
    *
    * Candidate completeness relies on probe-mask SYMMETRY: the multi-table
    * probe set is a Hamming ball, so sig(x) ∈ ball(sig(y)) ⇔
    * sig(y) ∈ ball(sig(x)) — probing only the batch side against the
    * (corpus ∪ batch) bucket table finds every pair the symmetric two-sided
    * probe of [[cosineNearDupPairs]] over the union would (spec-gated
    * equality). Ids must be unique across both frames (append-only
    * discipline); output is (id_a < id_b, cos) like [[cosineNearDupPairs]].
    */
  def cosineNearDupPairsAgainst(batch: DataFrame, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                threshold: Double, numPlanes: Int, dim: Int,
                                probeRadius: Int = 1,
                                numTables: Int = 8): DataFrame = {
    val lsh = MultiTableLsh(numPlanes, numTables, dim, probeRadius)
    def side(df: DataFrame, inBatch: Boolean) =
      df.select(col(idCol).as("id"), col(vecCol).as("vec"), lit(inBatch).as("in_batch"))
    val full = normed(side(corpus, inBatch = false).unionByName(side(batch, inBatch = true)),
      "id", "vec", ("id", "vec", "norm"), col("in_batch"))
    val cos = vec_dot(col("bvec"), col("vec")) / (col("bnorm") * col("norm"))
    lsh.hits(full, normed(batch, idCol, vecCol, ("bid", "bvec", "bnorm")), shipQuery = true)
      .filter(col("bid") =!= col("id") && (!col("in_batch") || col("bid") < col("id")) &&
        cos >= threshold && lsh.firstHit)
      .select(least(col("bid"), col("id")).as("id_a"),
        greatest(col("bid"), col("id")).as("id_b"), cos.as("cos"))
  }

  /** Per-query recall of an ANN result against a ground-truth top-k: for each
    * qid, k = |truth rows|, hits = |ann ∩ truth| on (qid, id), recall =
    * hits/k. Both inputs are (qid, id[, ...]) top-k tables; the join is on the
    * (small) per-query result sets, so this costs nothing next to the searches
    * themselves. This is how the pruned LSH/IVF configurations get a hard
    * driver-checked signal (q59/q60): the searches are fully seeded, so the
    * recall table is deterministic. */
  def topKRecall(truth: DataFrame, ann: DataFrame): DataFrame =
    truth.select(col("qid"), col("id"))
      .join(ann.select(col("qid"), col("id")).withColumn("hit", lit(1)),
        Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0))).as("hits"))
      .select(col("qid"), col("k"), col("hits"),
        round(col("hits").cast("double") / col("k"), 6).as("recall"))

  /** Ranked-retrieval quality per query — MRR and NDCG@k against a
    * binary-relevance truth set: the graded companions of [[topKRecall]]
    * (recall says whether the right results appear in the top k; MRR/NDCG
    * say how HIGH they rank). `ranked` is (qid, id, rank ∈ 1..) — an ANN or
    * BM25 top-k; `truth` is (qid, id). One row per truth qid; a query whose
    * ranked list found nothing relevant (or is empty) scores 0.0 on both.
    *
    * Float discipline: the only sums are per-query over ≤ k terms of
    * 1/log2(rank+1) ∈ (0,1] — round(_,6) on the quotient per the house
    * rule. Ideal DCG is derived from the truth sizes alone (relevant docs
    * stacked at ranks 1..min(|truth|,k)). Like [[topKRecall]], every join
    * is on per-query result sets — negligible next to the searches. */
  def rankMetrics(truth: DataFrame, ranked: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // distinct-ed ONCE and reused for membership and sizes: a duplicated
    // truth row must not double-count a hit's DCG term (via join fan-out)
    // or inflate the ideal
    val truthSet = truth.select(col("qid"), col("id")).distinct()
    val marked = ranked.filter(col("rank") <= k)
      .join(truthSet.withColumn("rel", lit(1)), Seq("qid", "id"), "left")
      .select(col("qid"), col("rank"), coalesce(col("rel"), lit(0)).as("rel"))
    val per = marked.groupBy("qid").agg(
      max(when(col("rel") === 1, lit(1.0) / col("rank"))).as("mrr_raw"),
      sum(when(col("rel") === 1, lit(1.0) / log2(col("rank") + lit(1)))
        .otherwise(lit(0.0))).as("dcg"))
    val ideal = truthSet.groupBy("qid").agg(count(lit(1)).as("nt"))
      .select(col("qid"), explode(sequence(lit(1L), least(col("nt"), lit(k.toLong)))).as("i"))
      .groupBy("qid").agg(sum(lit(1.0) / log2(col("i") + lit(1))).as("idcg"))
    ideal.join(per, Seq("qid"), "left")
      .select(col("qid"),
        round(coalesce(col("mrr_raw"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }

  /** [[rankMetrics]] with GRADED relevance: `truth` carries
    * (qid, id, rel ≥ 0) and DCG uses the standard exponential gain
    * (2^rel − 1) / log2(rank + 1); ideal DCG stacks the highest grades at
    * the top ranks (ties on grade break by id, mirroring the ranked
    * side's determinism rule). Duplicate truth rows collapse to the MAX
    * grade per (qid, id). MRR means "first rank with rel > 0". Binary
    * truth at rel = 1 gives gain 1 — identical numbers to
    * [[rankMetrics]] (spec-gated). A query whose grades are all zero has
    * idcg 0 and scores ndcg 0 rather than dividing by it. */
  def rankMetricsGraded(truth: DataFrame, ranked: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val gain = (c: Column) => pow(lit(2.0), c) - lit(1.0)
    val truthSet = truth
      .select(col("qid"), col("id"), col("rel").cast("double").as("rel"))
      .groupBy("qid", "id").agg(max(col("rel")).as("rel"))
    val marked = ranked.filter(col("rank") <= k)
      .join(truthSet, Seq("qid", "id"), "left")
      .select(col("qid"), col("rank"), coalesce(col("rel"), lit(0.0)).as("rel"))
    val per = marked.groupBy("qid").agg(
      max(when(col("rel") > 0, lit(1.0) / col("rank"))).as("mrr_raw"),
      sum(gain(col("rel")) / log2(col("rank") + lit(1))).as("dcg"))
    val w = Window.partitionBy("qid").orderBy(col("rel").desc, col("id").asc)
    val ideal = truthSet.withColumn("i", row_number().over(w))
      .filter(col("i") <= k)
      .groupBy("qid").agg(sum(gain(col("rel")) / log2(col("i") + lit(1))).as("idcg"))
    ideal.join(per, Seq("qid"), "left")
      .select(col("qid"),
        round(coalesce(col("mrr_raw"), lit(0.0)), 6).as("mrr"),
        round(when(col("idcg") > 0,
          coalesce(col("dcg"), lit(0.0)) / col("idcg")).otherwise(lit(0.0)), 6)
          .as("ndcg"))
  }

  /** Symmetric int8 quantization of a float-vector column: per-vector
    * scale = max|x|/127, elements floor(x/scale) ∈ [-128, 127]. The
    * 100 TB footprint lever: a 64-dim float corpus drops 4x (embedding
    * columns dominate ANN storage and shuffle width).
    *
    * Determinism by construction: `floor` (not round — half-way rounding
    * modes differ subtly across engines) over double division of exactly-
    * representable inputs, so any engine replays bit-identically. The output
    * stays `array<float>`: the values are small integers, floats carry
    * integers exactly below 2^24, so quantized dot products through the
    * native `VectorDot` codegen are EXACT integer arithmetic
    * (|dot| <= dim x 127^2 ≈ 2^20 for dim 64) — quantized rankings are
    * reproducible everywhere, unlike float-sum rankings.
    *
    * The per-element `scale` subexpression is O(dim) — fine for embedding
    * dims (64 here: ~4k cheap ops/vector); project it into a column first if
    * a huge dim ever makes it the bottleneck. */
  def quantizeInt8(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x))).cast("double") / lit(127.0d)
    when(scale === 0.0d, transform(vec, _ => lit(0.0f)))
      .otherwise(transform(vec, x => floor(x.cast("double") / scale).cast("float")))
  }

  /** Deterministic pseudo-random hyperplanes (xorshift64, fixed seed). */
  def randomPlanes(numPlanes: Int, dim: Int): Seq[Array[Double]] = {
    var state = 2463534242555777L
    def next(): Double = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Seq.fill(numPlanes)(Array.fill(dim)(next()))
  }

  /** Multi-table LSH plumbing shared by `lshCosineTopK`,
    * `cosineNearDupPairs` and `cosineNearDupPairsAgainst` (ONE
    * implementation so their bucketings can never drift apart): `sigs(vec)`
    * = per-table signature array; `masks` = all probe offsets within
    * `probeRadius` bits; [[candidates]] = the one candidate step.
    *
    * Collision rate: a pair of independent uniformly random vectors is a
    * candidate with probability 1 − (1 − Σ_{i≤r} C(k,i)/2^k)^T for
    * k = numPlanes, r = probeRadius, T = numTables (each plane splits such
    * a pair with probability 1/2) — ≈ 0.9975 at 4/16/1, ≈ 8·10⁻⁶ at
    * 18/2/0, 1 when exhaustive. On near-random embeddings that is the
    * fraction of |query| x |corpus| the step returns. */
  private final case class MultiTableLsh(numPlanes: Int, numTables: Int,
                                         dim: Int, probeRadius: Int) {
    /** One table probed at radius >= numPlanes reaches every bucket: every
      * pair is a candidate, so the step declares the cross join instead of
      * enumerating 2^numPlanes probe masks per row and deduping. This is
      * the oracle-checkable configuration, not the scale path. */
    private val exhaustive = numTables == 1 && probeRadius >= numPlanes
    require(exhaustive || numPlanes <= 20, "probe mask enumeration is 2^numPlanes bounded")
    private val planes = randomPlanes(numPlanes * numTables, dim)
    /** Per-table signature array for a vector column — ONE native
      * expression ([[graft.plans.RpSignatures]]) instead of numTables
      * rpSignature CASE trees: same bits (spec-gated equality against the
      * literal-tree form), but the planes live in one primitive double[]
      * (the literal-array form paid boxed element access per multiply —
      * measured ~10x on the signature pass) and the plan carries one
      * opaque node instead of ~4k literal nodes (driver planning cost on
      * every fold that re-plans a signature stage). */
    private def sigs(vec: Column): Column =
      graft.plans.VectorExpressions.rp_signatures(vec, planes, numTables, numPlanes, dim)
    private lazy val masks: Seq[Int] = (0 until (1 << numPlanes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeRadius)
    private def probes(sig: Column): Column =
      explode(array(masks.map(m => sig.bitwiseXOR(lit(m.toLong))): _*))

    /** The one candidate step. `corpus` and `query` lead with their key
      * and vector columns; the result is (query key, corpus key) under the
      * frames' own key names, one row per hit: a pair is a candidate iff
      * some table t has popcount(sig_q[t] xor sig_c[t]) <= probeRadius —
      * see [[hits]]. Self-pairs are kept; `shipQuery` broadcasts the query
      * side. */
    def candidates(corpus: DataFrame, query: DataFrame, shipQuery: Boolean): DataFrame =
      hits(corpus, query, shipQuery).select(col(query.columns(0)), col(corpus.columns(0)))

    /** [[candidates]] with every column of both sides: the corpus side's
      * signatures (`sigs`, exploded to `t`, `sig`) joined on (t, sig) to
      * the query side's probed ones (`qsigs`), or the cross join when the
      * geometry is exhaustive. A column the caller reads afterwards must
      * be named on one side only. */
    def hits(corpus: DataFrame, query: DataFrame, shipQuery: Boolean): DataFrame = {
      def ship(df: DataFrame) = if (shipQuery) broadcast(df) else df
      def signed(side: DataFrame, sigsCol: String, sig: String) = side
        .select(col("*"), sigs(col(side.columns(1))).as(sigsCol))
        .select(col("*"), posexplode_outer(col(sigsCol)).as(Seq("t", sig)))
      if (exhaustive) corpus.crossJoin(ship(query))
      else signed(corpus, "sigs", "sig").join(ship(signed(query, "qsigs", "sig0")
        .select((query.columns.toSeq.map(col) :+ col("qsigs") :+ col("t") :+
          probes(col("sig0")).as("sig")): _*)), Seq("t", "sig"))
    }

    /** True on exactly one row per (query, corpus) pair of [[hits]]: the
      * hit in the first table the pair collides in (within one table only
      * one probe mask can match). Every cross-join row is its pair's only
      * hit. */
    def firstHit: Column =
      if (exhaustive) lit(true)
      else !array_contains(zip_with(slice(col("sigs"), lit(1), col("t")),
        slice(col("qsigs"), lit(1), col("t")),
        (a, b) => bit_count(a.bitwiseXOR(b)) <= probeRadius), true)

    /** `pairs` (derived from [[candidates]]) with each pair once: a bucket
      * join finds a pair once per (table, probe) that hits it, so it is
      * deduped and handed to `after`; the exhaustive cross join finds each
      * pair once and passes through as is. */
    def distinctHits(pairs: DataFrame,
                     after: DataFrame => DataFrame = identity): DataFrame =
      if (exhaustive) pairs else after(pairs.distinct())
  }

  /** Multi-table, multi-probe LSH cosine top-k.
    *
    * `numTables` independent hyperplane sets of `numPlanes` bits each; a
    * corpus row is a candidate for a query if, in ANY table, its signature is
    * within Hamming distance `probeRadius` of the query's. Candidates are
    * deduped on (qid, id), then exact-cosine re-ranked with the same native
    * vec_dot arithmetic as `cosineTopK` (so re-ranked scores are
    * oracle-identical). Recall for a pair with per-plane flip probability p
    * is 1 - (1 - P[Binom(numPlanes, p) <= probeRadius])^numTables — tune
    * (numTables, numPlanes, probeRadius) to the corpus's neighbor-angle
    * distribution. On the synthetic bench embeddings (near-random: top-5
    * neighbors at cos ≈ 0.33, p ≈ 0.39) the tested 16x4-bit radius-1 config
    * reaches recall ≈ 0.99; on genuinely clustered embeddings the same
    * config prunes far more (LSH's pruning power grows with the
    * neighbor/random angle gap).
    *
    * (numTables=1, probeRadius=numPlanes) probes every bucket of the single
    * table and is EXACTLY brute force — the oracle-checkable configuration
    * (q32). Candidate work is about |corpus| x |queries| x the geometry's
    * collision rate (see [[MultiTableLsh]]; p = 1/2 above): ≈ 0.9975 of the
    * brute-force pairs at the 16x4-bit radius-1 config on near-random
    * embeddings, ≈ 8·10⁻⁶ at 18/2/0. */
  def lshCosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String,
                    k: Int, numPlanes: Int, dim: Int,
                    probeRadius: Int = 1, numTables: Int = 8): DataFrame = {
    val cs = Parallelism.spread(corpus, idCol) // bucket fan-out parallelism
    val lsh = MultiTableLsh(numPlanes, numTables, dim, probeRadius)
    // candidate ids first (a pair found in several tables/probes must
    // score once), then vectors join back for the exact re-rank
    val cand = lsh.distinctHits(lsh.candidates(
        cs.select(col(idCol).as("id"), col(vecCol).as("vec")),
        queries.select(col(qidCol).as("qid"), col(qvecCol).as("vec")), shipQuery = true)
      .filter(col("id") =!= col("qid")))
    rankTopK(cand.join(broadcast(normed(queries, qidCol, qvecCol, QuerySide)), Seq("qid"))
      .join(normed(cs, idCol, vecCol, CorpusSide), Seq("id")), k)
  }
}
