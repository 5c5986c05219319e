package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.Executors

/** Benchmark main — prints ONE JSON line with total wall-clock plus
  * per-query seconds, in the shape BASELINE.md prescribes.
  *
  * Queries execute their FULL plan into the noop sink (a bare count() would
  * let Catalyst prune sorts/projections and under-measure). The suite runs
  * sequentially by default: concurrent jobs in one local JVM serialize on
  * driver planning + janino codegen locks (measured 2.5x slower wall with a
  * 4-thread pool). TeraGen/TeraSort/TeraValidate and the MRBench-style
  * micro-job loop are reported as additional entries (graft.bench.TeraBench).
  *
  * Stall defense: the host shows multi-minute slow windows (a query measured
  * 233 s in one round benched ~2 s in every local run; round 4's whole suite
  * doubled on a byte-identical binary). Any query whose first measurement
  * exceeds SPARK_GRAFT_REBENCH_SEC (default 4 s; 0 disables) is re-run after
  * the first pass and the MINIMUM is reported — a stall window inflates one
  * pass, not both. So a stall can never masquerade as a regression (or vice
  * versa), the JSON reports BOTH statistics: "queries"/"value" are the
  * per-entry minima (what the engine costs), "first"/"first_total" are the
  * untouched first-pass numbers (what this host run actually saw) — a large
  * first_total/value gap IS the stall signature. Failures are never silent:
  * "failed" counts entries that errored (their names in "failed_entries"),
  * so a partially-failed run can't look fast.
  *
  * Scaling check: after the main suite, every query is also timed once at
  * sf0.01 and "scaling" reports the sf-dir/sf0.01 time ratio per query
  * (~10x data). A ratio far above ~15 flags a latent quadratic before it
  * costs a round (SPARK_GRAFT_SCALING=0 disables).
  *
  * Medians: every successful measurement of an entry (first pass, extra
  * passes, re-bench passes) is kept, and "median"/"median_total" are
  * reported next to the minima — round-over-round comparisons can use the
  * median, which a single stall window cannot drag the way it drags the
  * first pass (and which a single lucky pass cannot flatter the way it
  * flatters the min). SPARK_GRAFT_BENCH_PASSES=N (default 1) runs the whole
  * query suite N times so the median rests on N samples even for fast
  * queries; extra passes are tagged "rebench:" in the event log like all
  * re-measurements.
  *
  * Tera stage attribution: the TeraGen/TeraSort legs run under a listener
  * that records per-stage wall times ("tera_stages" in the JSON, keyed
  * p<pass>_<phase>_s<ordinal>), so a slow terasort_validate is attributable
  * to its sampling / shuffle-write / sort+validate stage instead of being
  * one opaque number.
  */
object Bench {
  /** Baseline-persistence rule for the scaling tracker. A REGRESSED query
    * keeps its previous baseline ratio, so a persistent regression keeps
    * flagging every round instead of becoming the new normal after one run;
    * healthy queries track the current measurement. Adoption is capped
    * per run, ASYMMETRICALLY:
    *  - improvements at most halve (2x): a single lucky-fast sample would
    *    otherwise poison the baseline low and turn the steady-state ratio
    *    into a permanent false regression (observed: one 1.7 sample on a
    *    query whose steady ratio is ~3.6 flagged every later run, and the
    *    regression branch then pinned the poisoned value forever);
    *  - loosenings at most 1.25x (tightened from 2x in r17): the r16 cap
    *    targeted single-SAMPLE jitter (q07's 0.37 s leg posting 6.17 vs
    *    its quiet 1.8), but r17's close-d showed a whole CLASS the probe
    *    gate cannot catch — a window whose CPU and shuffle probes both sat
    *    inside the quiet band (1.30/1.79 vs refs 1.257/—) while
    *    wall-clock-driven legs (streaming triggers, service folds, FS
    *    latency tails) inflated ~30%: the certified reseed loosened 98
    *    ratio + 118 absolute entries at a 1.38x MEDIAN, many at the old
    *    2x cap — flag sensitivity broadly halved by contention no fixed
    *    probe senses. At 1.25x a certified-but-contended window costs at
    *    most 25% sensitivity, and a TRUE persistent shift still converges
    *    (1.25^n: 3x in five rounds) — slower convergence only delays
    *    when the baseline catches up to a loosening, which never causes a
    *    false flag (flags compare against the OLD, tighter baseline).
    * A one-off spike decays back (max(r, p/2) pulls a spiked baseline
    * down as soon as the honest value returns). Queries absent from this
    * run keep their old entry. */
  private[graft] val LoosenCapPerRun = 1.25
  private[graft] def ratchetBaseline(prev: Map[String, Double],
                                     current: Map[String, Double],
                                     regressed: Set[String]): Map[String, Double] =
    prev ++ current.map { case (n, r) =>
      val v = prev.get(n) match {
        case Some(p) if regressed(n) => p
        case Some(p)                 => math.min(math.max(r, p / 2), p * LoosenCapPerRun)
        case None                    => r
      }
      n -> v
    }

  /** Window band for accepting a ratio-LOOSENING reseed: a run may raise
    * baseline entries only when its calib_cpu probe is within 5% of the
    * quietest probe the baseline has seen. Placement datum (r15): the
    * builder's quiet closes probed 1.228-1.264 (a ±1.5% band) while the
    * driver's noisy window probed 1.328-1.413 (8-15% above quiet) and
    * inflated seeded ratios by a median 1.17x, stream legs up to 2.4x —
    * 1.05 cleanly separates the two populations with margin on both
    * sides. */
  private[graft] val CalibReseedBand = 1.05

  /** Probe-gated reseed (r15 verdict item 1). The flag line is
    * `ratio > 2 x baseline`, so every reseed from a noisy window used to
    * permanently HALVE flag sensitivity on the entries it inflated (the
    * r15 driver run moved q67's baseline 1.02 -> 2.49: a later q67 ratio
    * needed to reach ~5.0 to flag where the quiet baseline flagged at
    * 2.04). The gate: the run's calib_cpu must sit within
    * [[CalibReseedBand]] of the calib recorded BESIDE the baseline, else
    * only entries the run would TIGHTEN (current <= prev) or introduce
    * (no prev) pass through to [[ratchetBaseline]] — a slow window can
    * never loosen the committed ratchet. Improvements stay adopted even
    * from a noisy window because window noise inflates ratios, so a ratio
    * that DROPPED under inflation is real a fortiori. The persisted calib
    * is the minimum over quiet runs of EACH RUN'S SLOWEST probe (the
    * caller passes max-over-brackets as `runCalib` — the statistic the
    * gate itself judges, so a window that turned noisy mid-run can't
    * certify on its quiet opening bracket), ratcheting down monotonically
    * so the band cannot creep upward by 5% per round; a failed probe
    * (runCalib <= 0) cannot certify its window and is treated as noisy.
    * A baseline with no recorded calib (pre-gate format, or a fresh file)
    * bootstraps: adopt + record — KNOWN EXPOSURE: the bootstrap run is
    * treated as quiet by construction, so a noisy first window records an
    * inflated reference that loosens the band until a quieter run ratchets
    * it down (observed recovery: the committed 1.257 reference was reached
    * within one session of quiet closes). Seed fresh baselines from a
    * known-quiet window when one is available. Returns (new baseline,
    * calib to persist). */
  private[graft] def gatedRatchetBaseline(prev: Map[String, Double],
                                          current: Map[String, Double],
                                          regressed: Set[String],
                                          prevCalib: Option[Double],
                                          runCalib: Double)
      : (Map[String, Double], Option[Double]) = {
    val quiet = runCalib > 0 &&
      prevCalib.forall(pc => runCalib <= pc * CalibReseedBand)
    val adopted =
      if (quiet) current
      else current.filter { case (n, r) => prev.get(n).forall(r <= _) }
    val nextCalib =
      if (!quiet) prevCalib
      else Some(prevCalib.fold(runCalib)(math.min(_, runCalib)))
    (ratchetBaseline(prev, adopted, regressed), nextCalib)
  }

  /** The scaling-regression trigger, one owner for both passes (the cheap
    * first look and the re-measured confirmation). A flag needs the ratio
    * to DOUBLE over the ratcheted baseline, be > 3 absolutely, and a main-
    * scale leg >= 1 s (sub-second bigs are all noise). The `small` term is
    * the round-14 addition: a SUB-SECOND sf0.01 denominator swings the
    * ratio by whole multiples on ±0.2 s of JIT/host noise — q49/q51's
    * ratios moved 2.5→6.5 and 1.8→5.1 across two same-code runs in one
    * session, and the r12/r13 rounds each spent verdict effort
    * adjudicating exactly this class — so a single-sample sub-second
    * denominator is trusted only past the latent-quadratic line (> 15).
    *
    * `robustSmall` is the round-15 refinement (the r14 small>=1 screen
    * muted the ratchet ENTIRELY for fast queries — a real regression in
    * (2x-baseline, 15x] could never flag): when the denominator is the
    * MEDIAN of three re-timed runs (the confirmation pass re-times
    * sub-second legs three times — one lucky-fast sample cannot drag a
    * median, while a true blowup reproduces in every sample), the
    * absolute line drops from 15 to 8. Not lower: at a ~10x data step an
    * absolute big/small <= 8 is SUBLINEAR — on a sub-second denominator
    * that is the documented noise class (every observed false positive
    * sat at 5-6.5), not a quadratic signature. At small >= 1 s the 2x
    * ratchet works as designed and `robustSmall` is irrelevant. */
  private[graft] def scalingSuspicious(ratio: Double, baseline: Double,
                                       big: Double, small: Double,
                                       robustSmall: Boolean = false): Boolean =
    ratio > 2 * baseline && ratio > 3 && big >= 1.0 &&
      (small >= 1.0 || ratio > (if (robustSmall) 8 else 15))

  /** The DENOMINATOR-IMPROVEMENT screen on a confirmed scaling flag
    * (r18): the ratio ratchet's premise is "ratio doubled ⇒ the main-
    * scale leg blew up", but a ratio is big/small and it also doubles
    * when an OPTIMIZATION shrinks the sf0.01 denominator more than the
    * sf0.1 leg (observed live, r18 close: q108's signature fix cut the
    * small leg ~3x more than the big one — ratio 1.53 → 3.89 while the
    * big leg IMPROVED 9.0 → 7.2 s; the flag named a speedup a
    * regression). A confirmed ratio flag is therefore cross-checked
    * against the ABSOLUTE tracker's baseline for the same entry: if the
    * probe-normalized main-scale time did not grow past its recorded
    * absolute baseline, the big leg did not regress and the flag is a
    * denominator improvement — reported to stderr, not as a regression.
    * A REAL plan regression cannot hide here: doubling big/small with a
    * non-shrinking denominator requires the big leg to grow ~2x, far
    * past any abs baseline. No abs baseline recorded (fresh entry,
    * pre-abs-format file) keeps the flag — the screen only ever
    * SUPPRESSES with positive evidence of a non-regressed absolute. */
  private[graft] def denominatorImprovement(normBig: Double,
                                            absBaseline: Option[Double]): Boolean =
    absBaseline.exists(b => normBig > 0 && normBig <= b)

  /** The confirmation pass's denominator decision, extracted pure so the
    * spec can pin it: given the first-pass small-leg sample and the
    * re-timed runs, return (denominator, robust). Empty re-runs (every
    * re-time failed) fall back to the single first-pass sample and are NOT
    * robust (the 15x single-sample line applies). A >= 1 s first pass
    * keeps the r12-r14 min-of-passes — but `robust` holds only if the
    * CHOSEN denominator is itself >= 1 s: a single re-run dipping below
    * 1 s is a min-of-two single sample, exactly the ±0.2 s noise class
    * the lowered line (8) must not be applied to (r15 ADVICE). A
    * SUB-SECOND first pass uses the MEDIAN of the re-timed runs alone —
    * the first-pass sample is excluded on purpose: it is the suspect (a
    * lucky-fast first pass is exactly what inflated the ratio), and a
    * median over runs that include it would let the outlier vote on its
    * own verdict. */
  private[graft] def confirmedSmall(small0: Double,
                                    reruns: Seq[Double]): (Double, Boolean) =
    if (reruns.isEmpty) (small0, false)
    else if (small0 >= 1.0) {
      val m = math.min(small0, reruns.min)
      (m, m >= 1.0)
    } else { val xs = reruns.sorted; (xs(xs.size / 2), true) }

  /** The WHOLE two-phase ratchet pipeline for one entry, extracted pure
    * over timing thunks so a spec can drive a fake timing source through
    * screen -> confirm (r15 verdict item 3: the composition existed only
    * as a comment). Phase 1 screens at `robustSmall = true` — a
    * sub-second denominator whose ratio cleared the robust line (8) must
    * become a CANDIDATE so the confirmation can re-time it robustly;
    * screening at the single-sample line (15) would re-create the r14
    * mute. Phase 2 re-times the big leg once (min-of-passes — a stall
    * window must reproduce to keep inflating it), re-times the small leg
    * 3x when it was sub-second (the [[confirmedSmall]] median) or 1x
    * otherwise, and re-applies [[scalingSuspicious]] with the TRUE
    * `robust` flag of the chosen denominator. Over-admission at the
    * screen costs only re-time work; a flag requires the blowup to
    * reproduce in every confirmation sample.
    *
    * @param retimeBig   one extra main-scale sample; <= 0 means the
    *                    re-time failed (the first-pass big stands alone)
    * @param retimeSmall n re-timed scaling-dir samples; failures omitted
    * @return (final ratio for the scaling record, regression verdict);
    *         a non-candidate returns (ratio0, false) without timing. */
  private[graft] def ratchetVerdict(ratio0: Double, baseline: Double,
                                    big0: Double, small0: Double,
                                    retimeBig: () => Double,
                                    retimeSmall: Int => Seq[Double])
      : (Double, Boolean) =
    if (!scalingSuspicious(ratio0, baseline, big0, small0, robustSmall = true))
      (ratio0, false)
    else {
      val t = retimeBig()
      val big2 = math.min(big0, if (t > 0) t else Double.MaxValue)
      val reruns = if (small0 > 0 && small0 < 1.0) 3 else 1
      val (small2, robust) = confirmedSmall(small0, retimeSmall(reruns))
      if (small2 > 0) {
        val ratio2 = big2 / small2
        (ratio2, scalingSuspicious(ratio2, baseline, big2, small2, robust))
      } else (ratio0, false)
    }

  /** Probe-normalize an ABSOLUTE entry time into quiet-window-equivalent
    * seconds (r16 verdict item 1b): engine wall times inflate roughly with
    * the host window, so a raw absolute measured in a noisy window would
    * false-flag against a quiet-window baseline. The run's slowest
    * calib_cpu probe over the baseline's recorded quiet reference IS the
    * window's inflation estimate; dividing it out converts the comparison
    * to quiet-vs-quiet. The factor is capped at 1.0 — the reference
    * ratchets to the QUIETEST probe seen, so a run probing faster than it
    * is a new quietest window whose raw time is already quiet-equivalent
    * (scaling the time UP by a probe ratio would manufacture regressions
    * out of probe jitter). No reference or no probe → raw time (bootstrap
    * runs compare nothing; they only seed). */
  private[graft] def probeNormalize(v: Double, refCalib: Option[Double],
                                    runCalib: Double): Double =
    refCalib match {
      case Some(rc) if runCalib > 0 && rc > 0 =>
        v * math.min(1.0, rc / runCalib)
      case _ => v
    }

  /** The absolute-time regression trigger — the class the RATIO ratchet is
    * structurally blind to (r16: q88 posted 25.0 s against its 8.8-12.1 s
    * band and q65 8.7 s against ~3.2 s, both with UNCHANGED sf0.1/sf0.01
    * ratios, because a regression that inflates both scale legs equally
    * cancels out of the ratio). A flag needs the probe-normalized time to
    * DOUBLE over the ratcheted baseline AND to have grown by at least ONE
    * FULL SECOND. The growth floor is the sub-second-baseline guard: a
    * ~0.5 s-baseline entry doubled by a host stall that reproduces across
    * both confirmation passes (stall windows here run 2-4x for minutes —
    * observed r17: q30/q33, baselines 0.51, posted 1.04/1.27 normalized
    * across EVERY pass of a probe-1.49-1.69 window) would otherwise flag
    * on noise a probe can't fully divide out; sub-second noise cannot
    * manufacture a reproduced second of growth, while the class this
    * tracker exists for (q88: +16 s, q65: +4.9 s normalized) clears the
    * floor by an order of magnitude. */
  private[graft] def absSuspicious(norm: Double, baseline: Double): Boolean =
    norm > 2 * baseline && norm - baseline >= 1.0

  /** Screen -> confirm for one entry's absolute time, pure over the
    * re-time thunk (same shape as [[ratchetVerdict]]). A candidate whose
    * normalized time cleared the flag line is re-timed once and the MIN
    * of the passes is re-judged: a host stall inflates one pass, not
    * both, so a stall can never masquerade as an absolute regression — a
    * real regression reproduces in every sample. A failed re-time (<= 0)
    * leaves the first-pass value standing alone.
    * @return (normalized time for the record, regression verdict). */
  private[graft] def absVerdict(v0: Double, baseline: Double,
                                refCalib: Option[Double], runCalib: Double,
                                retime: () => Double): (Double, Boolean) = {
    val n0 = probeNormalize(v0, refCalib, runCalib)
    if (!absSuspicious(n0, baseline)) (n0, false)
    else {
      val t = retime()
      val v2 = if (t > 0) math.min(v0, t) else v0
      val n2 = probeNormalize(v2, refCalib, runCalib)
      (n2, absSuspicious(n2, baseline))
    }
  }

  /** Fixed-work host-speed calibration kernel (r14 verdict item 1): a
    * deterministic, data-independent in-memory fill + sort + fold-hash
    * loop — `reps` rounds over 2^22 longs from a pinned xorshift64 stream.
    * Its wall time depends ONLY on the host (CPU, memory bandwidth,
    * scheduler contention), never on the engine or the data, so dividing
    * two windows' probe times converts driver-window-vs-quiet-window
    * speed adjudication (three rounds of argument: r12's flags, r13's
    * +14%, r14's 529-vs-444 additive) into arithmetic. The returned
    * accumulator is checked against [[CalibExpected]] at every timed run:
    * the check defeats dead-code elimination AND pins the kernel
    * deterministic — a probe that silently did different work would
    * calibrate nothing. */
  private[graft] def calibrationWork(reps: Int): Long = {
    val n = 1 << 22
    val arr = new Array[Long](n)
    var acc = 0L
    var rep = 0
    while (rep < reps) {
      var x = 0x9E3779B97F4A7C15L + rep
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        arr(i) = x
        i += 1
      }
      java.util.Arrays.sort(arr)
      var h = 1125899906842597L
      i = 0
      while (i < n) { h = h * 31 + arr(i); i += 1 }
      acc ^= h
      rep += 1
    }
    acc
  }

  private[graft] val CalibReps = 3
  /** Pinned [[calibrationWork]](CalibReps) output — computed once from the
    * kernel above and spec-asserted (CalibrationProbeSpec), so any change
    * to the kernel's work is a loud diff here, never a silent recalibration. */
  private[graft] val CalibExpected = 3530180424024517018L

  /** The `calib_spark` probe plan: a pinned 4M-row synthesized GLOBAL SORT
    * (range exchange + sort + the noop write the harness adds) — fixed
    * scheduler + shuffle + codegen work, no data dir. Hoisted out of main
    * so CalibrationProbeSpec can pin the PLAN SHAPE: the probe's whole
    * value rests on the sort surviving optimization — a future change that
    * let Catalyst elide it would leave calib_spark silently timing an
    * empty pipeline, and every cross-window division would lie. */
  private[graft] def calibSparkPlan(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    s.range(0, 4000000L)
      .select((col("id") * 2654435761L).as("k"))
      .orderBy(col("k"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")

    // Untimed warmup: pay executor spin-up, codegen compiler init, and first
    // shuffle setup once, outside any query's timing — otherwise the
    // alphabetically-first query absorbs ~5 s of one-time JVM cost.
    {
      import org.apache.spark.sql.functions._
      spark.range(100000).groupBy((col("id") % 10).as("k"))
        .agg(count(lit(1))).write.mode("overwrite").format("noop").save()
    }

    val t0 = System.nanoTime()
    val results = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // First-pass measurements, never overwritten by re-benching: the honest
    // "what this run saw" statistic next to the stall-filtered minimum.
    val firstPass = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // EVERY successful measurement per entry — the sample the medians are
    // computed from (minima come from `results`, which min-folds in place).
    val allRuns = new java.util.concurrent.ConcurrentHashMap[String, java.util.Queue[Double]]()
    def recordRun(name: String, v: Double): Unit =
      if (v > 0) allRuns.computeIfAbsent(name,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(v)
    val pool = Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "1").toInt)
    // Dev knob: SPARK_GRAFT_ONLY="q25,q31" runs a subset (and skips
    // tera/micro AND the scaling pass — scaling runs on full suites only).
    // Matching is SparkEntry.select: exact name or name prefix up to an
    // underscore, so a bare "q11" selects q11_datajoin, NOT q110–q119 (plain
    // startsWith pulled in every three-digit query sharing the two-digit
    // prefix).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.select(only)
    // Stage warmup (untimed): entries whose DECLARED measurement is an
    // increment over a shared per-process staged build (q94's incremental
    // fold over the staged prior, the q95/q99 consumers of the staged
    // exhaustive assignment, q117's read of the staged service state)
    // would otherwise absorb the one-time first-caller staging cost into
    // whichever timed entry happens to run first — visible only when that
    // first pass lands UNDER the stall-defense re-bench threshold, which
    // is exactly what the round-11 warm-start speedup did to q95 (staging
    // dropped 4.x -> 2.7 s, the re-run stopped firing, and the entry's
    // recorded minimum silently became build+read). The build costs stay
    // measured where they are declared to live: q93 constructs the
    // exhaustive assignment in-query and q115/q116 run the full fold
    // sequence inside their own entries on every pass.
    // q94/q95/q99 warm by running the (cheap) query once — their staged
    // prior is built by their own read path. The service-state consumers
    // (q117/q118/q119) warm through Queries.warmStagedState instead: their
    // queries ARE the declared measurements (a full tombstone rebuild for
    // q118/q119), so a full-query warmup would pay an extra untimed rebuild
    // whose only reusable side effect is the staging itself.
    val stagedConsumers = Seq("q94_", "q95_", "q99_", "q117_", "q118_", "q119_")
    def stageWarm(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  dir: String): Unit =
      if (stagedConsumers.exists(name.startsWith)) {
        spark.sparkContext.setJobDescription(s"stagewarm:$name")
        try {
          if (!Queries.warmStagedState(spark, dir, name))
            fn(spark, dir).write.mode("overwrite").format("noop").save()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] stage warmup $name failed: ${e.getMessage}")
        } finally spark.sparkContext.setJobDescription(null)
      }
    selected.foreach { case (name, fn) => stageWarm(name, fn, sfDir) }
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val q0 = System.nanoTime()
      // thread-local job description: tags this query's jobs in the Spark
      // event log so EventLogTrace can rebuild a replayable trace from it
      spark.sparkContext.setJobDescription(name)
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - q0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      } finally spark.sparkContext.setJobDescription(null)
    }
    // Fixed-work calibration probes, run at the START and END of the run so
    // the record brackets the whole window (first = start sample, min =
    // best, median = the two-sample mean — a large first/min gap IS
    // within-run drift). calib_cpu times the pinned in-memory kernel (host
    // speed, no Spark); calib_spark times a pinned 4M-row synthesized
    // global sort through the same timeOnce/noop path every query uses
    // (scheduler + shuffle + codegen fixed work, no data dir). Neither is
    // additive work — excluded from the totals below — and neither enters
    // the scaling probe (not in `selected`). Round-over-round, the
    // driver-window/quiet-window speed question becomes ONE division:
    // window_a.calib / window_b.calib.
    val calibSparkFn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => calibSparkPlan(s)
    def runCalib(initial: Boolean): Unit = {
      try {
        if (initial) calibrationWork(1) // untimed JIT warm of the kernel loop
        val t = System.nanoTime()
        val acc = calibrationWork(CalibReps)
        val c = (System.nanoTime() - t) / 1e9
        require(acc == CalibExpected,
          s"calibration kernel produced $acc, expected $CalibExpected — " +
            "the probe is not running its pinned work")
        recordRun("calib_cpu", c)
        firstPass.putIfAbsent("calib_cpu", c)
        if (c < results.getOrDefault("calib_cpu", Double.MaxValue))
          results.put("calib_cpu", c)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calib_cpu failed: ${e.getMessage}")
        results.putIfAbsent("calib_cpu", -1.0)
      }
      val sp = timeOnce(if (initial) "calib_spark" else "rebench:calib_spark",
        calibSparkFn)
      if (sp > 0) {
        recordRun("calib_spark", sp)
        firstPass.putIfAbsent("calib_spark", sp)
        if (sp < results.getOrDefault("calib_spark", Double.MaxValue))
          results.put("calib_spark", sp)
      } else results.putIfAbsent("calib_spark", -1.0)
    }
    runCalib(initial = true)
    val futures = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val v = timeOnce(name, fn)
          results.put(name, v)
          firstPass.put(name, v)
          recordRun(name, v)
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    // Optional extra full passes (SPARK_GRAFT_BENCH_PASSES=N): the median
    // then rests on N samples for every query, not just the re-benched slow
    // ones. Tagged "rebench:" so the event-log trace keeps one bare-name
    // span per query.
    val benchPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "1").toInt
    (1 until benchPasses).foreach { _ =>
      selected.foreach { case (name, fn) =>
        val v = timeOnce(s"rebench:$name", fn)
        recordRun(name, v)
        if (v > 0 && v < results.getOrDefault(name, Double.MaxValue))
          results.put(name, v)
      }
    }
    // Re-measure suspiciously slow queries (host stall defense — see
    // scaladoc): up to REBENCH_MAX extra passes, keeping the best, stopping
    // once a query measures under the threshold. (A stall window can cover
    // two consecutive passes — one full-suite run measured a query at 55.9 s
    // whose isolated rerun minutes later took 14.6 s.)
    val rebenchSec = sys.env.getOrElse("SPARK_GRAFT_REBENCH_SEC", "4").toDouble
    val rebenchMax = sys.env.getOrElse("SPARK_GRAFT_REBENCH_MAX", "2").toInt
    // Global wall budget for re-measurement: if the host is slow for the
    // WHOLE run (not a window), re-running everything 2x more would triple
    // the wall-clock — stop re-running once the budget is spent and keep
    // whatever measurements exist.
    val rebenchBudgetSec = sys.env.getOrElse("SPARK_GRAFT_REBENCH_BUDGET_SEC", "600").toDouble
    val rebenchDeadline = System.nanoTime() + (rebenchBudgetSec * 1e9).toLong
    var pass = 0
    var anySlow = true
    while (rebenchSec > 0 && anySlow && pass < rebenchMax &&
           System.nanoTime() < rebenchDeadline) {
      val slow = selected.filter { case (n, _) => results.getOrDefault(n, -1.0) > rebenchSec }
      anySlow = slow.nonEmpty
      slow.foreach { case (name, fn) =>
        if (System.nanoTime() < rebenchDeadline) {
          val best = results.get(name)
          // "rebench:" prefix: a re-run under the bare name would extend the
          // query's (first submission, last completion) span in the event
          // log by the whole inter-pass wall time, corrupting the trace
          // EventLogTrace derives (the gridmix/rescale legs prefix likewise)
          val again = timeOnce(s"rebench:$name", fn)
          recordRun(name, again)
          if (again > 0 && again < best) results.put(name, again)
        }
      }
      pass += 1
    }

    // A failed harness leg (validation require, I/O error) must surface as a
    // failed entry in the JSON, never abort main before the JSON is written —
    // the same never-silent contract the query entries have.
    def guarded(names: Seq[String])(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] ${names.head} family failed: ${e.getMessage}")
        names.foreach(n => results.putIfAbsent(n, -1.0))
      }
    // TeraGen → TeraSort → TeraValidate chain (1M rows ≙ 100 MB teradata),
    // with the same stall defense as the queries (a 73 s terasort was once
    // measured during a host slow window; local norm is ~6 s).
    val teraStages = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    if (only.isEmpty) guarded(Seq("teragen", "terasort_validate")) {
      import graft.bench.TeraBench._
      // 10M rows = 1 GB of teradata: enough to exercise real shuffle
      // spill/merge (1M = 100 MB finished in 0.4 s and measured overhead,
      // not sorting)
      val rows = sys.env.getOrElse("SPARK_GRAFT_TERA_ROWS", "10000000").toLong
      // Stage attribution: while a tera phase runs, record each completed
      // stage's wall time keyed p<pass>_<phase>_s<ordinal> (submission
      // order). terasort_validate's three stages are the range-boundary
      // SAMPLING scan, the shuffle-WRITE map stage, and the sorted
      // VALIDATE scan — so a slow run names its culprit. Listener events
      // post asynchronously: the tag is read at event delivery, which can
      // in principle mis-tag a stage completing exactly at a phase
      // boundary — fine for a diagnostic (phases end with a collect that
      // drains the last stage before the next phase's first job).
      @volatile var phaseTag = ""
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val tag = phaseTag
          if (tag.nonEmpty)
            for (sub <- e.stageInfo.submissionTime; done <- e.stageInfo.completionTime)
              teraStages.synchronized {
                val ord = teraStages.count(_._1.startsWith(tag))
                teraStages += ((f"${tag}_s$ord%02d", (done - sub) / 1000.0))
              }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def teraOnce(pass: Int): (Double, Double) = try {
        var t = System.nanoTime()
        // gensort-bit-compatible records (GenSortParity); checksum protocol =
        // sum of per-record CRC32, as the reference's CHECKSUM counter.
        // No cache: regenerating 1M records is cheaper than caching 100 MB.
        phaseTag = s"p${pass}_teragen"
        val gen = graft.bench.GenSortParity.teraGen(spark, rows)
        val genSum = checksum(gen)
        val tGen = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        phaseTag = s"p${pass}_terasort"
        val sorted = teraSort(gen)
        val (n, sortSum, ordered) = validate(sorted)
        val tSort = (System.nanoTime() - t) / 1e9
        require(n == rows && sortSum == genSum && ordered,
          s"terasort validation failed: n=$n ordered=$ordered sums $genSum/$sortSum")
        (tGen, tSort)
      } finally phaseTag = ""
      try {
        val (tGen, tSort) = teraOnce(0)
        firstPass.put("teragen", tGen)
        firstPass.put("terasort_validate", tSort)
        recordRun("teragen", tGen); recordRun("terasort_validate", tSort)
        // first-pass values land in results BEFORE any re-bench attempt: a
        // re-bench failure must degrade to the measured first pass, never
        // discard it (same pattern in the dfsio/mrbench blocks below)
        results.put("teragen", tGen)
        results.put("terasort_validate", tSort)
        if (rebenchSec > 0 && (tGen > rebenchSec || tSort > rebenchSec)) {
          try {
            val (g2, s2) = teraOnce(1)
            recordRun("teragen", g2); recordRun("terasort_validate", s2)
            results.put("teragen", math.min(tGen, g2))
            results.put("terasort_validate", math.min(tSort, s2))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] tera re-bench failed (keeping first pass): ${e.getMessage}")
          }
        }
      } finally {
        // listener events post asynchronously — wait for the stage log to
        // go quiet before removing, or the final (often slowest) validate
        // stage would nondeterministically vanish from tera_stages
        val deadline = System.currentTimeMillis + 2000
        var last = -1; var stable = 0
        while (System.currentTimeMillis < deadline && stable < 2) {
          val n = teraStages.synchronized(teraStages.size)
          if (n == last) stable += 1 else { stable = 0; last = n }
          Thread.sleep(100)
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    // TestDFSIO-equivalent throughput legs (BASELINE.md's remaining metric
    // family): seconds to write / read SPARK_GRAFT_DFSIO_MB MiB of 1 KiB
    // records; mb/sec = MB / seconds.
    if (only.isEmpty) {
      val mb = sys.env.getOrElse("SPARK_GRAFT_DFSIO_MB", "256").toInt
      val legNames = Seq("write", "read", "append", "random_read",
        "backward_read", "skip_read").map(l => s"dfsio_${l}_${mb}mb")
      guarded(legNames) {
        def dfsioOnce(): Seq[(String, Double)] = graft.bench.DfsioBench.run(spark, mb)
          .map { case (leg, sec) => s"dfsio_${leg}_${mb}mb" -> sec }
        val io = dfsioOnce()
        io.foreach { case (k, v) => firstPass.put(k, v); results.put(k, v); recordRun(k, v) }
        if (rebenchSec > 0 && io.exists(_._2 > rebenchSec)) {
          try {
            val again = dfsioOnce().toMap
            again.foreach { case (k, v) => recordRun(k, v) }
            io.foreach { case (k, v) => results.put(k, math.min(v, again(k))) }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] dfsio re-bench failed (keeping first pass): ${e.getMessage}")
          }
        }
      }
    }
    // DistCp-equivalent leg: copy a generated tree of SPARK_GRAFT_DISTCP_MB
    // MiB with per-file checksum validation (graft.tools.DistCopy) — the
    // operational-tool throughput number next to the DFSIO family.
    if (only.isEmpty) {
      val mb = sys.env.getOrElse("SPARK_GRAFT_DISTCP_MB", "256").toInt
      val name = s"distcp_${mb}mb"
      val updName = s"distcp_update_${mb}mb"
      guarded(Seq(name, updName)) {
        import org.apache.spark.sql.functions._
        val dir = graft.sources.Scratch.dir(spark,
          s"graft_distcp_${spark.sparkContext.applicationId}")
        val srcDir = s"$dir/src"
        try {
          // untimed setup: the same 1 KiB-record dataset shape DFSIO uses,
          // written as a multi-file tree (one file per write task)
          val rows = mb.toLong * 1024L
          val filler = "x" * (1024 - 19 - 1)
          spark.range(rows)
            .select(concat(lpad(col("id").cast("string"), 19, "0"), lit(filler)).as("value"))
            .write.mode("overwrite").text(srcDir)
          def actionsOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
            df.groupBy("action").agg(count(lit(1)).as("n")).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          def distcpOnce(i: Int): Double = {
            val dstDir = s"$dir/dst$i"
            val t0 = System.nanoTime()
            val actions = actionsOf(graft.tools.DistCopy.copy(spark, srcDir, dstDir))
            val sec = (System.nanoTime() - t0) / 1e9
            require(actions.keySet == Set("copy") && actions("copy") > 0,
              s"distcp unexpected actions: $actions")
            sec
          }
          val v = distcpOnce(0)
          firstPass.put(name, v); results.put(name, v); recordRun(name, v)
          if (rebenchSec > 0 && v > rebenchSec) {
            try {
              val v2 = distcpOnce(1)
              recordRun(name, v2)
              results.put(name, math.min(v, v2))
            } catch { case e: Throwable =>
              System.err.println(s"[bench] distcp re-bench failed (keeping first pass): ${e.getMessage}")
            }
          }
          // -update re-run over the tree just copied: every file must SKIP,
          // but both sides are fully checksummed — the incremental-copy
          // (read-dominated) throughput number
          val tu = System.nanoTime()
          val upd = actionsOf(graft.tools.DistCopy.copy(spark, srcDir, s"$dir/dst0",
            update = true))
          val updSec = (System.nanoTime() - tu) / 1e9
          require(upd.keySet == Set("skip"), s"distcp update unexpected actions: $upd")
          firstPass.put(updName, updSec); results.put(updName, updSec); recordRun(updName, updSec)
        } finally {
          try graft.sources.Scratch.delete(spark.sparkContext.hadoopConfiguration, dir)
          catch { case e: Exception =>
            System.err.println(s"[bench] distcp cleanup failed: ${e.getMessage}")
          }
        }
      }
    }
    if (only.isEmpty) guarded(Seq("mrbench_avg")) {
      // MRBench report shape = the reference's avg/min/max over the run loop
      // (MRBench.java:223-235), per input order asc/desc/random (:305-341).
      // min/max are statistics OF the avg runs, not extra work — they are
      // excluded from the additive totals below.
      def mrbenchOnce(): Seq[(String, Double)] = {
        val (avg, mn, mx) = graft.bench.TeraBench.microJobLoop(spark, runs = 5, inputLines = 100000)
        val (descAvg, descMn, descMx) = graft.bench.TeraBench.microJobLoop(spark, runs = 2,
          inputLines = 100000, order = "desc")
        val (rndAvg, rndMn, rndMx) = graft.bench.TeraBench.microJobLoop(spark, runs = 2,
          inputLines = 100000, order = "random")
        Seq("mrbench_avg" -> avg, "mrbench_min" -> mn, "mrbench_max" -> mx,
          "mrbench_desc_avg" -> descAvg, "mrbench_desc_min" -> descMn, "mrbench_desc_max" -> descMx,
          "mrbench_random_avg" -> rndAvg, "mrbench_random_min" -> rndMn, "mrbench_random_max" -> rndMx)
      }
      val mr = mrbenchOnce()
      mr.foreach { case (k, v) => firstPass.put(k, v); results.put(k, v); recordRun(k, v) }
      if (rebenchSec > 0 && mr.exists(_._2 > rebenchSec)) {
        try {
          val again = mrbenchOnce().toMap
          again.foreach { case (k, v) => recordRun(k, v) }
          mr.foreach { case (k, v) => results.put(k, math.min(v, again(k))) }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] mrbench re-bench failed (keeping first pass): ${e.getMessage}")
        }
      }
    }

    // Gridmix-lite (the reference's hadoop-gridmix + hadoop-rumen intent):
    // a mixed workload on a small concurrent pool — the contended-cluster
    // latency signal a sequential suite misses. Two modes:
    //  - default: a deterministic stride-sample of the query suite, all
    //    submitted at t=0 (max contention);
    //  - SPARK_GRAFT_GRIDMIX_TRACE=<file>: replay a previously captured
    //    trace — each job submits at its recorded offset, reproducing a
    //    real run's arrival pattern (Rumen extracts traces from history
    //    logs; here every gridmix run WRITES gridmix_trace.json, so any
    //    run's mix can be replayed and compared).
    // gridmix_p50/p95 are latency ORDER STATISTICS over the mixed jobs, not
    // extra sequential work — excluded from the additive totals below.
    if (only.isEmpty && sys.env.getOrElse("SPARK_GRAFT_GRIDMIX", "1") == "1") {
      val pools = sys.env.getOrElse("SPARK_GRAFT_GRIDMIX_POOLS", "3").toInt
      val byName = selected.toMap
      // One gridmix leg: build the mix (trace replay or stride sample), run
      // it on the contended pool, optionally capture the executed mix as a
      // replayable trace, return (p50, p95) latency order statistics.
      def runMix(traceFile: Option[String], captureTo: Option[String]): (Double, Double) = {
        // (query, submit-offset-ms) pairs: trace order, or stride sample at 0
        val mix: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame, Long)] =
          traceFile match {
            case Some(path) =>
              val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
              // the name group admits escaped quotes/backslashes (toJson
              // escapes control chars too) and is decoded with toJson's
              // exact inverse — an entry whose description contains a quote
              // replays instead of silently truncating at the escape
              val parsed = """\{"name":"((?:[^"\\]|\\.)*)","offset_ms":([0-9]+)""".r
                .findAllMatchIn(txt)
                .map(m => (graft.tools.EventLogTrace.unescapeName(m.group(1)), m.group(2).toLong))
                .toSeq
              // reject rather than silently drop: a trace naming queries this
              // build lacks would otherwise report p50/p95 over a partial
              // mix, and a duplicated name would run a query concurrently
              // with itself (the distinct invariant the default mode keeps)
              val unknown = parsed.map(_._1).filterNot(byName.contains)
              require(unknown.isEmpty, s"gridmix trace names unknown queries: ${unknown.distinct.mkString(",")}")
              val dups = parsed.groupBy(_._1).filter(_._2.size > 1).keys
              require(dups.isEmpty, s"gridmix trace duplicates queries: ${dups.mkString(",")}")
              parsed.map { case (n, off) => (n, byName(n), off) }.sortBy(_._3)
            case None =>
              // cap at the suite size: the mix must be DISTINCT queries —
              // some queries write/read fixed scratch paths (q35), so two
              // copies of one query must never run concurrently. The stride
              // is coprime with the suite size so the walk visits distinct
              // queries across the whole suite, not the alphabetical head.
              val jobs = math.min(selected.size,
                sys.env.getOrElse("SPARK_GRAFT_GRIDMIX_JOBS", "24").toInt)
              val stride = Iterator.from(7)
                .find(s => BigInt(s).gcd(BigInt(selected.size)) == 1).get
              (0 until jobs).map { i =>
                val (n, fn) = selected((i * stride) % selected.size); (n, fn, 0L)
              }
          }
        require(mix.nonEmpty,
          "gridmix: empty job mix (a trace file must contain this bench's own " +
            "gridmix_trace.json format and name queries that exist)")
        val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, java.lang.Double)]()
        val gpool = Executors.newFixedThreadPool(pools)
        val g0 = System.nanoTime()
        // submit in offset order from this thread: trace replay preserves
        // the recorded arrival pattern, the default all-at-zero mix degrades
        // to plain submission
        val gfs = mix.map { case (name, fn, offsetMs) =>
          val wait = offsetMs - (System.nanoTime() - g0) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          val submittedAt = (System.nanoTime() - g0) / 1000000L
          gpool.submit(new Runnable {
            def run(): Unit = {
              val v = timeOnce(s"gridmix:$name", fn)
              if (v > 0) lat.add((name, submittedAt, v))
            }
          })
        }
        gfs.foreach(_.get())
        gpool.shutdown()
        val done = {
          import scala.jdk.CollectionConverters._
          lat.asScala.toSeq
        }
        require(done.size == mix.size, s"gridmix: ${mix.size - done.size} of ${mix.size} jobs failed")
        captureTo.foreach { out =>
          try {
            val trace = done.sortBy(_._2).map { case (n, off, v) =>
              val sec = String.format(java.util.Locale.ROOT, "%.3f", v)
              s"""{"name":"${graft.tools.EventLogTrace.escapeName(n)}","offset_ms":$off,"sec":$sec}"""
            }.mkString("[", ",", "]")
            java.nio.file.Files.writeString(java.nio.file.Paths.get(out), trace + "\n")
          } catch { case e: Throwable =>
            System.err.println(s"[bench] gridmix trace write failed: ${e.getMessage}")
          }
        }
        val xs = done.map(_._3.doubleValue()).sorted
        def pct(p: Double): Double = xs(math.min(xs.size - 1,
          math.max(0, math.ceil(p * xs.size).toInt - 1)))
        (pct(0.50), pct(0.95))
      }

      val envTrace = sys.env.get("SPARK_GRAFT_GRIDMIX_TRACE")
      guarded(Seq("gridmix_p50", "gridmix_p95")) {
        // capture the executed mix as a replayable trace (the Rumen role).
        // A REPLAY run writes only when TRACE_OUT is explicitly set:
        // defaulting the capture to gridmix_trace.json would overwrite the
        // very trace being replayed (and each generation's offsets are the
        // ACTUAL submit times, so repeated replays would drift later).
        val captureTo = sys.env.get("SPARK_GRAFT_GRIDMIX_TRACE_OUT")
          .orElse(if (envTrace.isDefined) None else Some("gridmix_trace.json"))
        val (p50, p95) = runMix(envTrace, captureTo)
        firstPass.put("gridmix_p50", p50); results.put("gridmix_p50", p50)
        firstPass.put("gridmix_p95", p95); results.put("gridmix_p95", p95)
        recordRun("gridmix_p50", p50); recordRun("gridmix_p95", p95)
      }
      // Replay leg: re-drive the COMMITTED reference trace (a prior round's
      // captured mix) so every round reports latency under an identical
      // arrival pattern next to the fresh mix — round-over-round comparable
      // where the fresh mix's stride changes whenever the suite grows. Same
      // stall defense as the query entries: a slow first pass is re-run once
      // and the minimum reported.
      val refTrace = sys.env.getOrElse("SPARK_GRAFT_GRIDMIX_REF", "gridmix_trace_ref.json")
      if (envTrace.isEmpty && java.nio.file.Files.exists(java.nio.file.Paths.get(refTrace)))
        guarded(Seq("gridmix_replay_p50", "gridmix_replay_p95")) {
          val (p50, p95) = runMix(Some(refTrace), None)
          firstPass.put("gridmix_replay_p50", p50); results.put("gridmix_replay_p50", p50)
          firstPass.put("gridmix_replay_p95", p95); results.put("gridmix_replay_p95", p95)
          recordRun("gridmix_replay_p50", p50); recordRun("gridmix_replay_p95", p95)
          if (rebenchSec > 0 && p95 > rebenchSec) {
            try {
              val (p50b, p95b) = runMix(Some(refTrace), None)
              recordRun("gridmix_replay_p50", p50b); recordRun("gridmix_replay_p95", p95b)
              results.put("gridmix_replay_p50", math.min(p50, p50b))
              results.put("gridmix_replay_p95", math.min(p95, p95b))
            } catch { case e: Throwable =>
              System.err.println(s"[bench] gridmix replay re-bench failed (keeping first pass): ${e.getMessage}")
            }
          }
        }
    }

    // Synthetic-scale soak legs: the 100 TB story of the dedup/packing tier
    // rests on three complexity claims no sf0.1 query exercises — connected
    // components converges in O(log diameter) rounds, the LSH bucket cap
    // turns a degenerate mega-bucket's quadratic pair set into zero cost
    // while small true-duplicate clusters survive exactly, and the
    // hierarchical prefix sum never concentrates more than
    // ~maxId/bucketTarget rows in one window partition. These legs measure
    // them on synthetic inputs one
    // to two orders of magnitude past sf0.1 (10^6-node chain = the
    // worst-case diameter; 10^7 docs through the packer), converting the
    // argument into a per-round number. Each leg VALIDATES its result
    // (component structure, token conservation, bucket bound) — a fast
    // wrong answer fails the leg.
    // SPARK_GRAFT_SOAK: "0" disables, "1" (default) runs with the full
    // suite, "force" runs even under SPARK_GRAFT_ONLY (dev: soak alone).
    // SPARK_GRAFT_SOAK_CC_N sizes the chain: default 2^17 (18 rounds,
    // ~20 s/round-loop) keeps the per-round driver bench affordable; the
    // one-off 10^6-node deep soak (20 rounds, 108.7 s — recorded in
    // PLANS.md) is SPARK_GRAFT_SOAK_CC_N=1000000.
    val soakMode = sys.env.getOrElse("SPARK_GRAFT_SOAK", "1")
    if (soakMode != "0" && (only.isEmpty || soakMode == "force")) {
      import org.apache.spark.sql.functions._
      // house stall defense: first pass recorded as-is; a pass slower than
      // the leg's OWN threshold (~2x its quiet-window wall — the 4 s query
      // threshold would re-run the CC leg every time) is re-measured once
      // back-to-back (per memory: this host shows 2-4x stall windows) and
      // the minimum reported
      def soakLeg(name: String, slowSec: Double)(once: () => Double): Unit =
        guarded(Seq(name)) {
          spark.sparkContext.setJobDescription(name)
          try {
            val first = once()
            firstPass.put(name, first); recordRun(name, first)
            val best = if (rebenchSec > 0 && first > slowSec) {
              spark.sparkContext.setJobDescription(s"rebench:$name")
              val again = once()
              recordRun(name, again)
              math.min(first, again)
            } else first
            results.put(name, best)
          } finally spark.sparkContext.setJobDescription(null)
        }
      val ccN = sys.env.getOrElse("SPARK_GRAFT_SOAK_CC_N", "131072").toLong
      // one chain 0-1-…-(n-1) as a (src, dst) edge list, and the check that a
      // CC result over it is one component of all n nodes labelled 0
      def ccChain(n: Long) = spark.range(0, n - 1)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      def requireOneChain(cc: org.apache.spark.sql.DataFrame, n: Long,
                          what: String): Unit = {
        val agg = cc.agg(count(lit(1)), countDistinct(col("component")),
          max(col("component"))).head
        require(agg.getLong(0) == n && agg.getLong(1) == 1L
            && agg.getLong(2) == 0L,
          s"$what wrong structure: ${agg.toString}")
      }
      soakLeg("soak_cc_chain", slowSec = 45.0) { () =>
        // one chain 0-1-2-…-(n-1): a single component of diameter n-1 —
        // the adversarial shape for label propagation (one giant near-dup
        // cluster), converging only via pointer jumping. Wall is dominated
        // by round count × per-round shuffle latency, and round count is
        // the measurement: it must track log2(diameter), not the diameter.
        // localBound = 0 pins the distributed path — the chain's snapshot
        // (2(n-1) rows) would otherwise be finished on the driver in 0 rounds.
        val n = ccN
        val edges = ccChain(n)
        val c0 = System.nanoTime()
        val (cc, rounds) = graft.operators.Dedup
          .connectedComponentsWithRounds(edges, "src", "dst", localBound = 0)
        requireOneChain(cc, n, "CC soak")
        val sec = (System.nanoTime() - c0) / 1e9
        // rounds must stay logarithmic in the diameter — 2·log2(n)+2 leaves
        // slack for the propagation constant and the confirming round
        val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 2
        require(rounds <= bound,
          s"CC soak took $rounds rounds on a $n-node chain (bound $bound)")
        val r = rounds.toDouble
        results.put("soak_cc_chain_rounds", r)
        firstPass.putIfAbsent("soak_cc_chain_rounds", r)
        recordRun("soak_cc_chain_rounds", r)
        // WARM-START measurement on the same graph (round 12): the prior
        // assignment covers all but the last m nodes (their true label 0 —
        // ≤ node and reachable, the documented seed contract), the tail m
        // simulates the new batch. Warm rounds must track log2(m) — the
        // NEW structure — not log2(n): the incremental-maintenance claim
        // ("per-fold CC cost no longer grows with corpus history") as a
        // recorded observable instead of a README narrative.
        val m = math.min(1024L, n / 4)
        val seed = spark.range(0, n - m)
          .select(col("id").as("node"), lit(0L).as("lbl"))
        val w0 = System.nanoTime()
        val (wcc, warmRounds) = graft.operators.Dedup
          .connectedComponentsWithRounds(edges, "src", "dst", seed = Some(seed),
            localBound = 0)
        requireOneChain(wcc, n, "warm CC soak")
        val warmSec = (System.nanoTime() - w0) / 1e9
        require(warmRounds < rounds,
          s"warm start did not cut rounds: $warmRounds vs cold $rounds")
        val warmBound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(m)) + 3
        require(warmRounds <= warmBound,
          s"warm CC took $warmRounds rounds on an m=$m tail (bound $warmBound" +
            s" — rounds are tracking corpus size, not new structure)")
        val wr = warmRounds.toDouble
        results.put("soak_cc_chain_rounds_warm", wr)
        firstPass.putIfAbsent("soak_cc_chain_rounds_warm", wr)
        recordRun("soak_cc_chain_rounds_warm", wr)
        sec + warmSec
      }
      soakLeg("soak_cc_chain_local", slowSec = 10.0) { () =>
        // the same chain through the default path: its snapshot is under the
        // heap-derived bound, so union-find on the driver closes it in 0
        // rounds — the per-round job latency the distributed legs pay is
        // what this leg's time saves
        val n = ccN
        val c0 = System.nanoTime()
        val (cc, rounds) = graft.operators.Dedup
          .connectedComponentsWithRounds(ccChain(n), "src", "dst")
        requireOneChain(cc, n, "local CC soak")
        val sec = (System.nanoTime() - c0) / 1e9
        require(rounds == 0, s"local CC soak ran $rounds distributed rounds: " +
          s"the ${2 * (n - 1)}-row snapshot exceeds the local bound " +
          s"${graft.operators.Dedup.localComponentsBound}")
        sec
      }
      soakLeg("soak_lsh_sigs", slowSec = 25.0) { () =>
        // The LSH bucket-cap claim: a degenerate corpus slice (boilerplate,
        // empty docs) lands in ONE band bucket, and without the maxBucket
        // guard that bucket alone emits a quadratic pair set. Synthetic
        // signature corpus (2^18 default; SPARK_GRAFT_SOAK_LSH_N):
        //  - ids ≡ 0 (mod 100): one shared signature — a ~n/100-member
        //    mega-bucket, far past the 1000 cap, which must contribute
        //    ZERO pairs (uncapped it would be ~(n/100)²/2 ≈ 3.4M at the
        //    default n, 5·10⁹ at 10⁷ docs);
        //  - ids ≡ 1..5 (mod 1000): five-member duplicate clusters that
        //    must SURVIVE the cap — exactly C(5,2)=10 pairs each;
        //  - everything else: unique pseudorandom signatures. A band-hash
        //    collision between unique docs is possible but then fails the
        //    agreement threshold, so the expected pair count is EXACT.
        val n = sys.env.getOrElse("SPARK_GRAFT_SOAK_LSH_N", "262144").toLong
        require(n >= 1000, s"soak_lsh_sigs needs n >= 1000, got $n")
        val g = when(pmod(col("id"), lit(100L)) === 0L, lit(-1L))
          .when(pmod(col("id"), lit(1000L)).between(1L, 5L),
            expr("id div 1000") + 1L)
          .otherwise(col("id") + 1000000000L)
        val sigs = spark.range(0, n).select(col("id"),
          array((0 until 64).map(i => xxhash64(lit(i), g)): _*).as("sig"))
        val t0 = System.nanoTime()
        val (pairs, release) = graft.operators.Dedup
          .candidatePairsOfSignatures(sigs)
        val agg = pairs.agg(count(lit(1)), min(col("est_jaccard"))).head
        val sec = (System.nanoTime() - t0) / 1e9
        release()
        // Exact per-cluster count: cluster k holds ids {1000k+1 .. 1000k+5}
        // clipped to [0, n) — a trailing PARTIAL cluster (n mod 1000 in 2..5)
        // still shares one signature and emits C(m,2) pairs, so sum the
        // binomials instead of assuming every cluster has all 5 members.
        val expected = (0L until (n + 999) / 1000).map { k =>
          val m = math.min(5L, math.max(0L, n - (1000L * k + 1)))
          m * (m - 1) / 2
        }.sum
        require(agg.getLong(0) == expected,
          s"LSH soak pair count ${agg.getLong(0)} != expected $expected " +
            "(cap broken → quadratic mega-bucket leaked, or clusters lost)")
        require(agg.getDouble(1) == 1.0,
          s"LSH soak min est_jaccard ${agg.getDouble(1)} != 1.0 " +
            "(a non-duplicate pair passed the threshold)")
        sec
      }
      soakLeg("soak_emb_clusters", slowSec = 40.0) { () =>
        // The embedding-cluster-tier scale claim, MEASURED: a million-vector
        // corpus driven through the PRUNED multi-table LSH candidate
        // generator into full-coverage component assignments — the q103/q104
        // pipeline at 2000x the gate SF's vector count, with an exactly
        // checkable structure. Synthetic corpus: clusters of 5 IDENTICAL
        // vectors (cluster c's vector = the dim-20 ±1 sign pattern of c's
        // bits), so in-cluster cosine is exactly 1.0 while any two distinct
        // clusters differ in >= 1 of 20 signs (cosine <= 0.9 < the 0.95
        // threshold) — bucket collisions between clusters become candidates
        // but can never pass the exact gate, making the expected output
        // EXACT: every vector in a 5-cluster, n/5 canonicals, C(5,2)
        // pairs per cluster. Config 2 tables x 18 planes, radius 0: ~0.76
        // expected cluster-signatures per bucket at 10^6 rows — candidates
        // scale with bucket population, and the physical plan is asserted
        // cartesian-free (the same no-crossJoin property q103's spec pins
        // at the gate SF).
        // Default 2*10^5 (~13 s) keeps the per-round bench affordable; the
        // one-off MILLION-vector deep soak (SPARK_GRAFT_SOAK_EMB_N=1000000;
        // 258.7 s at r9, re-measured 214.4 s at r12 on the warm-start code —
        // both recorded in PLANS.md) validated the identical exact
        // structure at 2000x the gate SF's vector count.
        val n = sys.env.getOrElse("SPARK_GRAFT_SOAK_EMB_N", "200000").toLong
        require(n % 5 == 0 && n / 5 <= (1L << 20),
          s"soak_emb_clusters needs n % 5 == 0 and n/5 <= 2^20, got $n")
        val pows = typedLit((0 until 20).map(j => 1L << j).toArray)
        val vecs = spark.range(0, n)
          .select(col("id"), expr("id div 5").as("c"))
          .select(col("id"), transform(sequence(lit(0), lit(19)), i =>
            when(pmod(floor(col("c") / element_at(pows, i + lit(1))).cast("long"),
              lit(2L)) === 1L, lit(1.0f)).otherwise(lit(-1.0f))).as("vec"))
        val t0 = System.nanoTime()
        val pairs = graft.operators.Similarity.cosineNearDupPairs(
          vecs, "id", "vec", threshold = 0.95, numPlanes = 18, dim = 20,
          probeRadius = 0, numTables = 2)
        val physical = pairs.queryExecution.executedPlan.toString
        require(!physical.contains("CartesianProduct") &&
          !physical.contains("BroadcastNestedLoopJoin"),
          "pruned candidate generator planned a cartesian product")
        val asg = graft.operators.Dedup.componentAssignments(
          vecs.select(col("id")), "id", pairs, "id_a", "id_b")
        val agg = asg.agg(count(lit(1)),
          sum(when(col("cluster_size") === 5L, 1L).otherwise(0L)),
          sum(col("is_canonical"))).head
        val sec = (System.nanoTime() - t0) / 1e9
        require(agg.getLong(0) == n && agg.getLong(1) == n,
          s"soak_emb_clusters: ${agg.getLong(1)}/${agg.getLong(0)} rows in " +
            s"5-clusters, expected all $n (candidates lost or spurious merge)")
        require(agg.getLong(2) == n / 5,
          s"soak_emb_clusters: ${agg.getLong(2)} canonicals != ${n / 5}")
        sec
      }
      soakLeg("soak_cluster_service", slowSec = 25.0) { () =>
        // The MAINTENANCE SERVICE at synthetic scale: the soak_emb_clusters
        // corpus (5-member identical-vector clusters, exact expected
        // structure) arriving as THREE ascending-id batches through
        // jobs.ClusterMaintenance.foldBatch — with batch boundaries chosen
        // to STRADDLE clusters (n/3 is not a multiple of 5), so the
        // cross-batch probe path must stitch split clusters back together
        // or the exact structure check fails. Also validates the
        // two-version state retention. 50x the gate corpus by default
        // (SPARK_GRAFT_SOAK_SVC_N; the 50k run measured 36 s on a slow r10
        // host window, 34.9 s at r12 with the persisted bucket-table path —
        // three CC builds over a growing universe dominate).
        val n = sys.env.getOrElse("SPARK_GRAFT_SOAK_SVC_N", "25000").toLong
        require(n % 5 == 0 && n / 5 <= (1L << 20) && (n / 3) % 5 != 0,
          s"soak_cluster_service needs n % 5 == 0, n/5 <= 2^20, and " +
            s"cluster-straddling batch boundaries (n/3 % 5 != 0), got $n")
        val pows = typedLit((0 until 20).map(j => 1L << j).toArray)
        val vecs = spark.range(0, n)
          .select(col("id"), expr("id div 5").as("c"))
          .select(col("id").as("vec_id"), transform(sequence(lit(0), lit(19)), i =>
            when(pmod(floor(col("c") / element_at(pows, i + lit(1))).cast("long"),
              lit(2L)) === 1L, lit(1.0f)).otherwise(lit(-1.0f))).as("embedding"))
        val root = java.nio.file.Files.createTempDirectory("soak_svc").toString
        val (stateDir, corpusDir) = (s"$root/state", s"$root/corpus")
        // compactEvery=1: consolidate the corpus on EVERY fold — the
        // tightest cadence, so this soak also pins the corpus-dir bound
        // (the service must end on one generation + the last batch dir,
        // never an unbounded b= accumulation) while the straddled-cluster
        // structure check proves compaction lost no corpus rows
        val cfg = graft.jobs.ClusterMaintenance.Config(threshold = 0.95,
          numPlanes = 18, dim = 20, probeRadius = 0, numTables = 2,
          compactEvery = 1)
        val t0 = System.nanoTime()
        (0 until 3).foreach { w =>
          val lo = n * w / 3
          val hi = n * (w + 1) / 3
          graft.jobs.ClusterMaintenance.foldBatch(
            vecs.filter(col("vec_id") >= lo && col("vec_id") < hi), w.toLong,
            stateDir, corpusDir, "vec_id", "embedding", cfg)
        }
        val asg = graft.jobs.ClusterMaintenance.latestAssignment(spark, stateDir)
        val agg = asg.agg(count(lit(1)),
          sum(when(col("cluster_size") === 5L, 1L).otherwise(0L)),
          sum(col("is_canonical"))).head
        val sec = (System.nanoTime() - t0) / 1e9
        require(agg.getLong(0) == n && agg.getLong(1) == n,
          s"service soak: ${agg.getLong(1)}/${agg.getLong(0)} rows in " +
            s"5-clusters, expected all $n (a straddled cluster was not stitched)")
        require(agg.getLong(2) == n / 5,
          s"service soak: ${agg.getLong(2)} canonicals != ${n / 5}")
        // default snapshotEvery=8 over 3 folds: fold 0 anchors the v=0
        // snapshot, folds 1/2 write batch-proportional deltas — the soak's
        // structure check above therefore validates the (v=0, d=1, d=2)
        // latest-fold-wins reconstruction at synthetic scale
        val versions = new java.io.File(stateDir).listFiles()
          .map(_.getName).filter(n => n.startsWith("v=") || n.startsWith("d="))
          .sorted.toSeq
        require(versions == Seq("d=1", "d=2", "v=0"),
          s"service soak: retention left $versions, expected [d=1, d=2, v=0]")
        // the batch-proportional-write claim MEASURED: fold 2's delta is
        // exactly (batch-2 ids ∪ members of affected clusters) — here the
        // batch's own tercile plus the ≤ 4 earlier members of the one
        // 5-cluster straddling the b1/b2 boundary — while the accumulated
        // corpus at that fold is the full 2n/3 ∪ n/3 = n. Recorded as a
        // bench observable (rows, not seconds) so the per-fold state-write
        // volume is a tracked number, not a narrative claim.
        val d2rows = spark.read.parquet(s"$stateDir/d=2").count()
        val batch2 = n - n * 2 / 3
        require(d2rows >= batch2 && d2rows <= batch2 + 4,
          s"service soak: fold-2 delta wrote $d2rows rows, expected " +
            s"[$batch2, ${batch2 + 4}] (batch tercile + straddled members)")
        results.put("soak_cluster_delta_rows", d2rows.toDouble)
        firstPass.putIfAbsent("soak_cluster_delta_rows", d2rows.toDouble)
        recordRun("soak_cluster_delta_rows", d2rows.toDouble)
        val cdirs = new java.io.File(corpusDir).listFiles()
          .map(_.getName).filter(n => n.startsWith("b=") || n.startsWith("gen="))
          .sorted.toSeq
        require(cdirs == Seq("b=2", "gen=1"),
          s"service soak: corpus compaction left $cdirs, expected [b=2, gen=1]")
        sec
      }
      soakLeg("soak_pack_10m", slowSec = 16.0) { () =>
        val n = 10000000L
        val docs = spark.range(0, n).select(col("id").as("doc_id"),
          (lit(1L) + pmod(col("id") * 2654435761L, lit(997L))).as("n_tokens"))
        val p0 = System.nanoTime()
        val (packed, release) = graft.operators.Packing
          .packSequencesReleasable(docs, "doc_id", "n_tokens", capacity = 2048)
        // the hierarchical-prefix-sum claim, checked on the OPERATOR'S OWN
        // PLAN (an input-derived bucket histogram is a tautology — distinct
        // ids can't exceed the width by construction): every window must be
        // partitioned, except the bucket-base prefix whose frame is the
        // per-bucket aggregate (bounded by the bucket count). A regression
        // to a single-partition row window would fail here.
        packed.queryExecution.optimizedPlan.foreach {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty =>
            val agg = w.child.collectFirst {
              case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
            require(agg.exists(_.groupingExpressions.exists(
                _.toString.contains("bucket"))),
              s"pack soak: unpartitioned window over a non-bucket frame:\n" +
                w.treeString.take(2000))
          case _ => ()
        }
        val stats = packed.agg(count(lit(1)),
          max(col("seq_id") * 2048L + col("seq_offset") + col("n_tokens")),
          sum(col("n_tokens"))).head
        val sec = (System.nanoTime() - p0) / 1e9
        release()
        // conservation: every doc packed, positions contiguous — the max
        // end position equals the total token count exactly; wrong bucket
        // bases or a broken intra-bucket sum cannot conserve this
        require(stats.getLong(0) == n && stats.getLong(1) == stats.getLong(2),
          s"pack soak broke conservation: ${stats.toString}")
        sec
      }
    }

    // Per-query scaling probe: time each query once at sf0.01 and report the
    // main-dir/sf0.01 ratio. ~10x data should cost ~10x at worst for linear
    // operators; a ratio far above ~15 is a latent quadratic. Diagnostic
    // only — never folded into the headline value.
    val scaling = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val scalingSmall = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val scalingDir = sys.env.getOrElse("SPARK_GRAFT_SCALING_DIR", "/root/testdata/sf0.01")
    // Queries whose work is independent of the data dir (pi, puzzle searches,
    // digit extraction): a second run costs full constant time for a ratio of
    // ~1.0 that carries no quadratic-detection signal — skip them.
    val dirIndependent = Set("q34_pi", "q46_bbp", "q47_pentomino", "q50_sudoku",
      "q61_pentomino_onesided")
    if (only.isEmpty && sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"
        && scalingDir != sfDir) {
      // same untimed stage warmup as the main pass (the SAME consumer
      // list — q118/q119 were previously missing here, so their ratios
      // compared a warmed main-dir run against a cold scaling-dir run that
      // absorbed the one-time staging), at the scaling dir — the
      // staged-consumer entries' ratios must compare increment to
      // increment, not (clean big) / (build+read small)
      selected.foreach { case (name, fn) => stageWarm(name, fn, scalingDir) }
      selected.filterNot(q => dirIndependent(q._1)).foreach { case (name, fn) =>
        val q0 = System.nanoTime()
        try {
          fn(spark, scalingDir).write.mode("overwrite").format("noop").save()
          val small = (System.nanoTime() - q0) / 1e9
          val big = results.getOrDefault(name, -1.0)
          if (small > 0 && big > 0) {
            scaling.put(name, big / small)
            scalingSmall.put(name, small)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] scaling $name failed: ${e.getMessage}")
        }
      }
    }

    // Scaling-regression tracking: compare this run's ratios against the
    // persisted prior-round ratios; a query whose ratio more than DOUBLES is
    // a plan regression the absolute numbers can hide (the ratio is computed
    // within one run, so host slow windows largely cancel). Regressions are
    // reported AND counted into "failed" so a regressed round can't look
    // clean. Guards against noise: only queries currently >= 1 s at the main
    // scale and with ratio > 3 can flag.
    val scalingRegressions = scala.collection.mutable.ArrayBuffer[String]()
    val basePath = sys.env.getOrElse("SPARK_GRAFT_SCALING_BASELINE", "scaling_baseline.json")
    // Ratios are only comparable between runs measured at the SAME
    // (main-dir, scaling-dir) pair: a run with SPARK_GRAFT_SF_DIR=sf0.01
    // (ratio ~1) would otherwise overwrite the baseline with incomparable
    // numbers and mass-flag the next normal run. The pair is embedded in
    // the baseline file; on mismatch the prior baseline is DISCARDED (no
    // comparison, fresh ratchet at the new pair).
    val dirsTag = s"$sfDir|$scalingDir"
    // __-prefixed keys are file metadata, not ratio entries: __dirs (the
    // measurement pair) and __calib (the quietest calib_cpu probe among
    // the runs that seeded this baseline — the reseed gate's reference).
    // "abs:"-prefixed keys are the ABSOLUTE-time baseline (probe-normalized
    // per-entry seconds at the main scale — r16 verdict item 1b), ratcheted
    // and gated exactly like the ratio entries but judged by absSuspicious.
    val (prev, prevAbs, prevCalib): (Map[String, Double], Map[String, Double], Option[Double]) =
      if (scaling.isEmpty) (Map.empty, Map.empty, None)
      else try {
        val p = java.nio.file.Paths.get(basePath)
        if (java.nio.file.Files.exists(p)) {
          val txt = java.nio.file.Files.readString(p)
          val prevTag = "\"__dirs\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
          if (prevTag.contains(dirsTag)) {
            val all = "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(txt)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
            (all.filterNot { case (k, _) => k.startsWith("__") || k.startsWith("abs:") },
             all.collect { case (k, v) if k.startsWith("abs:") => k.stripPrefix("abs:") -> v },
             all.get("__calib"))
          } else {
            System.err.println(s"[bench] scaling baseline measured at " +
              s"${prevTag.getOrElse("<untagged>")}, this run is $dirsTag — starting fresh")
            (Map.empty, Map.empty, None)
          }
        } else (Map.empty, Map.empty, None)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scaling baseline read failed: ${e.getMessage}")
        (Map.empty, Map.empty, None)
      }
    import scala.jdk.CollectionConverters._
    // The run's SLOWEST successful calib_cpu probe — the statistic the
    // reseed gate judges (a window that turned noisy mid-run cannot
    // certify itself with its quiet opening bracket) and the absolute
    // tracker normalizes by.
    def worstProbe(): Double = Option(allRuns.get("calib_cpu"))
      .map(_.asScala.filter(_ > 0)) match {
      case Some(xs) if xs.nonEmpty => xs.max
      case _                       => -1.0
    }
    if (!scaling.isEmpty) {
      // Candidate regressions get the same stall defense the absolute
      // numbers have: re-measure BOTH scales and recompute the ratio from
      // per-scale minima/medians — a single host slow window inflating
      // either side must persist across two passes to flag. (A real plan
      // regression reproduces; noise doesn't — one observed false positive
      // was a first pass 3.98 s sitting just under the re-bench threshold.)
      // The whole screen -> confirm composition lives in ratchetVerdict
      // (pure over the timing thunks, spec-driven); this loop only wires
      // the real timers in.
      scaling.forEach { (name, ratio0) =>
        prev.get(name).foreach { p =>
          val fn = selected.toMap.apply(name)
          val (ratio2, flagged) = ratchetVerdict(
            ratio0, p,
            big0 = results.getOrDefault(name, 0.0),
            small0 = scalingSmall.getOrDefault(name, -1.0),
            retimeBig = () => {
              val t = timeOnce(s"rescale:$name", fn); recordRun(name, t); t
            },
            retimeSmall = n => (1 to n).flatMap { _ =>
              val q0 = System.nanoTime()
              try {
                fn(spark, scalingDir).write.mode("overwrite").format("noop").save()
                Some((System.nanoTime() - q0) / 1e9)
              } catch { case _: Throwable => None }
            })
          scaling.put(name, ratio2)
          if (flagged) {
            // denominator-improvement screen (see scaladoc): the flag
            // stands only if the main-scale leg also GREW past its
            // probe-normalized absolute baseline — a ratio doubled by a
            // faster sf0.01 leg is an optimization, not a regression
            val norm = probeNormalize(results.getOrDefault(name, -1.0),
              prevCalib, worstProbe())
            if (denominatorImprovement(norm, prevAbs.get(name)))
              System.err.println(f"[bench] scaling ratio of $name rose to " +
                f"$ratio2%.2f (baseline $p%.2f) but its main-scale time " +
                f"$norm%.3f s is within the absolute baseline " +
                f"${prevAbs(name)}%.3f s — denominator improvement, not flagged")
            else scalingRegressions += name
          }
        }
      }
    }

    // end-of-run calibration sample: brackets the window the run saw
    runCalib(initial = false)

    // Absolute-time ratchet (r16 verdict item 1): per-entry probe-normalized
    // absolutes against the persisted "abs:" baseline — the class the ratio
    // tracker is structurally blind to (a regression inflating BOTH scale
    // legs equally cancels out of the ratio; observed r16: q88 25.0 s vs
    // its 8.8-12.1 s band, q65 8.7 s vs ~3.2 s, ratios unchanged). Runs
    // after the closing probe so normalization sees the full bracket. A
    // candidate is re-timed once (min-of-passes — a stall must reproduce);
    // if any candidate re-timed, one more probe re-brackets the window for
    // the reseed gate below. Queries only: tera/mrbench/soak entries carry
    // their own in-harness bounds and stage attribution.
    val absRegressions = scala.collection.mutable.ArrayBuffer[String]()
    val absNorm = scala.collection.mutable.Map[String, Double]()
    if (!scaling.isEmpty) {
      val selMap = selected.toMap
      val probe0 = worstProbe()
      var retimed = false
      selMap.keys.toSeq.sorted.foreach { name =>
        val v = results.getOrDefault(name, -1.0)
        if (v > 0) {
          val (norm, flagged) = absVerdict(v,
            prevAbs.getOrElse(name, Double.PositiveInfinity),
            prevCalib, probe0,
            retime = () => {
              retimed = true
              val t = timeOnce(s"reabs:$name", selMap(name))
              if (t > 0) {
                recordRun(name, t)
                if (t < results.getOrDefault(name, Double.MaxValue))
                  results.put(name, t)
              }
              t
            })
          absNorm(name) = norm
          if (flagged) {
            absRegressions += name
            System.err.println(f"[bench] ABSOLUTE regression $name: " +
              f"${norm}%.3f s normalized vs baseline ${prevAbs(name)}%.3f s " +
              "(ratio-invisible class — reproduce on a quiet close before trusting)")
          }
        }
      }
      if (retimed) runCalib(initial = false)
    }

    // Baseline reseed — AFTER the closing probe on purpose: the gate judges
    // the run's SLOWEST probe (start or end), so a window that turned noisy
    // mid-run cannot certify itself with its quiet opening bracket.
    // reseedRefused records the gate FIRING for the run record (r16 verdict
    // item 3: refusals were stderr-only; the JSON must carry them).
    var reseedRefused: Option[(Double, Double)] = None
    if (!scaling.isEmpty) {
      try {
        // Probe-gated: a noisy-window run (calib_cpu outside the band of
        // the baseline's recorded probe) may tighten and introduce entries
        // but never loosen one — see gatedRatchetBaseline. The ratio and
        // absolute baselines ride the SAME gate decision (one window, one
        // verdict); nextCalib is identical from both calls, keep the first.
        val worst = worstProbe()
        val (reseeded, nextCalib) = gatedRatchetBaseline(prev,
          scaling.asScala.toMap, scalingRegressions.toSet, prevCalib, worst)
        val (reseededAbs, _) = gatedRatchetBaseline(prevAbs,
          absNorm.toMap, absRegressions.toSet, prevCalib, worst)
        val quiet = worst > 0 && prevCalib.forall(pc => worst <= pc * CalibReseedBand)
        if (!quiet) {
          reseedRefused = Some((worst, prevCalib.getOrElse(-1.0)))
          System.err.println(f"[bench] calib_cpu $worst%.3f outside " +
            f"${CalibReseedBand}x of baseline probe ${prevCalib.getOrElse(-1.0)}%.3f — " +
            "noisy window: baseline entries may tighten but not loosen")
        }
        val persisted = reseeded.toSeq.sortBy(_._1) ++
          reseededAbs.toSeq.sortBy(_._1).map { case (k, v) => ("abs:" + k, v) }
        val meta = ("\"__dirs\":\"" + dirsTag + "\"") +:
          nextCalib.toSeq.map(c =>
            "\"__calib\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(c)))
        val line = (meta ++ persisted
          .map { case (k, v) => "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) })
          .mkString("{", ",", "}")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(basePath), line + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scaling baseline write failed: ${e.getMessage}")
      }
    }

    val wall = (System.nanoTime() - t0) / 1e9
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val entries = results.asScala.toSeq.sortBy(_._1)
    val failed = entries.filter(_._2 < 0).map(_._1).sorted
    val qs = jmap(entries.filter(_._2 > 0))
    val firsts = firstPass.asScala.toSeq.filter(_._2 > 0).sortBy(_._1)
    // mrbench_*_min/max are order statistics over the SAME runs mrbench_*_avg
    // summarizes — summing them would triple-count the micro-job loops; the
    // gridmix percentiles are latency statistics, not sequential work; the
    // soak rounds/rows entries are COUNT observables, not seconds ("_rounds"
    // must match infix too: soak_cc_chain_rounds_warm leaked 11 "seconds"
    // into the additive totals from the run it landed until this fix).
    // calib_* are host-speed observables, not engine work — additive totals
    // must stay comparable with pre-probe rounds
    def additive(name: String): Boolean =
      !(name.startsWith("mrbench") && (name.endsWith("_min") || name.endsWith("_max"))) &&
        !name.startsWith("gridmix") && !name.contains("_rounds") &&
        !name.endsWith("_rows") && !name.startsWith("calib_")
    val total = entries.filter(e => e._2 > 0 && additive(e._1)).map(_._2).sum
    val firstTotal = firsts.filter(e => additive(e._1)).map(_._2).sum
    // Median over every recorded measurement of each entry (single-sample
    // entries report that sample): the round-over-round comparison statistic
    // a stall window cannot drag and a lucky pass cannot flatter.
    val medians = allRuns.asScala.toSeq.map { case (name, q) =>
      val xs = q.asScala.toSeq.sorted
      val m = if (xs.size % 2 == 1) xs(xs.size / 2)
              else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
      name -> m
    }.sortBy(_._1)
    val medianTotal = medians.filter(e => additive(e._1)).map(_._2).sum
    val allFailed = failed ++ scalingRegressions.sorted.map("scaling_regression:" + _) ++
      absRegressions.sorted.map("abs_regression:" + _)
    val failedJson = allFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regressionsJson = scalingRegressions.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val absRegressionsJson = absRegressions.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // reseed_refused: the probe gate fired — this window could tighten but
    // not loosen the persisted baselines (probe/ref quoted for the record)
    val reseedJson = reseedRefused match {
      case Some((rp, rr)) =>
        s""""reseed_refused":true,"reseed_probe":${num(rp)},"reseed_ref":${num(rr)},"""
      case None => s""""reseed_refused":false,"""
    }
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,""" +
      s""""first":${jmap(firsts)},"first_total":${num(firstTotal)},""" +
      s""""median":${jmap(medians)},"median_total":${num(medianTotal)},""" +
      s""""tera_stages":${jmap(teraStages.toSeq)},""" +
      s""""failed":${allFailed.size},"failed_entries":$failedJson,""" +
      s""""scaling":${jmap(scaling.asScala.toSeq.sortBy(_._1))},""" +
      s""""scaling_regressions":$regressionsJson,""" +
      s""""abs_regressions":$absRegressionsJson,""" + reseedJson +
      s""""wall":${num(wall)},"sf":"$sfDir"}"""
    // Durable copy: round 1's JSON line was buried in sbt [info] noise and the
    // driver recorded parsed:null. Write the line to a file as well, and print
    // it AFTER spark.stop() so it is the process's last stdout line.
    val outPath = sys.env.getOrElse("BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    spark.stop()
    println(line)
  }
}
