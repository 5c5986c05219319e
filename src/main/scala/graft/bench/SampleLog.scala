package graft.bench

import scala.collection.mutable

/** What a bench entry's number means. The leg that measures an entry
  * declares its kind; the entry's name never decides it. */
sealed trait Kind
object Kind {
  /** Additive engine work in seconds: the only kind summed into the totals. */
  case object Seconds extends Kind
  /** Seconds that summarize other work (an order statistic over runs
    * another entry already sums, a latency percentile, a host-speed
    * probe): reported next to the work, never added to it. */
  case object Stat extends Kind
  /** Not seconds at all (rounds, rows): reported under "counts" only. */
  case object Count extends Kind
}

/** One successful measurement. `inMin = false` marks a re-time that enters
  * the median but may not lower the reported minimum: the scaling
  * confirmation's main-scale re-time, whose minimum the ratio verdict
  * takes for itself. */
final case class Sample(value: Double, inMin: Boolean = true)

/** The bench's one sample log. Per entry it holds the declared kind, every
  * successful sample in recording order and whether the first attempt
  * failed; every statistic of the JSON record is computed from it. Legs
  * record from the driver's main thread only. */
final class SampleLog {
  private final class Entry(val kind: Kind) {
    val samples = mutable.ArrayBuffer[Sample]()
    var failed = false
    def min: Double = samples.filter(_.inMin).map(_.value).min
    def median: Double = {
      val xs = samples.map(_.value).sorted
      if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
    }
  }
  private val entries = mutable.Map[String, Entry]()

  def declare(name: String, kind: Kind): Unit = {
    val e = entries.getOrElseUpdate(name, new Entry(kind))
    require(e.kind == kind, s"bench entry $name declared ${e.kind}, then $kind")
  }

  /** One attempt at a declared entry. A positive value is a sample; any
    * other value is a failure, which fails the entry only while it has no
    * sample: a failed re-measurement keeps what was measured, and a later
    * success never clears a first-attempt failure. */
  def record(name: String, v: Double, inMin: Boolean = true): Unit = {
    val e = entries.getOrElse(name,
      throw new IllegalArgumentException(s"undeclared bench entry $name"))
    require(inMin || e.samples.nonEmpty, s"$name: a min-exempt sample cannot come first")
    if (v > 0) e.samples += Sample(v, inMin)
    else if (e.samples.isEmpty) e.failed = true
  }

  /** Run one leg under the bench's one set of stall-defense rules. `once`
    * takes the pass index and returns the pass's samples.
    *  - A first pass that throws fails every name of the leg.
    *  - A pass with a seconds sample (Seconds or Stat) over `slowSec` is
    *    run once more and each entry keeps its minimum: a host stall
    *    window inflates one pass, not both. No threshold, no re-run.
    *  - A re-run that throws keeps the first pass. */
  def leg(names: Seq[(String, Kind)], slowSec: Option[Double] = None)
         (once: Int => Seq[(String, Double)]): Unit = {
    names.foreach { case (n, k) => declare(n, k) }
    def recordAll(xs: Seq[(String, Double)]): Unit = xs.foreach { case (n, v) => record(n, v) }
    try {
      val first = once(0)
      recordAll(first)
      val slow = slowSec.exists(s => first.exists { case (n, v) =>
        entries(n).kind != Kind.Count && v > s })
      if (slow)
        try recordAll(once(1)) catch { case e: Throwable =>
          System.err.println(s"[bench] ${names.head._1} re-run failed (keeping first pass): ${e.getMessage}")
        }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ${names.head._1} leg failed: ${e.getMessage}")
      names.foreach { case (n, _) => record(n, -1.0) }
    }
  }

  /** Every successful sample of `name`, in recording order. */
  def samples(name: String): Seq[Double] =
    entries.get(name).fold(Seq.empty[Double])(_.samples.map(_.value).toSeq)

  /** The reported minimum of `name`; -1 when it failed or has no sample. */
  def min(name: String): Double =
    entries.get(name).filter(e => !e.failed && e.samples.nonEmpty).fold(-1.0)(_.min)

  def failed: Seq[String] = entries.collect { case (n, e) if e.failed => n }.toSeq.sorted

  private def live(keep: Kind => Boolean): Seq[(String, Entry)] =
    entries.toSeq.filter { case (_, e) => !e.failed && e.samples.nonEmpty && keep(e.kind) }
      .sortBy(_._1)
  private def seconds(stat: Entry => Double): Seq[(String, Double)] =
    live(_ != Kind.Count).map { case (n, e) => n -> stat(e) }
  private def additive(m: Seq[(String, Double)]): Double =
    m.collect { case (n, v) if entries(n).kind == Kind.Seconds => v }.sum

  /** Per-entry minima: what the engine costs. */
  def queries: Seq[(String, Double)] = seconds(_.min)
  /** Per-entry first samples: what this run saw. */
  def first: Seq[(String, Double)] = seconds(_.samples.head.value)
  /** Per-entry medians over every sample. */
  def median: Seq[(String, Double)] = seconds(_.median)
  /** Count entries, each at its minimum. */
  def counts: Seq[(String, Double)] = live(_ == Kind.Count).map { case (n, e) => n -> e.min }
  def total: Double = additive(queries)
  def firstTotal: Double = additive(first)
  def medianTotal: Double = additive(median)
}
