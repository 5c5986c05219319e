package graft.bench

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import Kind.{Count, Seconds, Stat}

/** The bench's one measurement path, driven by fake passes: what the JSON
  * statistics are computed from, and the stall-defense rules every leg runs
  * under. */
class SampleLogSpec extends AnyFlatSpec with Matchers {

  /** A leg body returning the scripted passes in order; a `None` pass throws.
    * Also counts how many passes ran. */
  final class Script(passes: Option[Seq[(String, Double)]]*) {
    var ran = 0
    def apply(pass: Int): Seq[(String, Double)] = {
      pass shouldBe ran
      ran += 1
      passes(pass).getOrElse(throw new RuntimeException(s"pass $pass failed"))
    }
  }

  "SampleLog" should "compute min, first and median from the recorded samples" in {
    val log = new SampleLog
    log.declare("q", Seconds)
    Seq(3.0, 1.0, 2.0).foreach(log.record("q", _))
    log.declare("even", Seconds)
    Seq(4.0, 1.0).foreach(log.record("even", _))
    log.queries shouldBe Seq("even" -> 1.0, "q" -> 1.0)
    log.first shouldBe Seq("even" -> 4.0, "q" -> 3.0)
    log.median shouldBe Seq("even" -> 2.5, "q" -> 2.0)
    log.samples("q") shouldBe Seq(3.0, 1.0, 2.0)
    (log.total, log.firstTotal, log.medianTotal) shouldBe ((2.0, 7.0, 4.5))
  }

  it should "let a min-exempt re-time enter the median but not the minimum" in {
    val log = new SampleLog
    log.declare("q", Seconds)
    log.record("q", 4.0)
    log.record("q", 1.0, inMin = false) // the scaling confirmation's rescale: re-time
    log.record("q", 3.0)                // an absolute-ratchet reabs: re-time
    log.min("q") shouldBe 3.0
    log.median shouldBe Seq("q" -> 3.0)
  }

  it should "keep an entry failed when a later pass succeeds" in {
    val log = new SampleLog
    log.declare("q", Seconds)
    log.record("q", -1.0)
    log.record("q", 2.0)
    log.failed shouldBe Seq("q")
    log.min("q") shouldBe -1.0
    log.queries shouldBe empty
    log.first shouldBe empty
    log.median shouldBe empty
    log.total shouldBe 0.0
  }

  it should "keep the measured samples when a later attempt fails" in {
    val log = new SampleLog
    log.declare("q", Seconds)
    log.record("q", 2.0)
    log.record("q", -1.0)
    log.failed shouldBe empty
    log.queries shouldBe Seq("q" -> 2.0)
  }

  it should "sum only declared Seconds entries, whatever their names" in {
    val log = new SampleLog
    Seq("mrbench_avg" -> Seconds, "soak_rounds" -> Seconds, "leg_min" -> Seconds,
      "work_seconds" -> Stat, "plain" -> Stat, "delta_rows" -> Count, "runtime" -> Count)
      .foreach { case (n, k) => log.declare(n, k) }
    Seq("mrbench_avg" -> 1.0, "soak_rounds" -> 2.0, "leg_min" -> 4.0,
      "work_seconds" -> 100.0, "plain" -> 200.0, "delta_rows" -> 8000.0, "runtime" -> 16.0)
      .foreach { case (n, v) => log.record(n, v) }
    log.total shouldBe 7.0
    log.firstTotal shouldBe 7.0
    log.medianTotal shouldBe 7.0
    log.queries.map(_._1) should contain allOf ("work_seconds", "plain")
  }

  it should "report Count entries only under counts" in {
    val log = new SampleLog
    log.declare("soak_cc_chain", Seconds)
    log.declare("soak_cc_chain_rounds", Count)
    log.record("soak_cc_chain", 20.0)
    Seq(18.0, 19.0).foreach(log.record("soak_cc_chain_rounds", _))
    log.counts shouldBe Seq("soak_cc_chain_rounds" -> 18.0)
    Seq(log.queries, log.first, log.median).foreach(_.map(_._1) shouldBe Seq("soak_cc_chain"))
  }

  it should "refuse an undeclared entry and a kind declared twice differently" in {
    val log = new SampleLog
    an[IllegalArgumentException] should be thrownBy log.record("q", 1.0)
    log.declare("q", Seconds)
    an[IllegalArgumentException] should be thrownBy log.declare("q", Stat)
  }

  "SampleLog.leg" should "fail every name of the leg when the first pass throws" in {
    val log = new SampleLog
    val once = new Script(None)
    log.leg(Seq("a" -> Seconds, "b" -> Stat, "c" -> Count), Some(1.0))(once(_))
    once.ran shouldBe 1
    log.failed shouldBe Seq("a", "b", "c")
    log.queries shouldBe empty
    log.counts shouldBe empty
  }

  it should "re-run a slow pass once and keep each entry's minimum" in {
    val log = new SampleLog
    val once = new Script(Some(Seq("a" -> 5.0, "b" -> 1.0)), Some(Seq("a" -> 3.0, "b" -> 2.0)))
    log.leg(Seq("a" -> Seconds, "b" -> Seconds), Some(4.0))(once(_))
    once.ran shouldBe 2
    log.queries shouldBe Seq("a" -> 3.0, "b" -> 1.0)
    log.first shouldBe Seq("a" -> 5.0, "b" -> 1.0)
    log.samples("b") shouldBe Seq(1.0, 2.0)
  }

  it should "keep the first pass when the re-run throws" in {
    val log = new SampleLog
    val once = new Script(Some(Seq("a" -> 5.0)), None)
    log.leg(Seq("a" -> Seconds), Some(4.0))(once(_))
    once.ran shouldBe 2
    log.failed shouldBe empty
    log.queries shouldBe Seq("a" -> 5.0)
  }

  it should "re-run on a slow Stat sample but never on a Count sample" in {
    val statLog = new SampleLog
    val statOnce = new Script(Some(Seq("p50" -> 1.0, "p95" -> 6.0)), Some(Seq("p50" -> 2.0, "p95" -> 5.0)))
    statLog.leg(Seq("p50" -> Stat, "p95" -> Stat), Some(4.0))(statOnce(_))
    statOnce.ran shouldBe 2
    statLog.queries shouldBe Seq("p50" -> 1.0, "p95" -> 5.0)

    val countLog = new SampleLog
    val countOnce = new Script(Some(Seq("leg" -> 3.0, "rows" -> 8000.0)))
    countLog.leg(Seq("leg" -> Seconds, "rows" -> Count), Some(4.0))(countOnce(_))
    countOnce.ran shouldBe 1
    countLog.counts shouldBe Seq("rows" -> 8000.0)
  }

  it should "never re-run a leg without a threshold" in {
    val log = new SampleLog
    val once = new Script(Some(Seq("a" -> 500.0)))
    log.leg(Seq("a" -> Seconds))(once(_))
    once.ran shouldBe 1
    log.queries shouldBe Seq("a" -> 500.0)
  }

  it should "keep earlier samples when a repeated leg's first pass throws" in {
    // the closing calibration probe runs the calib legs again
    val log = new SampleLog
    log.leg(Seq("calib_cpu" -> Stat))(new Script(Some(Seq("calib_cpu" -> 1.2)))(_))
    log.leg(Seq("calib_cpu" -> Stat))(new Script(None)(_))
    log.leg(Seq("calib_cpu" -> Stat))(new Script(Some(Seq("calib_cpu" -> 1.4)))(_))
    log.failed shouldBe empty
    log.samples("calib_cpu") shouldBe Seq(1.2, 1.4)
    log.first shouldBe Seq("calib_cpu" -> 1.2)
  }
}
