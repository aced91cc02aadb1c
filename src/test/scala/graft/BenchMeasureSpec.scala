package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.measure]], the one healthy-sample loop behind Bench and
  * ScaleSmoke, driven by scripted sample sequences (seconds per run) —
  * no Spark, no clock. */
class BenchMeasureSpec extends AnyFunSuite {

  /** Feed `script` to measure; once it runs out, repeat its last value. */
  private def measure(repeats: Int, script: Double*) = {
    val it = script.iterator
    var last = 0.0
    Bench.measure(repeats) { if (it.hasNext) last = it.next(); last }
  }

  test("a 10x stall sample is excluded and retaken") {
    val (med, sd, samples) = measure(5, 2.0, 2.0, 20.0, 2.0, 2.0, 2.0)
    assert(samples === Seq(2.0, 2.0, 20.0, 2.0, 2.0, 2.0))
    assert(med === 2.0)
    assert(sd === 0.0)
  }

  test("sample ladder: 3x under 0.2 s, 2x under 0.5 s, 1.5x under 2 s") {
    assert(measure(5, 0.1)._3.size === 15)
    assert(measure(5, 0.3)._3.size === 10)
    assert(measure(5, 1.0)._3.size === 8)
    assert(measure(5, 2.0)._3.size === 5)
  }

  test("a host that always stalls is capped, not sampled forever") {
    // one healthy run, every later one 100x: the stall retakes stop
    // after 2x repeats extra samples, then the ladder target (15, the
    // healthy median is under 0.2 s) adds at most 2x repeats more
    val (med, _, samples) = measure(5, 0.1, 10.0)
    assert(samples.size === 15 + 2 * 5)
    assert(samples.count(_ == 0.1) === 1)
    assert(med === 0.1)
  }

  test("repeats < 1 is refused, naming SPARK_GRAFT_REPEATS") {
    val e = intercept[IllegalArgumentException](measure(0, 1.0))
    assert(e.getMessage.contains("SPARK_GRAFT_REPEATS"))
  }
}
