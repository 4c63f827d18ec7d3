package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("warm_s sums each key's median warm time and skips keys without one") {
    val perKey = Map(
      "a" -> Seq(1.0, 3.0, 2.0),   // median 2
      "b" -> Seq(0.5, 0.7),        // median 0.6
      "failed" -> Seq.empty[Double])
    assert(math.abs(Stats.warmSum(perKey) - 2.6) < 1e-12)
    assert(Stats.warmSum(Map.empty) == 0.0)
  }

  test("skew is max over median task time, 1 for an even or empty stage") {
    assert(Stats.skew(Seq(10.0, 10.0, 10.0)) == 1.0)
    assert(Stats.skew(Seq(10.0, 10.0, 40.0)) == 4.0)
    assert(Stats.skew(Nil) == 1.0)
    assert(Stats.skew(Seq(0.0, 0.0)) == 1.0)
  }

  test("pass summaries: counters summed over keys' medians, maxima maxed") {
    val k1 = Seq(Map("exec.task_s" -> 1.0, "exec.peak_mem_mb" -> 5.0, "scan.input_mb" -> 2.0,
      "sink.written_mb" -> 1.0), Map("exec.task_s" -> 3.0, "exec.peak_mem_mb" -> 9.0,
      "scan.input_mb" -> 2.0, "sink.written_mb" -> 1.0))
    val k2 = Seq(Map("exec.task_s" -> 0.5, "scan.input_mb" -> 2.0))
    val s = Layers.summarize(Seq(k1, k2), Seq(1.0, 3.0, 2.0))
    assert(s("exec.task_s") == 2.5)
    assert(s("exec.peak_mem_mb") == 9.0)
    assert(s("exec.skew") == 2.0)
    assert(s("sink.write_amp") == 0.25)
    assert(s("stream.batches") == 0.0)
  }
}
