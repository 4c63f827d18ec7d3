package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val registry = thrivespark.Registry.queries.keySet

  test("every workload key is a registry key") {
    Workloads.keys.foreach { case (w, keys) =>
      assert(keys.nonEmpty, w)
      assert(keys.distinct == keys, w)
      assert(Workloads.missing(keys, registry).isEmpty, w)
    }
  }

  test("an unknown key is reported, not dropped") {
    assert(Workloads.missing(Seq("agg_rollup", "no_such_key"), registry) == Seq("no_such_key"))
  }

  test("the seeded order is a permutation, fixed by the seed") {
    val keys = Workloads.keys("llm_corpus")
    val a = Workloads.order(keys, 7)
    assert(a.sorted == keys.sorted)
    assert(Workloads.order(keys, 7) == a)
    assert((1L to 20L).map(Workloads.order(keys, _)).distinct.size > 1)
  }

  test("the expected file covers every workload key") {
    val expected = Main.loadExpected("expected.json")
    Workloads.keys.values.flatten.foreach(k => assert(expected.contains(k), k))
  }
}
