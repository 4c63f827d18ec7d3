package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("covered time counts overlapping intervals once and clips to the window") {
    assert(Trace.coveredMs(0, 100, Nil) == 0.0)
    assert(Trace.coveredMs(0, 100, Seq((10.0, 30.0), (20.0, 40.0))) == 30.0)
    assert(Trace.coveredMs(0, 100, Seq((50.0, 60.0), (10.0, 20.0))) == 20.0)
    assert(Trace.coveredMs(0, 100, Seq((10.0, 20.0), (20.0, 30.0))) == 20.0)
    assert(Trace.coveredMs(0, 100, Seq((-50.0, 10.0), (90.0, 150.0))) == 20.0)
    assert(Trace.coveredMs(0, 100, Seq((10.0, 90.0), (20.0, 30.0))) == 80.0)
    assert(Trace.coveredMs(0, 100, Seq((200.0, 300.0))) == 0.0)
  }

  test("self time is a span's duration minus what its own children cover") {
    //  key [0,100]
    //    ops.build [0,30]
    //      job [5,25]
    //    exec [30,100]
    //      job [40,70], job [60,90]   (overlap: they cover 40..90 once)
    //        stage [45,65]
    val spans = Seq(
      Span(1, 0, "key", "k", "cold", 0, 100),
      Span(2, 1, "ops.build", "k", "cold", 0, 30),
      Span(3, 2, "job", "k", "cold", 5, 25),
      Span(4, 1, "exec", "k", "cold", 30, 100),
      Span(5, 4, "job", "k", "cold", 40, 70),
      Span(6, 4, "job", "k", "cold", 60, 90),
      Span(7, 5, "stage", "k", "cold", 45, 65))
    val self = Trace.selfMs(spans)
    assert(self(1) == 0.0)
    assert(self(2) == 10.0)
    assert(self(3) == 20.0)
    assert(self(4) == 20.0)
    assert(self(5) == 10.0)
    assert(self(6) == 30.0)
    assert(self(7) == 20.0)
    // overlapping siblings each keep their own self time: jobs 5 and 6 both
    // count 60..70, so the self times add up to more than the key's 100
    assert(self.values.sum == 110.0)
    val byName = Trace.selfByName(spans)
    assert(byName("job") == 0.06)
    assert(byName("exec") == 0.02)
    assert(!byName.contains("pass"))
  }

  test("a child reaching outside its parent only counts inside it") {
    val spans = Seq(Span(1, 0, "exec", "k", "warm1", 10, 20),
      Span(2, 1, "stream.batch", "k", "warm1", 15, 40))
    assert(Trace.selfMs(spans)(1) == 5.0)
  }

  test("the tracer hands out ids and keeps spans recorded after their end") {
    val t = new Tracer
    val root = t.newId()
    val child = t.add(root, "key", "k", "cold", 1, 2)
    t.record(Span(root, 0, "run", "", "", 0, 3))
    assert(child != root)
    assert(t.spans.map(_.id).toSet == Set(root, child))
    assert(t.spans.find(_.id == child).get.parent == root)
  }
}
