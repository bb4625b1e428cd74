package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val (pct11, v11, n11) = Stats.tail((1 to 11).reverse.map(_.toDouble)).get
    assert(v11 == 1.0 && n11 == 11)
    assert(math.abs(pct11 - 100.0 / 11) < 1e-9)
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val (pct, v, n) = Stats.tail(xs).get
    assert(pct == 90.0 && n == 100)
    assert(v == 90.0)
    assert(xs.count(_ > v) == 10)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the tax CSV generator is deterministic for a seed") {
    val a = TaxGen.generate(7, 2000)
    val b = TaxGen.generate(7, 2000)
    assert(a == b)
    assert(TaxGen.generate(8, 2000).text != a.text)
    assert(a.dataLines == 2000 && a.malformed == 40)
    val lines = a.text.linesIterator.toSeq
    assert(lines.head == TaxGen.header && lines.length == 2001)
  }

  test("the tax CSV covers every state, an unknown code and no-tax states") {
    val rows = TaxGen.generate(3, 20000).text.linesIterator.drop(1).map(_.split(",", -1)).toSeq
    val states = rows.filter(_.length == 7).map(_(3).trim.toUpperCase).toSet
    assert(TaxGen.states.forall(states))
    assert(states(TaxGen.unknownState))
    assert(TaxGen.states.length == 51)
  }

  test("the catalog_heavy order is a seeded rotation of the query list") {
    val list = Seq("a", "b", "c")
    val orders = (1 to 30).map(seed => CatalogHeavy.rotate(list, new scala.util.Random(seed)))
    assert(orders.toSet == Set(Seq("a", "b", "c"), Seq("b", "c", "a"), Seq("c", "a", "b")))
    assert(CatalogHeavy.rotate(list, new scala.util.Random(5)) == orders(4))
  }

  test("self time subtracts the union of child intervals clipped to the parent") {
    val spans = Seq(
      Span(0, -1, 0, "op", 0, 100),
      Span(1, 0, 0, "a", 10, 30),
      Span(2, 0, 0, "b", 20, 40),  // overlaps a
      Span(3, 0, 0, "c", 90, 120), // runs past the parent
      Span(4, 1, 0, "d", 12, 18))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 30 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 20 && self(3) == 30 && self(4) == 6)
    assert(Trace.selfByName(spans)("op") == 60 / 1e9)
  }

  test("the tracer nests spans opened inside each other") {
    val t = new Tracer
    t.op = 3
    t.span("outer") { t.span("inner")(()) }
    val Seq(inner, outer) = t.all
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.op == 3 && outer.start <= inner.start && inner.end <= outer.end)
  }
}
