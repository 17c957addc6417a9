package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure pieces: order statistics, span self time and
  * the seeded generators. No Spark session.
  */
class PureSpec extends AnyFunSuite {

  test("nearest-rank percentile returns an observed sample") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 90) == 5.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 20) == 1.0)
    assert(Stats.percentile(xs, 21) == 2.0)
    // p90 of ten samples is the ninth, not an interpolation toward the tenth
    assert(Stats.percentile((1 to 10).map(_.toDouble), 90) == 9.0)
    assert(Stats.percentile(Seq(7.0), 50) == 7.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  test("median averages the two middle samples of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("interval union counts overlaps once and skips empty intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(1, 1, "unit", 0, 0L, 10000000000L),
      Span(2, 1, "A.x", 1, 1000000000L, 4000000000L),
      Span(3, 1, "A.x", 1, 3000000000L, 5000000000L), // overlaps its sibling
      Span(4, 1, "B.y", 3, 3500000000L, 4500000000L), // grandchild of unit
      Span(5, 1, "B.y", 1, 9000000000L, 11000000000L)) // runs past its parent
    val self = Trace.selfSeconds(spans)
    assert(self("unit") == 10.0 - 4.0 - 1.0)
    assert(self("A.x") == 3.0 + (2.0 - 1.0))
    assert(self("B.y") == 1.0 + 2.0)
  }

  test("traced spans nest and share the operation id") {
    val t = new Trace
    t.newOp()
    t.span("unit")(t.span("A.x")(()))
    val Seq(child, parent) = t.recorded
    assert(child.parent == parent.id && parent.parent == 0L)
    assert(child.op == parent.op && child.op != 0L)
  }

  test("generators are a pure function of the seed") {
    assert(Gen.orders(7L, 500) == Gen.orders(7L, 500))
    assert(Gen.orders(7L, 500) != Gen.orders(8L, 500))
    val o = Gen.orders(7L, 500)
    assert(o.map(_.o_orderkey).distinct.size == 500)
    assert(o.map(_.o_orderkey) == o.map(_.o_orderkey).sorted)
    val names = (1 to 20).map(i => s"q$i")
    assert(Gen.queryOrder(3L, names) == Gen.queryOrder(3L, names))
    assert(Gen.queryOrder(3L, names).sorted == names.sorted)
    assert(Gen.queryOrder(3L, names) != Gen.queryOrder(4L, names))

    def script(seed: Long) = {
      val g = new DmlGen(seed, o.map(_.o_orderkey))
      val m = g.merge(5, 3, 2)
      val (mod, r) = g.predicate(7)
      (m, mod, r, g.deleteWhere(mod, r), g.lookupKey(), g.liveCount)
    }
    assert(script(11L) == script(11L))
    assert(script(11L) != script(12L))
  }

  test("the DML model keeps merges on disjoint live keys and new inserts") {
    val g = new DmlGen(1L, 1L to 100L)
    val m = g.merge(10, 5, 5)
    assert(m.map(_.id).distinct.size == 20)
    val byOp = m.groupBy(_.op).view.mapValues(_.map(_.id)).toMap
    assert(byOp("update").forall(_ <= 100L) && byOp("delete").forall(_ <= 100L))
    assert(byOp("insert").forall(_ > 100L))
    assert(g.liveCount == 100)
    val removed = g.deleteWhere(10, 3)
    assert(g.liveCount == 100 - removed)
    assert(g.countWhere(10, 3) == 0)
  }
}
