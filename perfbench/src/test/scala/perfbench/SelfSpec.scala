package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic and generators. No Spark. */
class SelfSpec extends AnyFunSuite {

  test("tail: the highest percentile with ten samples above it, with its count") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val t11 = Stats.tail((1 to 11).map(_.toDouble).reverse).get
    assert(t11.value == 1.0 && t11.n == 11)
    assert(math.abs(t11.percentile - 100.0 / 11) < 1e-9)
    val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t100 == Stats.Tail(90.0, 90.0, 100))
    // exactly ten samples lie above the picked value
    val xs = Seq.tabulate(37)(i => (i * 7919 % 37).toDouble)
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == 10)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("union of job intervals counts overlaps once and skips empty ones") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    assert(Stats.unionLength(Seq((10L, 20L), (20L, 30L))) == 20L)
    assert(Stats.coveredWithin(10L, 20L, Seq((0L, 12L), (18L, 40L))) == 4L)
  }

  test("driver gap: op wall not covered by its jobs") {
    // op 0..100, jobs cover 10..40 and 30..60 -> 50 covered, 50 gap
    assert(Stats.driverGapFrac(0L, 100L, Seq((10L, 40L), (30L, 60L))) == 0.5)
    // jobs outside the op do not count
    assert(Stats.driverGapFrac(0L, 100L, Seq((-50L, 0L), (100L, 200L))) == 1.0)
    assert(Stats.driverGapFrac(0L, 100L, Seq((-5L, 105L))) == 0.0)
  }

  test("span self time subtracts the union of its direct children") {
    val spans = Seq(
      Span(1, 1, 0, "op", 0, 100),
      Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 50),   // overlaps a
      Span(4, 1, 3, "b.inner", 31, 49),
      Span(5, 1, 1, "late", 90, 120) // runs past its parent: clipped
    )
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 30)
    assert(self(3) == 20 - 18)
    assert(self(4) == 18)
    assert(self(5) == 30)
  }

  test("stage skew is slowest over median task, 1 for a single task") {
    assert(StageAcc(3, 0, 0, 0, Seq(10L, 20L, 60L)).skew == 3.0)
    assert(StageAcc(1, 0, 0, 0, Seq(10L)).skew == 1.0)
  }

  test("generators: the same seed gives the same content hash, another seed another") {
    assert(Inputs.eventsHash(Inputs.events(7, 2, 100)) == Inputs.eventsHash(Inputs.events(7, 2, 100)))
    assert(Inputs.eventsHash(Inputs.events(7, 2, 100)) != Inputs.eventsHash(Inputs.events(8, 2, 100)))
    assert(Inputs.docsHash(Inputs.documents(7, 200)) == Inputs.docsHash(Inputs.documents(7, 200)))
    assert(Inputs.docsHash(Inputs.documents(7, 200)) != Inputs.docsHash(Inputs.documents(8, 200)))
    assert(Inputs.vecsHash(Inputs.vectors(7, 0, 50, 8, 4)) == Inputs.vecsHash(Inputs.vectors(7, 0, 50, 8, 4)))
    assert(Inputs.vecsHash(Inputs.vectors(7, 0, 50, 8, 4)) != Inputs.vecsHash(Inputs.vectors(8, 0, 50, 8, 4)))
    assert(Inputs.permutation(7, 50).sorted.sameElements(0 until 50))
    assert(!Inputs.permutation(7, 50).sameElements(Inputs.permutation(8, 50)))
  }

  test("generated events: unique ids, rows on their day, expected L2 is the distinct key count") {
    val es = Inputs.events(3, 3, 500)
    assert(es.map(_.eventId).distinct.length == es.length)
    val exp = Inputs.expectedL2Rows(es)
    assert(exp.keySet == Set("2024-01-01", "2024-01-02", "2024-01-03"))
    val day2 = es.slice(500, 1000)
    assert(exp("2024-01-02") == day2.map(e => (e.userId, e.eventType)).distinct.length)
  }

  test("exact top-k excludes the query and ranks by cosine") {
    val vs = Inputs.vectors(5, 0, 60, 8, 3)
    val top = Inputs.exactTopK(vs.head, vs, 5)
    assert(top.length == 5 && !top.contains(vs.head.vecId))
    def cos(a: Inputs.Vec, b: Inputs.Vec) = a.embedding.zip(b.embedding).map { case (x, y) => x.toDouble * y }.sum
    val ranked = top.map(id => cos(vs.head, vs(id.toInt)))
    assert(ranked == ranked.sorted.reverse)
  }
}
