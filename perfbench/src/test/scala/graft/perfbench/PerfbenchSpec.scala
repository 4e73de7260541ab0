package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own arithmetic and input generation
  * (no Spark): run with `sbt test` from the benchmark directory. */
class PerfbenchSpec extends AnyFunSuite {

  private val pool = {
    val rnd = new scala.util.Random(7)
    IndexedSeq.fill(50)(Array.fill(Corpus.Dim)(rnd.nextGaussian().toFloat))
  }

  /** A request rendered with its arrays by value, so mixes compare. */
  private def describe(r: Request): String = r match {
    case Exact(i, v, l) => s"E$i:${v.mkString(",")}:${l.mkString(",")}"
    case Ann(i, p, v, l) => s"A$i<$p:${v.mkString(",")}:${l.mkString(",")}"
    case MaxSim(i, t) => s"M$i:$t"
    case Batch(i, vs) => s"B$i:${vs.map(_.mkString(",")).mkString(";")}"
    case Write(i, ps) => s"W$i:${ps.map { case (p, v, l) => s"$p/${v.mkString(",")}/$l" }.mkString(";")}"
  }

  private def mix(seed: Long) = Mix.generate(seed, 3, pool, Corpus.Vocab).map(describe)

  test("the same seed yields the same request mix; another seed another") {
    assert(mix(42) == mix(42))
    assert(mix(42) != mix(43))
  }

  test("every cycle holds the specified request counts, each ANN right after its exact twin") {
    val reqs = Mix.generate(5, 4, pool, Corpus.Vocab)
    assert(reqs.size == 4 * Mix.CycleLen)
    reqs.grouped(Mix.CycleLen).foreach { cycle =>
      assert(cycle.count(_.isInstanceOf[Exact]) == 16)
      assert(cycle.count(_.isInstanceOf[Ann]) == 8)
      assert(cycle.count(_.isInstanceOf[MaxSim]) == 12)
      assert(cycle.count(_.isInstanceOf[Batch]) == 2)
      assert(cycle.count(_.isInstanceOf[Write]) == 2)
    }
    reqs.zip(reqs.drop(1)).foreach {
      case (e: Exact, a: Ann) =>
        assert(a.pairedWith == e.id && a.vec.sameElements(e.vec) && a.labels == e.labels)
      case (_, a: Ann) => fail(s"ANN request ${a.id} does not follow its exact twin")
      case _ =>
    }
    val written = reqs.collect { case w: Write => w.points.map(_._1) }.flatten
    assert(written.distinct.size == written.size && written.forall(_ > Mix.WriteIdBase))
  }

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 100.0)
    assert(Stats.percentile(xs, 95) == 190.0)
    assert(Stats.percentile(Seq(3.0), 95) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("recall arithmetic") {
    assert(Stats.recall(Seq(1L, 2L, 3L, 4L, 5L), Seq(1L, 2L, 3L, 4L, 5L)) == 1.0)
    assert(Stats.recall(Seq(1L, 2L, 9L, 8L, 7L), Seq(1L, 2L, 3L, 4L, 5L)) == 0.4)
    assert(Stats.recall(Seq(5L, 4L, 3L), Seq(3L, 4L, 5L)) == 1.0)
    assert(Stats.recall(Seq(1L), Nil) == 1.0)
    assert(Stats.recall(Nil, Seq(1L, 2L)) == 0.0)
    assert(Stats.meanRecall(Seq((Seq(1L), Seq(1L, 2L)), (Seq(3L, 4L), Seq(3L, 4L)))) == 0.75)
  }

  test("brute-force top-k ranks score DESC, id ASC, rounded like the engine") {
    val rows = Seq(
      (3L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (4L, Array(0f, 0f)))
    val top = Stats.bruteTopK(rows, Array(1f, 0f), 3)
    assert(top == Seq((1L, 1.0), (3L, 1.0), (2L, 0.0)))
    assert(Stats.sameTopK(top, top))
    assert(!Stats.sameTopK(top.take(2), top))
    assert(Stats.round6(0.1234565) == 0.123457)
  }
}
