package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Pure arithmetic the benchmark reports and checks with: percentiles,
  * the tail-percentile rule, recall, and the brute-force top-k oracle
  * for exact dense search. No Spark here, so the self-tests cover it
  * directly. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  /** Candidate percentiles for a tail, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[TailLadder]] that still has at least
    * `beyond` samples above it among `n` samples; None when even the
    * median does not. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.filter(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9).lastOption

  /** recall@k of one approximate answer against its exact answer: the
    * share of the exact ids the approximate answer also returned. An
    * empty exact answer (a filter matching nothing) is perfectly
    * recalled. */
  def recall(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0
    else exact.toSet.intersect(approx.toSet).size.toDouble / exact.size

  /** Mean recall over request pairs. */
  def meanRecall(pairs: Seq[(Seq[Long], Seq[Long])]): Double =
    if (pairs.isEmpty) 1.0
    else pairs.map { case (a, e) => recall(a, e) }.sum / pairs.size

  /** Spark's `round(x, 6)` on a double (HALF_UP over the decimal
    * rendering). */
  def round6(x: Double): Double =
    new JBigDecimal(java.lang.Double.toString(x)).setScale(6, RoundingMode.HALF_UP).doubleValue

  /** Cosine over float vectors with the engine kernel's fold: one
    * left-to-right pass accumulating dot and both squared norms in
    * doubles; None for a zero-norm side (the kernel returns NULL). */
  def cosine(a: Array[Float], b: Array[Float]): Option[Double] = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) None else Some(dot / denom)
  }

  /** Client-side exact top-k: score every row with [[cosine]], round
    * like the engine, rank score DESC then id ASC. */
  def bruteTopK(
      rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[(Long, Double)] =
    rows.iterator
      .flatMap { case (id, v) => cosine(v, q).map(s => (id, round6(s))) }
      .toSeq
      .sortBy { case (id, s) => (-s, id) }
      .take(k)

  /** Whether an engine answer equals the brute-force answer: same
    * length, same scores to 1e-6, and the same ids wherever the score
    * is not tied with a neighbour (a tie at the k-th place may resolve
    * to either id only if the scores agree). */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      math.abs(gs - ws) <= 1e-6 && (gi == wi || want.count(w => math.abs(w._2 - ws) <= 1e-6) > 1)
    }
}
