package graft.perfbench

/** One client request of the serve_mixed loop. Every field is drawn
  * from the workload seed; the engine only ever sees the values. */
sealed trait Request { def id: Long }

/** Exact dense `search(k = 5)`; `labels` empty means unfiltered. */
final case class Exact(id: Long, vec: Array[Float], labels: Seq[Int]) extends Request

/** `searchAnn(nprobe = 4)` reusing the vector and filter of the exact
  * request `pairedWith`, which directly precedes it. */
final case class Ann(id: Long, pairedWith: Long, vec: Array[Float], labels: Seq[Int])
  extends Request

/** `searchMaxSim(k = 5)` with a query text embedded through the model
  * seam. */
final case class MaxSim(id: Long, text: String) extends Request

/** `searchBatch` of 64 query vectors. */
final case class Batch(id: Long, vecs: Seq[Array[Float]]) extends Request

/** A write of fresh points: `upsertIncremental` + `upsertAnnIndex`. */
final case class Write(id: Long, points: Seq[(Long, Array[Float], Int)]) extends Request

/** The seeded serve_mixed request generator. Each cycle of 40 requests
  * holds 16 exact searches (8 of them followed by their ANN twin), 12
  * MaxSim searches, 2 batch searches and 2 writes, in a seeded order. */
object Mix {
  val CycleLen = 40
  val BatchSize = 64
  val WriteSize = 64
  val Labels = 16
  /** Ids of written points start here, clear of every corpus id. */
  val WriteIdBase = 4000000000L

  /** A request's shape, before its values are drawn. */
  private sealed trait Slot
  private case object ExactAnn extends Slot
  private case object ExactOnly extends Slot
  private case object MaxSimSlot extends Slot
  private case object BatchSlot extends Slot
  private case object WriteSlot extends Slot

  private val cycleSlots: Seq[Slot] =
    Seq.fill(8)(ExactAnn) ++ Seq.fill(8)(ExactOnly) ++ Seq.fill(12)(MaxSimSlot) ++
      Seq.fill(2)(BatchSlot) ++ Seq.fill(2)(WriteSlot)

  /** `cycles` cycles of requests for `seed`. Query vectors are stored
    * vectors from `pool` plus seeded noise; query texts draw from
    * `vocab`; written points are fresh seeded vectors with fresh ids. */
  def generate(
      seed: Long, cycles: Int, pool: IndexedSeq[Array[Float]],
      vocab: IndexedSeq[String]): IndexedSeq[Request] = {
    require(pool.nonEmpty && vocab.nonEmpty, "the mix needs vectors and words to draw from")
    val rnd = new scala.util.Random(seed)
    val dim = pool.head.length
    var nextId = 0L
    var nextPoint = WriteIdBase
    def id(): Long = { nextId += 1; nextId }
    def query(): Array[Float] = {
      val base = pool(rnd.nextInt(pool.size))
      Array.tabulate(dim)(i => base(i) + 0.05f * rnd.nextGaussian().toFloat)
    }
    def labels(): Seq[Int] = rnd.nextInt(3) match {
      case 0 => Nil
      case 1 => Seq(rnd.nextInt(Labels))
      case _ => rnd.shuffle((0 until Labels).toList).take(3).sorted
    }
    (0 until cycles).flatMap { _ =>
      rnd.shuffle(cycleSlots).flatMap {
        case ExactAnn =>
          val e = Exact(id(), query(), labels())
          Seq(e, Ann(id(), e.id, e.vec, e.labels))
        case ExactOnly => Seq(Exact(id(), query(), labels()))
        case MaxSimSlot =>
          Seq(MaxSim(id(), Seq.fill(6 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
        case BatchSlot => Seq(Batch(id(), Seq.fill(BatchSize)(query())))
        case WriteSlot =>
          Seq(Write(id(), Seq.fill(WriteSize) {
            nextPoint += 1
            (nextPoint, query(), rnd.nextInt(Labels))
          }))
      }
    }
  }
}
