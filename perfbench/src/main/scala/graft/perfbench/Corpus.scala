package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ScaleData

/** Corpus size: `copies` ScaleData copies of a seeded base of
  * `baseDocs` documents and `baseVecs` 64-d vectors. */
final case class CorpusSpec(baseDocs: Int, baseVecs: Int, copies: Int) {
  def docs: Long = baseDocs.toLong * copies
  def vecs: Long = baseVecs.toLong * copies
}

/** Row counts of one synthesized corpus. */
final case class CorpusCounts(documents: Long, embeddings: Long)

/** Seeded corpus synthesis. The base tables have the fixture schemas
  * (`documents`: doc_id, text, lang, source, n_chars; `embeddings`:
  * vec_id, embedding array<float>, label) and are drawn from the seed;
  * [[ScaleData]]'s per-copy transforms then widen them the way the
  * engine's own scale corpora are built. */
object Corpus {
  val Dim = 64
  /** The fixture's vocabulary: texts are bags of these words. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")
  private val Sources = 20
  private val Centers = 24

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def baseDocs(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed * 31 + 1)
    val rows = (0 until n).map { i =>
      val text = Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      Row(i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(Sources)}",
        text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), docSchema)
  }

  /** Vectors around seeded cluster centres, labels independent of the
    * cluster (so label filters cut across the geometry). */
  def baseVecs(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed * 31 + 2)
    val centers = Array.fill(Centers)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until n).map { i =>
      val c = centers(rnd.nextInt(Centers))
      val v = Array.tabulate(Dim)(d => c(d) + 0.6f * rnd.nextGaussian().toFloat)
      Row(i.toLong, v.toSeq, rnd.nextInt(Mix.Labels))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), vecSchema)
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`:
    * the union of `spec.copies` ScaleData copies of the seeded bases. */
  def synthesize(spark: SparkSession, seed: Long, spec: CorpusSpec, dir: String): CorpusCounts = {
    def build(name: String, base: DataFrame, copy: (DataFrame, Int) => DataFrame): Long = {
      (0 until spec.copies).map(copy(base, _)).reduce(_ unionByName _)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      spark.read.parquet(s"$dir/$name.parquet").count()
    }
    CorpusCounts(
      build("documents", baseDocs(spark, seed, spec.baseDocs), ScaleData.docsCopy),
      build("embeddings", baseVecs(spark, seed, spec.baseVecs), ScaleData.embCopy))
  }

  /** Split `documents` into `n` arrival batches by a seeded hash of the
    * id, written in one pass as `dir/batches/batch=b`; returns the batch
    * directories in arrival order. */
  def splitBatches(spark: SparkSession, seed: Long, dir: String, n: Int): Seq[String] = {
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("batch", pmod(xxhash64(col("doc_id"), lit(seed)), lit(n.toLong)))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/batches")
    (0 until n).map(b => s"$dir/batches/batch=$b")
  }
}
